"""Incremental, checkpoint-resumable index build (SURVEY.md §3.1/§3.3, M5).

The Spark re-expression of the reference's `make all` DAG
(/root/reference/Makefile:16-49): the per-partition ingest rules with their
`touch events/updated_date=%` checkpoints (Makefile:57-66) become an anti-join
of source partitions against the `lineage` table; the FAISS fill that appends
row ids to each on-disk inverted list (Makefile:24-25) becomes a postings
GENERATION: every text write (:func:`build_index`, the streaming epochs of
streaming/incremental.py, :func:`build_doc_index`) runs the one ingest body
:func:`ingest`, which encodes its posting lists once and stores them as
``postings/gen=G``. Write order is postings, docmap, then lineage (lineage
last = commit marker), so a crash anywhere leaves a state the next run
resumes from — the `make recover` property (Makefile:98-101): postings
generations + docmap + lineage are the complete checkpoint.

Everything else is DERIVED by :func:`merge_index` as an idempotent function
of committed data: the dictionary (one ``gen=G`` delta per postings
generation), the one-row stats (lineage sums) and params.json (written last;
readers see only generations below its ``next_gen``).

Index layout under ``index_dir`` (the Iceberg path is a config flip — this
facade only reads/writes whole tables):

    postings/gen=G/bucket=B/  encoded posting lists (+ block-max metadata)
    docmap/src_part=K/        (doc_id, conv_id, doclen)
    lineage/gen=G/            (src_part, n_convs, n_turns, n_docs, n_tokens,
                               max_doc_id, n_postings, n_term_rows, wall_sec, ts)
    dictionary/gen=G/         (term_id, df, bucket) — df summed across gens
    stats/                    (n_docs, avgdl, total_tokens)
    params.json               contract + k1/b/block_size/next_gen/n_terms
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import B_BM25, K1
from ..codecs.postings import BLOCK_SIZE
from ..frames import local_frame
from ..functions.tokenize import doclen_expr, get_tokenizer
from ..operators.assemble import assemble_documents
from ..operators.docids import assign_doc_ids
from ..operators.postings import (
    DEFAULT_BUCKETS,
    DEFAULT_SHARD_DOCS,
    POSTINGS_TABLE,
    PartCounts,
    build_segments_packed,
    merge_segments,
    pack_doc_tokens,
)
from ..sources.tables import (
    commit,
    commit_generation,
    generations,
    read_table,
    scrub_orphan_generations,
    table_exists,
    write_params,
)
from ..sources.transcripts import load_transcripts

# bumped whenever the on-disk artifact schema changes
# (2 = int64 term_id keys; 3 = generation-stacked postings/gen=G/bucket=B;
#  4 = params.json carries n_terms + max_generations; 5 = optional positional
#  stream columns pos_bin/pos_offs; 6 = one posting store: every write is a
#  postings generation, lineage/gen=G is its commit marker, the dictionary is
#  stacked by generation, params.json records buckets/shard_docs as contract).
# Indexes of another format are refused (check_format) — re-ingest them.
INDEX_FORMAT = 6

# generation fan-out bound: every (term, shard) gains at most one postings row
# per sync, so query-time rows grow linearly with generations — once a sync
# pushes past this many, merge_index folds everything back to gen=0
DEFAULT_MAX_GENERATIONS = 8

# dictionary row-group size: each generation's delta is written range-
# partitioned and sorted by term_id, so IndexReader.lookup_terms' pushed
# In(term_id,…) predicate (used above the driver-side cache) prunes files and
# row groups to those holding the query's terms instead of the vocabulary
DICT_ROW_GROUP_BYTES = 16 << 10
# postings row-group size. Bucket files keep the encoder's row order, not a
# term_id sort (term_id-sorted postings measured 6–7% larger: df/first_doc/
# last_doc lose their dictionary runs), so the pushed In(term_id,…) prunes
# row groups only where that order happens to separate term ranges
POSTINGS_ROW_GROUP_BYTES = 8 << 20

_LINEAGE_SCHEMA = (
    "src_part int, n_convs long, n_turns long, n_docs long, n_tokens long, "
    "max_doc_id long, n_postings long, n_term_rows long, wall_sec double"
)
_STATS_SCHEMA = "n_docs long, avgdl double, total_tokens long"

# each table as read back (read_table's ``schema``): its data columns, then
# its directory partitions. Declaring them spares every read the Spark job
# that infers a schema from a parquet footer.
LINEAGE_TABLE = f"{_LINEAGE_SCHEMA}, ts timestamp, gen int"
DOCMAP_TABLE = "doc_id long, conv_id string, doclen int, src_part int"
DICTIONARY_TABLE = "term_id long, df long, bucket int, gen int"
STATS_TABLE = _STATS_SCHEMA


def list_source_partitions(transcripts_dir: str) -> list[int]:
    return sorted(
        int(m.group(1))
        for d in os.listdir(transcripts_dir)
        if (m := re.fullmatch(r"part=(\d+)", d))
    )


def committed_lineage(spark: SparkSession, index_dir: str) -> list:
    """The lineage rows — one per committed source partition, so collecting
    them is O(partitions) — with the columns the build derives from: the
    pending set, the next doc id and the stats sums. One scan serves all."""
    if not table_exists(index_dir, "lineage"):
        return []
    return (
        read_table(spark, index_dir, "lineage", LINEAGE_TABLE)
        .select("src_part", "n_docs", "n_tokens", "max_doc_id")
        .collect()
    )


def pending_partitions(spark: SparkSession, transcripts_dir: str, index_dir: str) -> list[int]:
    """Incremental set difference (SURVEY.md §2.7 U1): source partitions
    without a lineage row."""
    return _pending(transcripts_dir, committed_lineage(spark, index_dir))


def _pending(transcripts_dir: str, lineage: list) -> list[int]:
    done = {r["src_part"] for r in lineage}
    return [p for p in list_source_partitions(transcripts_dir) if p not in done]


def next_doc_id(lineage: list) -> int:
    """The first doc id after every committed partition's documents."""
    return max((r["max_doc_id"] for r in lineage if r["max_doc_id"] is not None), default=-1) + 1


def check_format(p: dict, index_dir: str) -> None:
    """Format-stamp gate (ingest, merge and IndexReader attach): an index of
    another format fails with a re-ingest message instead of an opaque read
    error on a table the old layout lacks."""
    if p.get("format") != INDEX_FORMAT:
        raise ValueError(
            f"text index at {index_dir} is format {p.get('format')} "
            f"(current {INDEX_FORMAT}); re-ingest into a fresh index_dir"
        )


def check_contract(index_dir: str, **contract) -> dict:
    """The one index-wide contract gate. ``tokenizer``, ``positions``,
    ``buckets`` and ``shard_docs`` are fixed at first ingest: rows encoded
    under another setting could not be read consistently with the standing
    ones (a term's postings would sit in another bucket; a query would be
    tokenized differently; merged rows would mix position streams) — so a
    mismatched write is refused here, before it writes anything. Returns the
    params on disk ({} for a new index)."""
    if "tokenizer" in contract:
        get_tokenizer(contract["tokenizer"])  # fail fast on an unknown name
    path = os.path.join(index_dir, "params.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        prev = json.load(f)
    check_format(prev, index_dir)
    for key, want in contract.items():
        if prev.get(key) != want:
            arg = "with_positions" if key == "positions" else key
            raise ValueError(
                f"index at {index_dir} was built with {arg}={prev.get(key)!r}; "
                f"pass {arg}={prev.get(key)!r} (or re-ingest into a fresh "
                "index_dir to change the contract)"
            )
    return prev


def documents(turns: DataFrame, tokenizer: str) -> DataFrame:
    """turns(conv_id, turn_idx, text, src_part) -> one document per
    conversation (conv_id, document, n_turns, src_part, doclen), dropping
    documents that are empty after tokenization — the analog of the
    reference's empty-abstract drop (oa_jsonl.c:386-391).

    doclen rides along from assembly: token counts are additive across
    space-joined turns (the separator can never merge two tokens), so
    sum(per-turn count) == count(document) — no re-scan of the documents."""
    return assemble_documents(
        turns,
        F.first("src_part").alias("src_part"),
        F.sum(doclen_expr("text", tokenizer=tokenizer)).cast("int").alias("doclen"),
    ).filter(F.col("doclen") > 0)


def ingest(
    docs: DataFrame,
    index_dir: str,
    parts: list[int],
    buckets: int,
    shard_docs: int,
    positions: bool,
    tokenizer: str,
    start: int = 0,
) -> dict:
    """The one text write: commit ``docs`` (conv_id, document, n_turns,
    src_part, doclen[, doc_id]) as source partitions ``parts`` in ONE new
    postings generation. Returns {"n_docs", "n_turns"}.

    1. scrub the output of a crashed earlier write: postings/dictionary
       generations without a lineage row, and the docmap of ``parts``;
    2. assign doc ids from ``start`` (:func:`next_doc_id`) on, unless
       ``docs`` carries them;
    3. encode each posting list once (pack_doc_tokens → build_segments_packed)
       straight into ``postings/gen=G`` — the per-part lineage numbers are
       counted by the encoder, nothing is read back;
    4. append the docmap, then the lineage rows — one write per generation,
       the commit marker (reference: `touch $@`, Makefile:66).

    The caller has run :func:`check_contract`; the first ingest records the
    contract in a params.json stub before it writes any data, so a later bare
    merge_index() honors it. Readers see the generation only after
    merge_index derives its dictionary and moves params.json's next_gen."""
    t0 = time.time()
    spark = docs.sparkSession
    params_path = os.path.join(index_dir, "params.json")
    if not os.path.exists(params_path):
        os.makedirs(index_dir, exist_ok=True)
        write_params(params_path, {
            "format": INDEX_FORMAT, "tokenizer": tokenizer, "positions": positions,
            "buckets": buckets, "shard_docs": shard_docs, "contract_only": True,
        })
    committed = generations(index_dir, "lineage")
    gen = committed[-1] + 1 if committed else 0
    for name in ("postings", "dictionary"):
        scrub_orphan_generations(index_dir, name, gen)
    for p in parts:
        d = os.path.join(index_dir, "docmap", f"src_part={p}")
        if os.path.exists(d):
            shutil.rmtree(d)

    docs = docs.persist()
    held = [docs]  # released in the finally, also when a write raises
    try:
        if "doc_id" in docs.columns:
            ids, fat = docs.drop("document"), docs
        else:
            # ids are assigned on a SKINNY projection (conv_id + scalars) so the
            # range shuffle never moves document payloads
            ids, ranged = assign_doc_ids(docs.drop("document"), start=start)
            ids = ids.persist()
            held += [ranged, ids]
            fat = docs.select("conv_id", "document").join(ids, "conv_id")

        # tokenize + per-doc tf + bucketing happen in ONE Arrow pass, so the
        # exchange into the encoder moves packed (doc, bucket) array rows instead
        # of one row per token occurrence
        counts = spark.sparkContext.accumulator({}, PartCounts())
        packed = pack_doc_tokens(
            fat.select("doc_id", "src_part", "doclen", "document"),
            buckets=buckets, shard_docs=shard_docs,
            with_positions=positions, tokenizer=tokenizer,
        )
        # one file per bucket dir (file count is driver-serial cost), rows in
        # the encoder's order (smaller than a term_id sort, see
        # POSTINGS_ROW_GROUP_BYTES); the varint blobs are high-entropy, so no
        # general-purpose compression
        commit_generation(build_segments_packed(packed, counts), index_dir, "postings", gen,
                          partition_by=["bucket"], repartition_by=["bucket"],
                          compression="uncompressed", row_group_bytes=POSTINGS_ROW_GROUP_BYTES)
        commit(ids.select("doc_id", "conv_id", "doclen", "src_part"), index_dir,
               "docmap", mode="append", partition_by=["src_part"], repartition_by=["src_part"])
        per_part = {
            r["src_part"]: r
            for r in ids.groupBy("src_part").agg(
                F.countDistinct("conv_id").alias("n_convs"),
                F.sum("n_turns").alias("n_turns"),
                F.count("*").alias("n_docs"),
                F.sum("doclen").alias("n_tokens"),
                F.max("doc_id").alias("max_doc_id"),
            ).collect()
        }
    finally:
        for df in held:
            df.unpersist()

    wall = (time.time() - t0) / len(parts)
    lineage = []
    for p in parts:
        r = per_part.get(p)
        nums = [int(r[c]) for c in ("n_convs", "n_turns", "n_docs", "n_tokens")] if r else [0] * 4
        max_doc = int(r["max_doc_id"]) if r else None
        lineage.append((int(p), *nums, max_doc, *counts.value.get(p, (0, 0)), wall))
    commit_generation(
        local_frame(spark, lineage, _LINEAGE_SCHEMA).withColumn("ts", F.current_timestamp()),
        index_dir, "lineage", gen,
    )
    return {"n_docs": sum(r[3] for r in lineage), "n_turns": sum(r[2] for r in lineage)}


def build_index(
    spark: SparkSession,
    transcripts_dir: str,
    index_dir: str,
    buckets: int = DEFAULT_BUCKETS,
    shard_docs: int = DEFAULT_SHARD_DOCS,
    max_parts: int | None = None,
    skip_merge: bool = False,
    with_positions: bool = False,
    tokenizer: str = "ascii",
) -> dict:
    """Ingest pending source partitions as one postings generation, then
    merge. Returns metrics.

    ``with_positions`` adds the positional varint stream to every posting
    (phrase queries); off by default — the throughput build path carries no
    position bytes through its exchanges. ``tokenizer`` selects the named
    token contract (functions/tokenize.TOKENIZERS; "unicode" for non-Latin
    corpora). Both, and ``buckets``/``shard_docs``, are INDEX-WIDE contracts
    fixed at first ingest (:func:`check_contract`)."""
    t0 = time.time()
    contract = dict(buckets=buckets, shard_docs=shard_docs,
                    positions=bool(with_positions), tokenizer=tokenizer)
    check_contract(index_dir, **contract)
    lineage = committed_lineage(spark, index_dir)
    pending = _pending(transcripts_dir, lineage)
    if max_parts is not None:
        pending = pending[:max_parts]
    metrics: dict = {"pending_parts": len(pending), "n_turns": 0, "n_docs": 0}
    if pending:
        t = load_transcripts(spark, transcripts_dir, pending)
        docs = documents(t.withColumnRenamed("part", "src_part"), tokenizer)
        metrics.update(ingest(docs, index_dir, pending, **contract, start=next_doc_id(lineage)))
    if not skip_merge:
        merge_index(spark, index_dir, buckets=buckets, shard_docs=shard_docs,
                    tokenizer=tokenizer)

    metrics["wall_sec"] = time.time() - t0
    metrics["turns_per_sec"] = metrics["n_turns"] / metrics["wall_sec"] if metrics["n_turns"] else 0.0
    return metrics


def build_doc_index(
    docs: DataFrame,
    index_dir: str,
    buckets: int = DEFAULT_BUCKETS,
    shard_docs: int = DEFAULT_SHARD_DOCS,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_positions: bool = True,
    tokenizer: str = "ascii",
) -> None:
    """One-shot index build over a pre-assembled documents table
    (id, text) — the persisted-index path for the flagship query: build ONCE,
    then every query goes through IndexReader (bucket partition pruning +
    pushed term predicates) instead of re-tokenizing the corpus per call.

    The documents keep their own ids and are ingested as source partition 0
    through the same :func:`ingest` + :func:`merge_index` as build_index
    (docmap's conv_id is the stringified doc_id); rerunning over a committed
    index only completes its merge. Positions are ON by default here (the
    doc index serves phrase queries too); the incremental transcripts build
    (build_index) defaults them off.
    """
    spark = docs.sparkSession
    contract = dict(buckets=buckets, shard_docs=shard_docs,
                    positions=bool(with_positions), tokenizer=tokenizer)
    check_contract(index_dir, **contract)
    if not generations(index_dir, "lineage"):
        prepared = docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(id_col).cast("string").alias("conv_id"),
            F.col(text_col).alias("document"),
            F.lit(1).cast("long").alias("n_turns"),
            F.lit(0).alias("src_part"),
            doclen_expr(F.col(text_col), tokenizer=tokenizer).cast("int").alias("doclen"),
        ).filter(F.col("doclen") > 0)
        ingest(prepared, index_dir, [0], **contract)
    merge_index(spark, index_dir, buckets=buckets, shard_docs=shard_docs, tokenizer=tokenizer)


def _dictionary_delta(spark: SparkSession, index_dir: str, gen: int) -> DataFrame:
    """df per term over ONE postings generation (the plan carries a gen=G
    PartitionFilter, so only that generation's files are read), range-
    partitioned by term_id so each written file covers its own term range."""
    return (
        read_table(spark, index_dir, "postings", POSTINGS_TABLE)
        .filter(F.col("gen") == gen)
        .groupBy("term_id")
        .agg(F.sum("df").alias("df"), F.first("bucket").alias("bucket"))
        .repartitionByRange("term_id")
    )


def _stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """The one stats row from lineage sums (n_docs, n_tokens)."""
    lineage = committed_lineage(spark, index_dir)
    n_docs = sum(r["n_docs"] for r in lineage)
    total = sum(r["n_tokens"] for r in lineage)
    return local_frame(spark, [(n_docs, total / n_docs if n_docs else 0.0, total)], _STATS_SCHEMA)


def _fold(spark: SparkSession, index_dir: str) -> None:
    """Compaction: fold every postings generation (merge_segments) and the
    dictionary into gen=0, each through the crash-atomic overwrite. df sums
    per term are invariant under the fold, so a compaction that stops
    between the two overwrites still serves correct results."""
    postings = merge_segments(read_table(spark, index_dir, "postings", POSTINGS_TABLE))
    commit(postings.withColumn("gen", F.lit(0)), index_dir, "postings",
           partition_by=["gen", "bucket"], repartition_by=["bucket"],
           compression="uncompressed", row_group_bytes=POSTINGS_ROW_GROUP_BYTES)
    commit(_dictionary_delta(spark, index_dir, 0).withColumn("gen", F.lit(0)), index_dir,
           "dictionary", partition_by=["gen"], sort_by=["term_id"],
           row_group_bytes=DICT_ROW_GROUP_BYTES)


def merge_index(
    spark: SparkSession,
    index_dir: str,
    buckets: int = DEFAULT_BUCKETS,
    shard_docs: int = DEFAULT_SHARD_DOCS,
    incremental: bool = True,
    max_generations: int | None = None,
    tokenizer: str | None = None,
) -> None:
    """Derive dictionary/stats/params.json from the committed generations.

    **Generation-stacked merge-on-read**: each ingest already wrote its
    postings as ``gen=G``; a merge only writes the dictionary delta of each
    generation that lacks one (a gen-pruned scan of that generation), the
    stats row from lineage sums, and params.json LAST, whose ``next_gen``
    makes the new generations visible to readers. New docs have new doc_ids,
    so a (term_id, shard) list split across generations covers DISJOINT doc
    ranges; the shard scorers treat each generation row as an independent
    posting list, and readers sum df per term across dictionary generations,
    so rankings are identical to a from-scratch build (tested).

    Every step is an idempotent function of committed data, so a crash
    anywhere is healed by rerunning, and destroying dictionary, stats and
    params.json and rerunning reproduces them (the `make recover`
    property; params.json's loss means the tokenizer contract must be
    restated). ``incremental=False`` — or a generation count past
    ``max_generations`` (persisted in params.json once set) — compacts
    everything into gen=0 afterwards.
    """
    committed = generations(index_dir, "lineage")
    if not committed:
        return
    contract = dict(buckets=buckets, shard_docs=shard_docs)
    if tokenizer is not None:
        contract["tokenizer"] = tokenizer
    prev = check_contract(index_dir, **contract)
    if tokenizer is None and "tokenizer" not in prev:
        raise ValueError(
            f"merge_index at {index_dir}: params.json is gone and no "
            "tokenizer was passed — recovery must re-state the index's "
            "tokenizer contract (pass tokenizer='ascii' or 'unicode')"
        )
    next_gen = committed[-1] + 1
    for name in ("postings", "dictionary"):
        scrub_orphan_generations(index_dir, name, next_gen)
    if max_generations is None:
        max_generations = int(prev.get("max_generations", DEFAULT_MAX_GENERATIONS))
    if "positions" in prev:
        positions = prev["positions"]
    else:  # destroy-params recovery: the capability is in the postings rows
        first = read_table(spark, index_dir, "postings", POSTINGS_TABLE).select("pos_bin").first()
        positions = bool(first is not None and first[0] is not None)

    def publish() -> None:
        n_terms = sum(  # footer metadata only
            pq.read_metadata(f).num_rows
            for f in glob.glob(os.path.join(index_dir, "dictionary", "gen=*", "*.parquet"))
        )
        params = {
            "k1": K1,
            "b": B_BM25,
            "buckets": buckets,
            "shard_docs": shard_docs,
            "block_size": BLOCK_SIZE,
            "format": INDEX_FORMAT,
            "tie_break": "score DESC, doc_id ASC",
            "next_gen": next_gen,
            "n_terms": n_terms,
            "max_generations": max_generations,
            "positions": positions,
            "tokenizer": tokenizer or prev["tokenizer"],
        }
        if "method" in prev:  # keep the tune_index winner across syncs/compactions
            params["method"] = prev["method"]
        write_params(os.path.join(index_dir, "params.json"), params)

    missing = sorted(set(generations(index_dir, "postings")) - set(generations(index_dir, "dictionary")))
    if missing or prev.get("next_gen") != next_gen or "contract_only" in prev:
        for g in missing:
            commit_generation(_dictionary_delta(spark, index_dir, g), index_dir,
                              "dictionary", g, sort_by=["term_id"],
                              row_group_bytes=DICT_ROW_GROUP_BYTES)
        commit(_stats(spark, index_dir), index_dir, "stats")
        publish()
    # the fold runs AFTER the params commit, so a crash anywhere inside it
    # leaves a fully consistent incremental index behind; params.json is
    # rewritten after it so attached readers re-open the swapped tables
    unfolded = {g for t in ("postings", "dictionary") for g in generations(index_dir, t)} - {0}
    if unfolded and (not incremental or len(generations(index_dir, "postings")) > max_generations):
        _fold(spark, index_dir)
        publish()


def compact_index(
    spark: SparkSession,
    index_dir: str,
    buckets: int = DEFAULT_BUCKETS,
    shard_docs: int = DEFAULT_SHARD_DOCS,
) -> None:
    """Fold all generations back into gen=0 — bounds query-time generation
    fan-out. merge_index triggers this automatically once the generation
    count passes params.json's ``max_generations``."""
    merge_index(spark, index_dir, buckets=buckets, shard_docs=shard_docs, incremental=False)
