"""Incremental, checkpoint-resumable index build (SURVEY.md §3.1/§3.3, M5).

The Spark re-expression of the reference's `make all` DAG
(/root/reference/Makefile:16-49): the per-partition ingest rules with their
`touch events/updated_date=%` checkpoints (Makefile:57-66) become an anti-join
of source partitions against the `lineage` table; the store dump + FAISS fill
(Makefile:24-49) become the segment build + merge into `postings`/
`dictionary`/`stats`. Write ordering is segments-then-lineage (lineage last =
commit marker), so a crash anywhere leaves a state the next run resumes from —
the `make recover` property (Makefile:98-101): data + lineage = complete
checkpoint.

Index layout under ``index_dir`` (the Iceberg path is a config flip — this
facade only reads/writes whole tables):

    docmap/               (doc_id, conv_id, doclen, src_part)
    segments/src_part=K/  encoded per-partition posting segments
    postings/bucket=B/    merged posting lists (+ block-max metadata)
    dictionary/           (term_id, df, bucket)
    stats/                (n_docs, avgdl, total_tokens)
    lineage/              (src_part, n_convs, n_turns, n_docs, wall_sec, ts)
    params.json           k1/b/buckets/shard_docs/block_size
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import B_BM25, K1
from ..codecs.postings import BLOCK_SIZE
from ..functions.tokenize import doclen_expr, get_tokenizer
from ..operators.docids import assign_doc_ids
from ..operators.postings import (
    DEFAULT_BUCKETS,
    DEFAULT_SHARD_DOCS,
    build_segments_packed,
    merge_segments,
    pack_doc_tokens,
)
from ..sources.tables import commit, read_table, table_exists, write_params

# bumped whenever the on-disk artifact schema changes
# (2 = int64 term_id keys; 3 = generation-stacked postings/gen=G/bucket=B;
#  4 = params.json carries n_terms + max_generations, dictionary/stats carry
#      a through_gen replay marker, lineage partitioned by src_part;
#  5 = postings/segments carry the optional positional stream columns
#      pos_bin/pos_offs (NULL when built without positions) and params.json
#      records the ``positions`` capability flag).
# A format mismatch makes merge_index re-derive every derived artifact from
# segments+docmap; pre-4 indexes that already have FLAT lineage files must be
# re-ingested into a fresh index_dir (mixing flat and src_part= lineage
# layouts in one directory is not readable).
INDEX_FORMAT = 5

# generation fan-out bound: every (term, shard) gains at most one postings row
# per sync, so query-time rows grow linearly with generations — once a sync
# pushes past this many, merge_index folds everything back to gen=0
DEFAULT_MAX_GENERATIONS = 8

# dictionary row-group size: each file is written term_id-sorted, so
# IndexReader.lookup_terms' pushed In(term_id,…) predicate (used above the
# driver-side cache) prunes every file to the row groups holding the query's
# terms instead of reading the whole vocabulary
DICT_ROW_GROUP_BYTES = 64 << 10


def _commit_dictionary(df: DataFrame, index_dir: str) -> None:
    commit(df, index_dir, "dictionary", sort_by=["term_id"],
           row_group_bytes=DICT_ROW_GROUP_BYTES)


def list_source_partitions(transcripts_dir: str) -> list[int]:
    return sorted(
        int(m.group(1))
        for d in os.listdir(transcripts_dir)
        if (m := re.fullmatch(r"part=(\d+)", d))
    )


def guard_lineage_layout(index_dir: str) -> None:
    """Refuse to extend a pre-format-4 index: its lineage is FLAT parquet
    files, and appending src_part=K/ partition dirs next to them would leave
    a mixed layout Spark's partition discovery cannot read ('Conflicting
    directory structures'). Fail loudly BEFORE any write instead."""
    lin = os.path.join(index_dir, "lineage")
    if os.path.isdir(lin) and any(f.endswith(".parquet") for f in os.listdir(lin)):
        raise RuntimeError(
            f"{index_dir} has a pre-format-{INDEX_FORMAT} flat lineage layout; "
            "re-ingest into a fresh index_dir (INDEX_FORMAT history in "
            "abstracts_search_spark/plans/build.py)"
        )


def pending_partitions(spark: SparkSession, transcripts_dir: str, index_dir: str) -> list[int]:
    """Incremental set difference (SURVEY.md §2.7 U1): source partitions
    without a lineage row. The anti-join is done in Spark so the same code
    runs when `lineage` is a billion-row Iceberg table."""
    src = spark.createDataFrame(
        [(p,) for p in list_source_partitions(transcripts_dir)], "src_part int"
    )
    if table_exists(index_dir, "lineage"):
        done = read_table(spark, index_dir, "lineage").select("src_part")
        src = src.join(done, "src_part", "left_anti")
    return sorted(r["src_part"] for r in src.collect())


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
    """Process pending source partitions, then (re)merge. Returns metrics.

    ``with_positions`` adds the positional varint stream to every posting
    (phrase queries); off by default — the throughput build path carries no
    position bytes through its exchanges. ``tokenizer`` selects the named
    token contract (functions/tokenize.TOKENIZERS; "unicode" for non-Latin
    corpora). Both are INDEX-WIDE contracts fixed at first ingest: extending
    an existing index with a different setting would leave segments no merge
    group (positions) or query (tokenizer) can interpret consistently —
    refused loudly here instead."""
    t0 = time.time()
    guard_lineage_layout(index_dir)
    get_tokenizer(tokenizer)  # fail fast on an unknown name
    params_path = os.path.join(index_dir, "params.json")
    if os.path.exists(params_path):
        with open(params_path) as f:
            _prev = json.load(f)
        prev_positions = _prev.get("positions", False)
        if bool(prev_positions) != bool(with_positions):
            raise ValueError(
                f"index at {index_dir} was built with positions={prev_positions}; "
                f"pass with_positions={prev_positions} (or re-ingest into a fresh "
                "index_dir to change the contract)"
            )
        prev_tok = _prev.get("tokenizer", "ascii")
        if prev_tok != tokenizer:
            raise ValueError(
                f"index at {index_dir} was built with tokenizer={prev_tok!r}; "
                f"pass tokenizer={prev_tok!r} (or re-ingest into a fresh "
                "index_dir to change the contract)"
            )
    pending = pending_partitions(spark, transcripts_dir, index_dir)
    if max_parts is not None:
        pending = pending[:max_parts]
    metrics: dict = {"pending_parts": len(pending), "n_turns": 0, "n_docs": 0}

    if pending:
        # scrub partial writes from a previous crash (data written but lineage
        # marker absent) so reruns are idempotent — the make-style contract:
        # a partition without its marker is rebuilt from scratch (Makefile:57-66)
        for p in pending:
            for sub in ("segments", "docmap"):
                d = os.path.join(index_dir, sub, f"src_part={p}")
                if os.path.exists(d):
                    shutil.rmtree(d)
        start = 0
        if table_exists(index_dir, "docmap"):
            start = read_table(spark, index_dir, "docmap").agg(F.max("doc_id")).collect()[0][0] + 1

        t = (
            spark.read.option("basePath", transcripts_dir)
            .parquet(*[os.path.join(transcripts_dir, f"part={p}") for p in pending])
        )
        turns = t.filter(F.col("text").isNotNull() & (F.col("text") != ""))
        ordered = F.array_sort(F.collect_list(F.struct("turn_idx", "text")))
        # doclen rides along from assembly: token counts are additive across
        # space-joined turns (the separator can never merge two tokens), so
        # sum(per-turn count) == count(document) — saves a full re-scan of the
        # assembled documents later
        docs = turns.groupBy("conv_id").agg(
            F.concat_ws(" ", F.transform(ordered, lambda s: s.getField("text"))).alias("document"),
            F.count("*").alias("n_turns"),
            F.first("part").alias("src_part"),
            F.sum(doclen_expr("text", tokenizer=tokenizer)).cast("int").alias("doclen"),
        ).persist()

        # docIDs are assigned on a SKINNY projection (conv_id + scalars) so the
        # range shuffle never moves document payloads; empty-after-tokenization
        # docs are dropped first — the analog of the reference's empty-abstract
        # drop (oa_jsonl.c:386-391)
        skinny = docs.select("conv_id", "src_part", "n_turns", "doclen").filter(
            F.col("doclen") > 0
        )
        ids = assign_doc_ids(skinny, start=start).persist()

        # one wide join of payloads to ids; tokenize + per-doc tf + bucketing
        # happen in ONE Arrow pass (pack_doc_tokens), so the exchange into the
        # segment builder moves packed (doc, bucket) array rows instead of one
        # row per token occurrence
        fat = docs.select("conv_id", "document").join(ids, "conv_id")
        packed = pack_doc_tokens(
            fat.select("doc_id", "src_part", "doclen", "document"),
            buckets=buckets,
            shard_docs=shard_docs,
            with_positions=with_positions,
            tokenizer=tokenizer,
        )
        segments = build_segments_packed(packed)
        # schema gate (ADVICE r4): format-5 segments always carry a (nullable)
        # pos_bin column; appending them next to pre-format-5 files that lack
        # the column would leave a mixed file schema Spark samples
        # nondeterministically — refuse with a re-ingest message instead
        if table_exists(index_dir, "segments") and "pos_bin" not in read_table(
            spark, index_dir, "segments"
        ).columns:
            raise ValueError(
                f"segments at {index_dir} predate the positional format "
                "(no pos_bin column); re-ingest into a fresh index_dir before "
                "appending new partitions"
            )
        # co-partition writes with the directory layout: one file per src_part
        # dir instead of n_tasks × n_parts small files — file-commit and later
        # scan-planning are driver-serial, so file count is a direct serial
        # cost (the reference controls file layout the same way: --shard-size,
        # /root/reference/Makefile:48)
        commit(segments, index_dir, "segments", mode="append",
               partition_by=["src_part"], repartition_by=["src_part"],
               compression="uncompressed")

        commit(ids.select("doc_id", "conv_id", "doclen", "src_part"), index_dir,
               "docmap", mode="append", partition_by=["src_part"],
               repartition_by=["src_part"])

        # the two metric aggregations are independent jobs over different
        # tables — submit them CONCURRENTLY from driver threads (Spark's
        # scheduler interleaves jobs fine); small-job latency is driver-serial
        # cost that would otherwise add up at the end of every build
        from concurrent.futures import ThreadPoolExecutor

        def _per_part():
            return {
                r["src_part"]: r
                for r in ids.groupBy("src_part")
                .agg(
                    F.count("*").alias("n_docs"),
                    F.sum("n_turns").alias("n_turns"),
                    F.countDistinct("conv_id").alias("n_convs"),
                )
                .collect()
            }

        def _seg_stats():
            # per-partition index metrics from the segments just written
            # (cheap: compact encoded rows) — north_rule "lineage + metrics"
            return {
                r["src_part"]: r
                for r in read_table(spark, index_dir, "segments")
                .filter(F.col("src_part").isin([int(p) for p in pending]))
                .groupBy("src_part")
                .agg(F.sum("df").alias("n_postings"), F.count("*").alias("n_term_rows"))
                .collect()
            }

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_pp, f_ss = pool.submit(_per_part), pool.submit(_seg_stats)
            per_part, seg_stats = f_pp.result(), f_ss.result()
        docs.unpersist()
        ids.unpersist()
        wall = time.time() - t0
        # lineage written LAST: the per-partition commit marker
        # (reference: `touch $@`, Makefile:66)
        lineage_rows = [
            (
                int(p),
                int(per_part[p]["n_convs"]) if p in per_part else 0,
                int(per_part[p]["n_turns"]) if p in per_part else 0,
                int(per_part[p]["n_docs"]) if p in per_part else 0,
                int(seg_stats[p]["n_postings"]) if p in seg_stats else 0,
                int(seg_stats[p]["n_term_rows"]) if p in seg_stats else 0,
                float(wall / len(pending)),
            )
            for p in pending
        ]
        commit(
            spark.createDataFrame(
                lineage_rows,
                "src_part int, n_convs long, n_turns long, n_docs long, "
                "n_postings long, n_term_rows long, wall_sec double",
            ).withColumn("ts", F.current_timestamp()),
            index_dir, "lineage", mode="append",
            partition_by=["src_part"], repartition_by=["src_part"],
        )
        metrics["n_turns"] = sum(r[2] for r in lineage_rows)
        metrics["n_docs"] = sum(r[3] for r in lineage_rows)
        # contract stub (r6): a skip-merge ingest still records the
        # index-wide contracts fixed at first ingest (tokenizer/positions),
        # so a later bare merge_index() honors them instead of guessing —
        # while TRUE destroy-params recovery (stub gone too) refuses loudly.
        # Overwritten by merge_index's full params when a merge runs.
        if not os.path.exists(params_path):
            write_params(params_path, {
                "format": INDEX_FORMAT,
                "tokenizer": tokenizer,
                "positions": bool(with_positions),
                "contract_only": True,
            })

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

    Same artifact layout as build_index/merge_index; docmap's conv_id is the
    stringified doc_id (documents tables carry their own ids). params.json is
    written LAST and doubles as the completeness marker. Positions are ON by
    default here (the doc index serves phrase queries too); the incremental
    transcripts build (build_index) defaults them off.
    """
    spark = docs.sparkSession
    get_tokenizer(tokenizer)  # fail fast on an unknown name
    prepared = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.lit(0).alias("src_part"),
            doclen_expr(F.col(text_col), tokenizer=tokenizer).cast("int").alias("doclen"),
            F.col(text_col).alias("document"),
        )
        .filter(F.col("doclen") > 0)
        .persist()
    )
    packed = pack_doc_tokens(
        prepared, buckets=buckets, shard_docs=shard_docs,
        with_positions=with_positions, tokenizer=tokenizer,
    )
    postings = merge_segments(build_segments_packed(packed)).withColumn("gen", F.lit(0))
    commit(postings, index_dir, "postings", partition_by=["gen", "bucket"],
           repartition_by=["bucket"], sort_by=["term_id"], compression="uncompressed",
           row_group_bytes=8 << 20)

    merged = read_table(spark, index_dir, "postings")
    _commit_dictionary(
        merged.groupBy("term_id")
        .agg(F.sum("df").alias("df"), F.first("bucket").alias("bucket"))
        .withColumn("through_gen", F.lit(0))
        .withColumn("through_fp", F.lit(_parts_fingerprint({0}))),
        index_dir,
    )
    n_terms = read_table(spark, index_dir, "dictionary").count()  # footer metadata only

    commit(
        prepared.select(
            "doc_id", F.col("doc_id").cast("string").alias("conv_id"), "doclen", "src_part"
        ),
        index_dir, "docmap",
    )
    commit(
        prepared.agg(
            F.count("*").alias("n_docs"),
            F.avg("doclen").alias("avgdl"),
            F.sum("doclen").alias("total_tokens"),
        ).withColumn("through_gen", F.lit(0))
        .withColumn("through_fp", F.lit(_parts_fingerprint({0}))),
        index_dir, "stats",
    )
    prepared.unpersist()

    write_params(
        os.path.join(index_dir, "params.json"),
            {
                "k1": K1,
                "b": B_BM25,
                "buckets": buckets,
                "shard_docs": shard_docs,
                "block_size": BLOCK_SIZE,
                "format": INDEX_FORMAT,
                "tie_break": "score DESC, doc_id ASC",
                "merged_parts": [0],
                "next_gen": 1,
                "n_terms": int(n_terms),
                "max_generations": DEFAULT_MAX_GENERATIONS,
                "positions": bool(with_positions),
                "tokenizer": tokenizer,
            },
        )


def _parts_fingerprint(parts) -> int:
    """Signed-int64 fingerprint of a source-partition set — the content
    identity behind the derived tables' crash-replay markers."""
    import hashlib
    import json as _json

    b = _json.dumps(sorted(int(p) for p in parts)).encode()
    return int.from_bytes(hashlib.blake2b(b, digest_size=8).digest(), "big", signed=True)


def _dictionary_delta(spark: SparkSession, index_dir: str, gen: int):
    """df per term over ONE postings generation — the partition-pruned scan
    an incremental sync merges into the standing dictionary (the plan carries
    a gen=G PartitionFilter, so only the new generation's files are read)."""
    return (
        read_table(spark, index_dir, "postings")
        .filter(F.col("gen") == gen)
        .groupBy("term_id")
        .agg(F.sum("df").alias("df"), F.first("bucket").alias("bucket"))
    )


def merge_index(
    spark: SparkSession,
    index_dir: str,
    buckets: int = DEFAULT_BUCKETS,
    shard_docs: int = DEFAULT_SHARD_DOCS,
    incremental: bool = True,
    max_generations: int | None = None,
    tokenizer: str | None = None,
) -> None:
    """Merge segments -> postings/dictionary/stats (+ params.json).

    **Generation-stacked merge-on-read**: the first merge writes all postings
    as ``gen=0``; every later sync merges ONLY the segments of source
    partitions that arrived since (tracked in params.json's ``merged_parts``)
    and appends them as a new ``gen=G`` — a quarterly sync at 100 TB decodes
    and re-encodes just the new partitions, never the standing index.
    Correctness: new docs have new doc_ids, so a (term_id, shard) list split
    across generations covers DISJOINT doc ranges; the shard scorers treat
    each generation row as an independent posting list (WAND opens a cursor
    per row; TAAT accumulates), so rankings are identical to a from-scratch
    build (tested). `incremental=False` compacts everything back to gen=0.

    Derived artifacts only — params.json (which carries the merge state) is
    written LAST, so destroying postings/dictionary/stats/params.json and
    rerunning reproduces them from segments + docmap (the `make recover`
    property). A crash after the gen append but before params.json lands is
    healed by the gen scrub below (uncommitted generations are re-derived).
    """
    if not table_exists(index_dir, "segments"):
        return
    state: dict = {}
    prev: dict = {}  # kept even on compaction, for e.g. the tune_index winner
    params_path = os.path.join(index_dir, "params.json")
    if os.path.exists(params_path):
        with open(params_path) as f:
            prev = json.load(f)
        if incremental and prev.get("format") == INDEX_FORMAT:
            state = prev
    # the compaction policy is PERSISTED: an explicit argument sets it, plain
    # syncs (max_generations=None) keep honoring the value recorded by
    # whichever run set it last — never silently reset to the default
    if max_generations is None:
        max_generations = int(prev.get("max_generations", DEFAULT_MAX_GENERATIONS))
    merged_parts = set(state.get("merged_parts", []))
    next_gen = int(state.get("next_gen", 0))

    # scrub uncommitted generations (appended, then crashed before the
    # params.json state marker) so reruns are idempotent. Only the APPEND path
    # needs this: the full-merge path overwrites the whole postings dir through
    # the crash-atomic tmp→swap commit, so pre-deleting live generations there
    # would just open a window where a crash leaves postings empty while
    # params.json still says merged (the compaction-crash hole)
    if merged_parts:
        postings_root = os.path.join(index_dir, "postings")
        if os.path.exists(postings_root):
            for d in os.listdir(postings_root):
                if d.startswith("gen=") and int(d.split("=", 1)[1]) >= next_gen:
                    shutil.rmtree(os.path.join(postings_root, d))

    segments = read_table(spark, index_dir, "segments")
    seg_parts = {
        int(r["src_part"]) for r in segments.select("src_part").distinct().collect()
    }
    # positions capability is derived from segment CONTENT (one-row probe),
    # not carried state — the destroy-derived-artifacts recovery path must
    # reproduce the flag too (all segments of an index are homogeneous).
    # Pre-format-5 segment files have no pos_bin COLUMN at all: treat that
    # as positions=False instead of letting the select raise (ADVICE r4)
    if "pos_bin" in segments.columns:
        first_seg = segments.select("pos_bin").first()
        has_positions = bool(first_seg is not None and first_seg[0] is not None)
    else:
        has_positions = False
    new_parts = sorted(seg_parts - merged_parts)
    if merged_parts and not new_parts:
        return  # nothing new since the last sync

    # term_id-sorted within each bucket file: parquet row-group min/max stats
    # on `term_id` let query-time term predicates prune row groups (the
    # within-file analog of bucket partition pruning)
    if not merged_parts:
        postings = merge_segments(segments).withColumn("gen", F.lit(0))
        commit(postings, index_dir, "postings", partition_by=["gen", "bucket"],
               repartition_by=["bucket"], sort_by=["term_id"],
               compression="uncompressed", row_group_bytes=8 << 20)
        merged_parts, next_gen, this_gen = set(seg_parts), 1, None
    else:
        fresh = segments.filter(F.col("src_part").isin(new_parts))
        postings = merge_segments(fresh).withColumn("gen", F.lit(next_gen))
        commit(postings, index_dir, "postings", mode="append",
               partition_by=["gen", "bucket"], repartition_by=["bucket"],
               sort_by=["term_id"], compression="uncompressed",
               row_group_bytes=8 << 20)
        merged_parts |= set(new_parts)
        this_gen = next_gen
        next_gen += 1

    # dictionary/stats updates. An incremental sync never re-scans the
    # standing index: the dictionary merges a delta aggregated over ONLY the
    # new generation (partition-pruned gen=G scan) into the standing
    # dictionary table, and stats combine the old (n_docs, total_tokens) with
    # an aggregation over only the NEW src_part docmap partitions — at 100 TB
    # a quarterly sync's metadata cost is proportional to the new data, not
    # the index. The two updates read different tables — run them
    # concurrently. n_terms lands in params.json so readers can bound their
    # driver-side cache without ever running a vocabulary-sized job.
    from concurrent.futures import ThreadPoolExecutor

    # crash-replay idempotency: both derived tables carry a constant
    # ``through_gen`` column (the highest generation their numbers include)
    # AND ``through_fp``, a fingerprint of the exact MERGED-PART SET those
    # numbers cover. A rerun that re-appends gen=G after a crash skips
    # re-applying the delta ONLY when both match — i.e. when the re-merged
    # generation provably has the same contents (same parts, same segments,
    # same doc_ids). If more source partitions arrived between the crash and
    # the retry, gen=G now covers a DIFFERENT part set: the fingerprint
    # mismatches and both tables fall back to a full re-aggregation over the
    # (already fully committed) postings/docmap — always correct, just not
    # incremental on this rare recovery path.
    through = next_gen - 1
    through_fp = _parts_fingerprint(merged_parts)

    def _marker(name: str) -> tuple[int, int]:
        if not table_exists(index_dir, name):
            return (-1, 0)
        row = (
            read_table(spark, index_dir, name)
            .agg(F.max("through_gen"), F.max("through_fp"))
            .collect()[0]
        )
        if row[0] is None:
            return (-1, 0)
        return (int(row[0]), int(row[1] or 0))

    def _mark(df):
        return df.withColumn("through_gen", F.lit(through)).withColumn(
            "through_fp", F.lit(through_fp)
        )

    def _dictionary() -> int:
        have_gen, have_fp = _marker("dictionary") if this_gen is not None else (-1, 0)
        if this_gen is not None and (have_gen, have_fp) == (through, through_fp):
            pass  # identical delta already applied by the crashed run
        elif this_gen is not None and have_gen == this_gen - 1 and have_fp == _parts_fingerprint(merged_parts - set(new_parts)):
            new_dict = (
                read_table(spark, index_dir, "dictionary")
                .drop("through_gen", "through_fp")
                .unionByName(_dictionary_delta(spark, index_dir, this_gen))
                .groupBy("term_id")
                .agg(F.sum("df").alias("df"), F.first("bucket").alias("bucket"))
            )
            _commit_dictionary(_mark(new_dict), index_dir)
        else:
            new_dict = (
                read_table(spark, index_dir, "postings")
                .groupBy("term_id")
                .agg(F.sum("df").alias("df"), F.first("bucket").alias("bucket"))
            )
            _commit_dictionary(_mark(new_dict), index_dir)
        # parquet count() is footer-metadata only — no data scan
        return read_table(spark, index_dir, "dictionary").count()

    def _stats() -> None:
        have_gen, have_fp = _marker("stats") if this_gen is not None else (-1, 0)
        if this_gen is not None and (have_gen, have_fp) == (through, through_fp):
            return  # identical delta already applied by the crashed run
        if this_gen is not None and have_gen == this_gen - 1 and have_fp == _parts_fingerprint(merged_parts - set(new_parts)):
            old = read_table(spark, index_dir, "stats").collect()[0]
            new = (
                read_table(spark, index_dir, "docmap")
                .filter(F.col("src_part").isin([int(p) for p in new_parts]))
                .agg(F.count("*").alias("n"), F.sum("doclen").alias("tot"))
                .collect()[0]
            )
            n_docs = int(old["n_docs"]) + int(new["n"] or 0)
            total = int(old["total_tokens"] or 0) + int(new["tot"] or 0)
            stats_df = spark.createDataFrame(
                [(n_docs, (float(total) / n_docs) if n_docs else 0.0, total)],
                "n_docs long, avgdl double, total_tokens long",
            )
        else:
            stats_df = read_table(spark, index_dir, "docmap").agg(
                F.count("*").alias("n_docs"),
                F.avg("doclen").alias("avgdl"),
                F.sum("doclen").alias("total_tokens"),
            )
        commit(_mark(stats_df), index_dir, "stats")

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_dict, f_stats = pool.submit(_dictionary), pool.submit(_stats)
        n_terms = f_dict.result()
        f_stats.result()

    # the tokenizer is a fixed contract of the index (README "Tokenizer
    # contract"); unlike positions it is NOT derivable from segment content.
    # The prior params value wins when it survived; a destroy-params RECOVERY
    # (no surviving params) must state the tokenizer explicitly — silently
    # assuming 'ascii' would record the wrong contract for a unicode-built
    # index and make IndexReader drop non-Latin query terms (ADVICE r5)
    if tokenizer is None:
        if "tokenizer" in prev:
            tokenizer = prev["tokenizer"]
        elif prev:
            tokenizer = "ascii"  # pre-tokenizer-era params: ascii by construction
        else:
            raise ValueError(
                f"merge_index at {index_dir}: params.json is gone and no "
                "tokenizer was passed — recovery must re-state the index's "
                "tokenizer contract (pass tokenizer='ascii' or 'unicode')"
            )
    params = {
        "k1": K1,
        "b": B_BM25,
        "buckets": buckets,
        "shard_docs": shard_docs,
        "block_size": BLOCK_SIZE,
        "format": INDEX_FORMAT,
        "tie_break": "score DESC, doc_id ASC",
        "merged_parts": sorted(int(p) for p in merged_parts),
        "next_gen": next_gen,
        "n_terms": int(n_terms),
        "max_generations": max_generations,
        "positions": has_positions,
        "tokenizer": tokenizer,
    }
    if "method" in prev:  # keep the tune_index winner across syncs/compactions
        params["method"] = prev["method"]
    write_params(params_path, params)

    # auto-compaction: generation fan-out exceeded the policy bound — fold
    # everything back to gen=0 (rank-identical by construction, tested). Runs
    # AFTER the params commit, so a crash anywhere inside the compaction
    # leaves a fully consistent incremental index behind.
    if incremental and next_gen > max_generations:
        merge_index(spark, index_dir, buckets=buckets, shard_docs=shard_docs,
                    incremental=False, max_generations=max_generations)


def compact_index(
    spark: SparkSession,
    index_dir: str,
    buckets: int = DEFAULT_BUCKETS,
    shard_docs: int = DEFAULT_SHARD_DOCS,
) -> None:
    """Fold all generations back into gen=0 (full re-merge from segments) —
    bounds query-time generation fan-out. merge_index triggers this
    automatically once ``next_gen`` passes params.json's ``max_generations``."""
    merge_index(spark, index_dir, buckets=buckets, shard_docs=shard_docs, incremental=False)
