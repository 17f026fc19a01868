"""Structured-Streaming incremental build (SURVEY.md §2.9 optional path).

The reference is batch-incremental (re-run `make`, README.md:63-65 in
/root/reference); the primary Spark re-expression is the anti-join driver in
plans/build.py. This module provides the equivalent semantics with
harness-managed checkpoints instead of the lineage anti-join:
``readStream`` over the transcripts directory + ``Trigger.AvailableNow`` +
``foreachBatch`` — each micro-batch is committed by the batch path's own
ingest body (plans/build.ingest) as one postings generation, and Spark's
streaming checkpoint (WAL of processed files) plays the role of the
`events/` touch-files (Makefile:57-66).

Note on semantics: the file stream delivers whole FILES exactly once, so a
conversation split across late-arriving files would assemble per-batch. The
fixture (and any sane production layout) keeps a conversation inside one
partition file, matching the reference's assumption that one
`updated_date=%` partition is the atomic ingest unit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..operators.postings import DEFAULT_BUCKETS, DEFAULT_SHARD_DOCS
from ..plans.build import (
    check_contract,
    committed_lineage,
    documents,
    ingest,
    merge_index,
    next_doc_id,
)
from ..sources.transcripts import TRANSCRIPTS_SCHEMA

# streaming epochs are namespaced into their own src_part range so they can
# never collide with batch-path part numbers (directory-derived small ints)
# when both build modes write the same index_dir
STREAM_PART_BASE = 1_000_000


def stream_build(
    spark: SparkSession,
    transcripts_dir: str,
    index_dir: str,
    checkpoint_dir: str | None = None,
    buckets: int = DEFAULT_BUCKETS,
    shard_docs: int = DEFAULT_SHARD_DOCS,
    merge_after: bool = True,
    with_positions: bool = False,
    tokenizer: str = "ascii",
) -> dict:
    """Drain all available transcript files into postings generations, then
    merge.

    Returns {"batches": n} — rerunning after new files land processes only
    the new files (checkpointed file WAL = resume-from-checkpoint).
    ``with_positions``, ``tokenizer``, ``buckets`` and ``shard_docs`` follow
    the same index-wide contracts as build_index (plans/build.check_contract).
    """
    from pyspark.sql import functions as F

    contract = dict(buckets=buckets, shard_docs=shard_docs,
                    positions=bool(with_positions), tokenizer=tokenizer)
    check_contract(index_dir, **contract)
    checkpoint_dir = checkpoint_dir or os.path.join(index_dir, "_stream_checkpoint")
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("basePath", transcripts_dir)
        .parquet(transcripts_dir)
    )
    n_batches = {"n": 0}

    def process_batch(batch_df, epoch_id: int) -> None:
        src_part = STREAM_PART_BASE + int(epoch_id)
        # foreachBatch is at-least-once: a crash after the lineage commit but
        # before the checkpoint commit replays this epoch with the same
        # files. Its lineage row is the commit marker, so a committed epoch
        # is a no-op; an uncommitted one re-ingests after ingest's scrub.
        lineage = committed_lineage(spark, index_dir)
        if any(r["src_part"] == src_part for r in lineage) or batch_df.isEmpty():
            return
        docs = documents(batch_df.withColumn("src_part", F.lit(src_part)), tokenizer)
        ingest(docs, index_dir, [src_part], **contract, start=next_doc_id(lineage))
        n_batches["n"] += 1

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if merge_after:
        merge_index(spark, index_dir, buckets=buckets, shard_docs=shard_docs,
                    tokenizer=tokenizer)
    return {"batches": n_batches["n"]}


def stream_sync_vectors(
    spark: SparkSession,
    embeddings_dir: str,
    index_dir: str,
    kind: str = "ivf",
    checkpoint_dir: str | None = None,
    schema: str = "vec_id long, embedding array<float>",
) -> dict:
    """Streaming vector ingest: drain all available embedding parquet files
    from ``embeddings_dir`` into a persisted vector index (``kind`` =
    "ivf" | "ann") — the vector-side twin of :func:`stream_build`.

    Each micro-batch appends as the index's next generation through the
    shared ``vecindex.sync`` with a CONTENT-derived ``src_tag`` (the
    hash of the batch's distinct input-file set — NOT the epoch counter,
    which restarts at 0 per checkpoint location and would collide tags
    across two streams into one index, or after a lost checkpoint, silently
    dropping batches). foreachBatch's at-least-once delivery then needs no
    extra bookkeeping: a replayed batch either no-ops (tag already in
    params) or scrubs its own orphaned generation first (crash between the
    vectors append and the params marker). The streaming checkpoint (file
    WAL) decides WHAT is new; the sync tag decides whether that content
    already LANDED — the same two-level contract as the doc path's
    checkpoint + lineage.

    The index must already exist (build_ivf_index / build_ann_index trains
    the constants — centroids/quantizer or planes — which streaming batches
    never retrain). Rerunning after new files land processes only the new
    files. Returns {"batches": n_appended}.
    """
    from ..operators import vecindex
    from ..operators.ivf import IvfIndexReader
    from ..operators.similarity import AnnIndexReader

    family = {"ivf": IvfIndexReader, "ann": AnnIndexReader}.get(kind)
    if family is None:
        raise ValueError(f"unknown vector index kind {kind!r}")
    params_path = vecindex.params_path(index_dir, family._spec)
    if not os.path.exists(params_path):
        raise ValueError(
            f"no {kind} index at {index_dir} — build it first "
            f"(streaming syncs never train the index constants)"
        )
    checkpoint_dir = checkpoint_dir or os.path.join(index_dir, "_stream_checkpoint")
    # refuse a checkpoint left over from a PREVIOUS build of this index: an
    # in-place rebuild resets merged_srcs, but the stream's file WAL would
    # still mark old deliveries consumed — they would silently never reach
    # the rebuilt index. The build stamps a build_id into its params; the
    # checkpoint records which build it belongs to.
    import json as _json

    with open(params_path) as f:
        build_id = _json.load(f).get("build_id", "__legacy__")
    marker = os.path.join(checkpoint_dir, "_index_build_id")
    if os.path.exists(marker):
        with open(marker) as f:
            prev = f.read().strip()
        if prev != build_id:
            raise ValueError(
                f"checkpoint at {checkpoint_dir} belongs to a previous build "
                f"of the {kind} index at {index_dir} (the index was rebuilt) "
                "— pass a fresh checkpoint_dir, or delete the old one and "
                "re-deliver its files"
            )
    else:
        os.makedirs(checkpoint_dir, exist_ok=True)
        with open(marker, "w") as f:
            f.write(build_id)
    stream = (
        spark.readStream.schema(schema)
        .option("basePath", embeddings_dir)
        .parquet(embeddings_dir)
    )
    n_batches = {"n": 0}

    def process_batch(batch_df, epoch_id: int) -> None:
        import hashlib

        from pyspark.sql import functions as F

        if batch_df.isEmpty():
            return
        files = sorted(
            r[0] for r in batch_df.select(F.input_file_name()).distinct().collect()
        )
        tag = "stream_" + hashlib.sha256("\n".join(files).encode()).hexdigest()[:16]
        if vecindex.sync(family, batch_df, index_dir, src_tag=tag):
            n_batches["n"] += 1

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {"batches": n_batches["n"]}
