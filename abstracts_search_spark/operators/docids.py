"""Scalable, deterministic dense docID assignment.

Analog of the reference's ``ids.parquet`` rowid→OpenAlex-ID map
(/root/reference/Makefile:11): every document gets a dense int64 id. The
reference assigns rowids positionally at fill time; we assign
``doc_id = global rank of conv_id`` (SURVEY.md §7) WITHOUT a single-partition
window: range-repartition by conv_id, sort within partitions, count per
partition, cumulative offsets (driver-side over ≤ n_partitions values), then a
per-partition running index via mapInPandas. Two narrow jobs, no global sort
exchange beyond the range partitioning — this survives a 10^12-row corpus
because driver state is O(partitions), never O(rows).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assign_doc_ids(
    docs: DataFrame, start: int = 0, num_partitions: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """docs must have unique ``conv_id``. Returns ``(ids, ranged)``: ``ids``
    is docs + ``doc_id`` int64; ``ranged`` is the persisted range-partitioned
    input that both the count job and ``ids`` read — the caller unpersists it
    once ``ids`` is consumed.

    IDs are ``start + rank(conv_id)`` (0-based, lexicographic) — deterministic
    for a given input set, independent of partition boundaries. ``start``
    supports incremental batches: new conversations continue after the current
    docmap max (SURVEY.md §3.3 resume semantics).
    """
    if num_partitions is None:
        # defaultParallelism, not docs.rdd.getNumPartitions(): the latter
        # forces an RDD conversion of the logical plan just to count splits
        num_partitions = max(docs.sparkSession.sparkContext.defaultParallelism, 1)
    ranged = docs.repartitionByRange(num_partitions, "conv_id").sortWithinPartitions("conv_id")
    # persisted: the count job and the id-attach job both consume this exchange
    # (callers pass a skinny projection, so the cached footprint is tiny)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id()).persist()

    counts = {r["_pid"]: r["n"] for r in with_pid.groupBy("_pid").agg(F.count("*").alias("n")).collect()}
    offsets: dict[int, int] = {}
    acc = start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = with_pid.drop("_pid").schema.add("doc_id", "long", False)

    def attach(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            base = offsets[int(pdf["_pid"].iloc[0])]
            pdf = pdf.drop(columns=["_pid"])
            pdf["doc_id"] = range(base + seen, base + seen + len(pdf))
            seen += len(pdf)
            yield pdf

    return with_pid.mapInPandas(attach, schema=out_schema), with_pid
