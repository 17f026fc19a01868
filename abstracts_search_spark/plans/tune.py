"""Search-parameter tuning — the `sidecar-search index tune` analog
(/root/reference/Makefile:31-32: offline sweep → params.json).

The engine's query-time tunable is the ``method`` of the one BM25 shard
scorer (operators/wand.make_scorer): block-max WAND (skips decoding, wins on
selective queries), vectorized TAAT (no skipping, zero per-doc Python, wins
on hot/dense queries) or ``auto`` (per (query, shard) density rule).
`tune_index`:

1. times the INTERACTIVE path (per-query jobs) for each method on a sample
   query set and records the winner — IndexReader.query and query_many use
   it by default;
2. times the BATCHED path (query_many — the throughput regime: one job, each
   posting row decoded once per shard) median-of-N with raw runs disclosed;
3. records a per-(query, shard) METHOD HISTOGRAM: the decision the `auto`
   scorer would take for every shard it touches, recomputed driver-side from
   posting metadata through the reader's own tokenizer and candidate scan
   and decided by the scorer's own rule (operators/wand.pick_method). The
   histogram makes the tuned choice auditable: a corpus whose histogram is
   all-taat should not be served with method="bmw".

Everything lands in params.json (written atomically — it is the index's
completeness marker), which IndexReader re-reads when it changes.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.wand import pick_method
from ..sources.tables import write_params


def method_histogram(reader, sample_queries: list[str]) -> dict[str, int]:
    """Per-(query, shard) auto-decision counts over the sample set."""
    hist = {"taat": 0, "bmw": 0}
    for q in sample_queries:
        entries = reader.lookup_terms(sorted(set(reader.tokens(q))))
        if not entries:
            continue
        rows = (
            reader.candidates(entries, ("df", "first_doc", "last_doc"))
            .groupBy("shard")
            .agg(
                F.sum("df").alias("df_sum"),
                F.min("first_doc").alias("lo"),
                F.max("last_doc").alias("hi"),
            )
            .collect()
        )
        for r in rows:
            hist[pick_method(int(r["df_sum"]), int(r["hi"]) - int(r["lo"]) + 1)] += 1
    return hist


def tune_index(
    spark: SparkSession,
    index_dir: str,
    sample_queries: list[str] | None = None,
    k: int = 10,
    batched_runs: int = 3,
) -> dict:
    from ..sources.transcripts import gen_queries
    from .query import IndexReader

    if sample_queries is None:
        # mixed regimes on purpose: selective tail queries AND hot-term
        # queries (the role tokens are the skew case, BASELINE.json)
        sample_queries = [q for _, q in gen_queries(n=12)] + [
            "user assistant",
            "the a of to and",
        ]
    reader = IndexReader(spark, index_dir)
    timings: dict[str, float] = {}
    for method in ("bmw", "taat", "auto"):
        t0 = time.time()
        for q in sample_queries:
            reader.query(q, k=k, method=method).collect()
        timings[method] = round(time.time() - t0, 3)
    best = min(timings, key=timings.get)

    # the batched path is what long-running consumers drive; time it the same
    # way bench.py does (median of N, raw runs disclosed)
    b_runs = []
    for _ in range(batched_runs):
        t0 = time.time()
        reader.query_many(dict(enumerate(sample_queries)), k=k).collect()
        b_runs.append(round(time.time() - t0, 3))
    b_runs_sorted = sorted(b_runs)

    hist = method_histogram(reader, sample_queries)

    params_path = os.path.join(index_dir, "params.json")
    with open(params_path) as f:
        params = json.load(f)
    params["method"] = best
    params["tune_timings_sec"] = timings
    params["tune_n_queries"] = len(sample_queries)
    params["tune_batched_sec"] = {
        "median": b_runs_sorted[len(b_runs_sorted) // 2],
        "runs": b_runs,
        "n_queries": len(sample_queries),
    }
    params["method_histogram"] = hist
    write_params(params_path, params)
    return params
