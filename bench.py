"""Benchmark entry point (driver contract + BASELINE.md target metrics).

Measures, on `local[$SPARK_GRAFT_CPUS]` (default 32):

1. **index-build throughput** (the authoritative metric, BASELINE.json):
   build the full inverted index over the deterministic `bench4x` transcripts
   fixture (~80k convs / ~1.6M turns) → turns/sec.
2. **query latency** over the 50-query reference set via block-max WAND.
3. **headline operator queries** at $SPARK_GRAFT_SF_DIR (default
   /root/testdata/sf0.1): BM25 brute + indexed, MinHash-LSH dedup, ANN.

Prints ONE JSON line:
{"metric": "bench_total", "value": <sec>, "unit": "sec",
 "queries": {...per-step seconds...}, "sf": ...,
 "build": {"n_turns":..., "wall_sec":..., "turns_per_sec":...},
 "query_set": {"n": 50, "total_sec":..., "qps":...}}

Run `python scripts/scaling_run.py` for the local[8]-vs-local[32] scaling
evidence (two-cluster-size criterion, BASELINE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_REPO = os.path.dirname(os.path.abspath(__file__))


def main() -> dict:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # bench4x (1.6M turns) by default: the 399k-turn `bench` fixture is fixed-
    # cost dominated at 32 cores (28s build, ~12s of driver-serial/JVM-warmup
    # overhead), understating sustained throughput by ~2.5×
    bench_scale = os.environ.get("SPARK_GRAFT_BENCH_SCALE", "bench4x")
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "") or "0.1"

    from abstracts_search_spark.session import build_spark
    from abstracts_search_spark.sources.transcripts import gen_queries, gen_transcripts
    from abstracts_search_spark.plans.build import build_index
    from abstracts_search_spark.plans.query import IndexReader

    # fixture is deterministic → generate once, reuse across runs
    tx_dir = os.path.join(_REPO, "data", "bench", f"transcripts_{bench_scale}")
    if not os.path.exists(os.path.join(tx_dir, "part=0")):
        print(f"generating {bench_scale} fixture...", file=sys.stderr)
        gen_transcripts(tx_dir, scale=bench_scale, seed=42)

    spark = build_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    timings: dict[str, float] = {}
    t_all = time.time()

    # --- 1. index build throughput -----------------------------------------
    # one WARMUP build (JVM codegen, Python worker pool, page cache — the
    # one-time session costs a long-running 100 TB build pays once; timed and
    # disclosed separately, same policy as the query-set reader_warmup), then
    # median-of-N with raw runs disclosed: single-shot numbers on this host
    # swing up to ~4× run-to-run, which made cross-round deltas unreadable
    n_build_runs = int(os.environ.get("SPARK_GRAFT_BUILD_RUNS", "3"))
    b_runs: list[float] = []
    warmup_sec = 0.0
    n_turns = n_docs = 0
    index_dir = ""
    for i in range(n_build_runs + 1):
        if index_dir:
            shutil.rmtree(index_dir, ignore_errors=True)
        index_dir = tempfile.mkdtemp(prefix="bench_index_")
        t0 = time.time()
        metrics = build_index(spark, tx_dir, index_dir)
        wall = round(time.time() - t0, 3)
        n_turns, n_docs = int(metrics["n_turns"]), int(metrics["n_docs"])
        if i == 0:
            warmup_sec = wall
            print(f"build warmup: {wall}s", file=sys.stderr)
        else:
            b_runs.append(wall)
            print(f"build run {i}/{n_build_runs}: {wall}s", file=sys.stderr)
    build_wall = sorted(b_runs)[len(b_runs) // 2]
    timings["index_build"] = build_wall
    build = {
        "n_turns": n_turns,
        "n_docs": n_docs,
        "wall_sec": build_wall,
        "runs": b_runs,
        "warmup_sec": warmup_sec,
        "turns_per_sec": round(n_turns / build_wall, 1),
    }
    print(f"build: {build}", file=sys.stderr)

    # --- 2. reference query set via block-max WAND --------------------------
    reader = IndexReader(spark, index_dir)
    qset = gen_queries(n=50)
    # one-time costs (dictionary cache fill, scan-planning file listing,
    # python-worker/codegen warmup) are timed SEPARATELY so the query-set
    # number is steady-state throughput, the regime a long-lived reader runs in
    t0 = time.time()
    reader.query(qset[0][1], k=10).collect()
    timings["reader_warmup"] = round(time.time() - t0, 3)
    # median of 3 batched runs (raw runs disclosed) — same estimator policy as
    # scripts/scaling_run.py: this host's run-to-run noise is up to 2x
    q_runs = []
    for _ in range(3):
        t0 = time.time()
        n_rows = len(reader.query_many({qid: q for qid, q in qset}, k=10).collect())
        q_runs.append(round(time.time() - t0, 3))
    qtotal = sorted(q_runs)[1]
    timings["query_set_50_batched"] = qtotal  # raw runs live in query_set.runs
    # per-query latency sample (the interactive path: block-max WAND)
    lat = []
    for _, q in qset[:8]:
        t0 = time.time()
        reader.query(q, k=10).collect()
        lat.append(time.time() - t0)
    timings["query_single_avg"] = round(sum(lat) / len(lat), 3)
    query_set = {
        "n": len(qset),
        "total_sec": round(qtotal, 3),
        "qps": round(len(qset) / qtotal, 2),
        "runs": q_runs,
        "rows": n_rows,
        "single_query_avg_sec": timings["query_single_avg"],
    }
    print(f"query_set: {query_set}", file=sys.stderr)

    # --- 3. headline operator queries at sf_dir ----------------------------
    if os.environ.get("SPARK_GRAFT_SKIP_HEADLINE"):
        total = time.time() - t_all
        spark.stop()
        shutil.rmtree(index_dir, ignore_errors=True)
        out = {
            "metric": "index_build_turns_per_sec",
            "value": build["turns_per_sec"],
            "unit": "turns/sec",
            "queries": timings,
            "sf": float(sf_tag),
            "cpus": cpus,
            "bench_scale": bench_scale,
            "build": build,
            "query_set": query_set,
            "total_sec": round(total, 3),
        }
        out = _consolidate(out)
        print(json.dumps(out))
        return out

    import __spark_entry__ as entrymod

    # warm the persisted documents index (build-once/query-many architecture);
    # its one-time build cost is reported as its own line, never as query time
    t0 = time.time()
    doc_reader = entrymod._doc_index_reader(spark, sf_dir)
    timings["doc_index_open"] = round(time.time() - t0, 3)
    print(f"doc_index_open: {timings['doc_index_open']}s", file=sys.stderr)

    # batched phrase set through the positional index (phrase_query_many):
    # ~20 phrases mixing HOT bigrams (dense posting lists — the regime the
    # r4 vectorized matcher targets) and selective/absent phrases, one job,
    # decode shared across phrases. Median-of-3 with raw runs disclosed.
    phrases = dict(enumerate([
        "the data", "a table", "table hash", "part filter", "customer join",
        "slow key", "merge group", "vector small", "filter small", "big order",
        "batch agg", "row customer", "merge order", "scan query", "data window",
        "customer join small", "batch window spark", "sort a row",
        "value fast spark", "quantum flux absent",
    ]))
    p_runs = []
    for i in range(3):
        t0 = time.time()
        p_rows = len(doc_reader.phrase_query_many(phrases, k=20).collect())
        p_runs.append(round(time.time() - t0, 3))
    timings["phrase_set_20_batched"] = sorted(p_runs)[1]
    phrase_set = {
        "n": len(phrases),
        "total_sec": timings["phrase_set_20_batched"],
        "qps": round(len(phrases) / timings["phrase_set_20_batched"], 2),
        "runs": p_runs,
        "rows": p_rows,
    }
    print(f"phrase_set: {phrase_set}", file=sys.stderr)

    # 16-plane (65,536-bucket) ANN probe — the reference's IVF geometry
    # (README.md:60): build-once cache, then time the Hamming-radius-2 probe
    # (137 of 65,536 buckets; partition-pruned scan + GEMM scoring)
    ann16_dir = os.path.join(_REPO, "data", "cache", f"annindex16_{sf_tag}")
    from abstracts_search_spark.operators.similarity import (
        ANN_INDEX_FORMAT,
        AnnIndexReader,
        build_ann_index,
    )

    params16 = os.path.join(ann16_dir, "ann_params.json")
    fresh = True
    if os.path.exists(params16):
        with open(params16) as f:
            fresh = json.load(f).get("format") != ANN_INDEX_FORMAT
    if fresh:
        shutil.rmtree(ann16_dir, ignore_errors=True)
        os.makedirs(ann16_dir, exist_ok=True)
        t0 = time.time()
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        build_ann_index(emb, ann16_dir, n_planes=16)
        print(f"ann16 build: {round(time.time() - t0, 3)}s", file=sys.stderr)
    qv = entrymod._query_vec(spark, sf_dir)
    a_runs = []
    for _ in range(3):
        t0 = time.time()
        n16 = AnnIndexReader(spark, ann16_dir).topk(qv, k=10, probe_hamming=2).count()
        a_runs.append(round(time.time() - t0, 3))
    timings["ann_probe_16planes_h2"] = sorted(a_runs)[1]
    print(
        f"ann_probe_16planes_h2: {timings['ann_probe_16planes_h2']}s "
        f"({n16} rows; runs {a_runs})",
        file=sys.stderr,
    )

    # the SIZED driver index (8 planes at this sf), build-once cost separated
    t0 = time.time()
    entrymod._ann_index_dir(spark, sf_dir)
    timings["ann_index_open"] = round(time.time() - t0, 3)
    print(f"ann_index_open: {timings['ann_index_open']}s", file=sys.stderr)

    # trained-IVF index (k-means cells, operators/ivf.py): train+fill cost
    # separated as its own line, then the nprobe=2 probe rides the loop below
    t0 = time.time()
    entrymod._ivf_index_dir(spark, sf_dir)
    timings["ivf_index_open"] = round(time.time() - t0, 3)
    print(f"ivf_index_open: {timings['ivf_index_open']}s", file=sys.stderr)

    # SQ8-quantized sibling (uint8 codes, the PQ-analog storage mode)
    t0 = time.time()
    entrymod._ivf_sq8_index_dir(spark, sf_dir)
    timings["ivf_sq8_index_open"] = round(time.time() - t0, 3)
    print(f"ivf_sq8_index_open: {timings['ivf_sq8_index_open']}s", file=sys.stderr)

    qs = entrymod.queries()
    for name in (
        "bm25_topk",
        "bm25_topk_indexed",
        "phrase_match",
        "phrase_match_indexed",
        "tokenize_tf",
        "ann_lsh_topk",
        "ann_lsh_topk_many",
        "ivf_topk",
        "ivf_topk_sq8",
        "minhash_lsh_pairs",
        "jaccard_pairs",
        "ann_cosine_topk",
        "embedding_dup_pairs",
        "embedding_dup_lsh",
        "quality_score",
        "fingerprint",
    ):
        t0 = time.time()
        cnt = qs[name](spark, sf_dir).count()
        timings[name] = round(time.time() - t0, 3)
        print(f"{name}: {timings[name]}s ({cnt} rows)", file=sys.stderr)

    total = time.time() - t_all
    spark.stop()
    shutil.rmtree(index_dir, ignore_errors=True)

    out = {
        "metric": "index_build_turns_per_sec",
        "value": build["turns_per_sec"],
        "unit": "turns/sec",
        "queries": timings,
        "sf": float(sf_tag),
        "cpus": cpus,
        "bench_scale": bench_scale,
        "build": build,
        "query_set": query_set,
        "phrase_set": phrase_set,
        "total_sec": round(total, 3),
    }
    out = _consolidate(out)
    print(json.dumps(out))
    return out


def _consolidate(out: dict) -> dict:
    """One bench artifact per round (r4-verdict item 7): the emitted JSON —
    which the driver records as BENCH_r{N}.json — also carries the latest
    LOCAL re-run (under "local") and the scaling evidence (under "scaling"),
    so BASELINE.md cites exactly one file. Every run snapshots itself to
    BENCH_local_latest.json (sans nesting) for the next run to embed."""
    import datetime

    out = dict(out, ts=datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"))
    local_path = os.path.join(_REPO, "BENCH_local_latest.json")
    if os.path.exists(local_path):
        try:
            with open(local_path) as f:
                out["local"] = json.load(f)
        except (OSError, json.JSONDecodeError):
            pass
    scaling_path = os.path.join(_REPO, "BENCH_scaling.json")
    if os.path.exists(scaling_path):
        try:
            with open(scaling_path) as f:
                out["scaling"] = json.load(f)
        except (OSError, json.JSONDecodeError):
            pass
    # scaling/partial invocations (SKIP_HEADLINE) must not clobber the full
    # local snapshot with a single-core bench16x run
    if not os.environ.get("SPARK_GRAFT_SKIP_HEADLINE"):
        try:
            with open(local_path, "w") as f:
                json.dump(
                    {k: v for k, v in out.items() if k not in ("local", "scaling")}, f
                )
        except OSError:
            pass
    return out


if __name__ == "__main__":
    main()
