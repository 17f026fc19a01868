"""Benchmark of the ingest -> index -> top-k query system.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the program. One fresh process, one
client in a closed loop, driving the program through its public API:

- setup (timed as ``setup_s``): generate or load the seeded inputs, start
  the Spark session, build the workload's indexes, attach the readers, then
  a fixed warm-up (reads, and on ``vectors`` one sync);
- timed window: whole rounds of the workload's fixed operation list until
  ``--seconds`` have passed (one round takes longer than 10 s on a 4-core
  host, so a 10 s setting runs exactly one round there);
- checks: every result against DuckDB BM25, numpy cosine and the generated
  inputs, plus the checks' own self-tests.

With ``--trace 1`` Spark's event log is on and the per-layer metrics are
reported instead of the end-to-end ones. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the line before it
gives the attempted and failed count of each operation type.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen  # noqa: E402
import selftest  # noqa: E402
import tracing  # noqa: E402

K = 10
# queries per batched call; on `search` one whole cycle of the query shapes,
# so every batch has the same mix
BATCH = {"search": 10, "vectors": 8}
RECALL_QUERIES = 192  # extra default-probe queries per vector index, in the checks
MAX_ROUNDS = 6  # bounded by the sync partitions and vector batches generated
BUCKETS = 8  # text index buckets, sized to the corpus (the default 64 targets 10^6+ docs)

# The warm-up and one round of the timed window. On `search`, read =
# IndexReader.query, batch_read = query_many and sync =
# build_index(skip_merge=True) + merge_index. On `vectors`, read = topk on
# the IVF and the LSH index, batch_read = topk_many on both and sync =
# sync_ivf_index + sync_ann_index. A fresh JVM keeps getting faster for its
# first reads (the JIT), so the warm-up runs reads past its steep start; on
# `vectors` it also runs one sync, since the builds do not run the sync
# path. Syncs open the round, so every timed read runs on the same
# generation count and only the first one pays the reader refresh.
WARMUP = {
    "search": ["read"] * 4 + ["batch_read"],
    "vectors": ["sync"] + ["read"] * 4 + ["batch_read"],
}
ROUNDS = {
    "search": ["sync"] + ["read"] * 7 + ["batch_read"] * 2,
    "vectors": ["sync"] * 2 + ["read"] * 5 + ["batch_read"] * 2,
}
WORKLOADS = tuple(ROUNDS)
OP_TYPES = ("read", "batch_read", "sync")


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


class Bench:
    """State of one run: the session, the readers, the query streams and
    everything recorded for the metrics and the checks."""

    def __init__(self, workload: str, traced: bool, work: str, inputs: str):
        import numpy as np

        self.workload, self.traced = workload, traced
        self.work, self.inputs = work, inputs
        self.spec = gen.SPECS[workload]
        if workload == "search":
            with open(os.path.join(inputs, "queries.json")) as f:
                q = json.load(f)
            self.text_queries = q["text"]
            self.initial_terms = q["initial_distinct_terms"]
        else:
            self.vec_queries = np.load(os.path.join(inputs, "vectors", "queries.npy"))
        self.qi = self.vi = 0
        if workload == "search":
            # single and batched reads draw from two halves of the stream, so
            # every run times the same query shapes
            self.bi = len(self.text_queries) // 2
        self.tx = os.path.join(work, "transcripts")
        self.ix = os.path.join(work, "text_index")
        self.ivf_dir = os.path.join(work, "ivf_index")
        self.lsh_dir = os.path.join(work, "lsh_index")
        self.parts: list[int] = []  # source partitions in the live directory
        self.spans = tracing.Spans(log)
        self.timed = False
        self.counts = {op: [0, 0] for op in OP_TYPES}  # attempted, failed
        self.lat: dict[str, list[float]] = defaultdict(list)  # timed ops only
        self.read_lat: list[float] = []  # timed reads that have a result
        self.sync_items: list[int] = []  # items appended by each timed sync
        self.sync_text_bytes = self.sync_written = 0
        self.text_results: dict[tuple, list] = defaultdict(list)  # parts -> [(q, rows)]
        self.vec_results: list[tuple] = []  # (index, q, n_indexed, rows)
        self.vsyncs = 0

    # ------------------------------------------------------------ setup

    def part_file(self, k: int) -> str:
        return os.path.join(self.inputs, "transcripts_all", f"part={k}", "data.parquet")

    def add_part(self) -> int:
        k = len(self.parts)
        dst = os.path.join(self.tx, f"part={k}")
        os.makedirs(dst)
        shutil.copy(self.part_file(k), dst)
        self.parts.append(k)
        return k

    def start_session(self) -> None:
        from abstracts_search_spark.session import build_spark

        cores = max(1, min(2, os.cpu_count() or 1))
        conf = {
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark_local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
        }
        if self.traced:
            conf.update(tracing.event_log_conf(os.path.join(self.work, "eventlog")))
        with self.spans.span("session.start", timed=False):
            self.spark = build_spark(
                "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
            )
        from pyspark import SparkContext

        self.jvm = SparkContext._gateway.proc

    def build(self) -> None:
        if self.workload == "search":
            self._build_text()
        else:
            self._build_vectors()

    def _build_text(self) -> None:
        from abstracts_search_spark.plans import build
        from abstracts_search_spark.plans.query import IndexReader

        os.makedirs(self.tx)
        for _ in range(self.spec.parts_initial):
            self.add_part()
        with self.spans.span("build.initial", timed=False):
            build.build_index(self.spark, self.tx, self.ix, buckets=BUCKETS, skip_merge=True,
                              with_positions=True)
            build.merge_index(self.spark, self.ix, buckets=BUCKETS)
        with self.spans.span("query.attach", timed=False):
            self.reader = IndexReader(self.spark, self.ix)

    def _build_vectors(self) -> None:
        import pyarrow.parquet as pq
        from abstracts_search_spark.operators.ivf import IvfIndexReader, build_ivf_index
        from abstracts_search_spark.operators.similarity import AnnIndexReader, build_ann_index

        base = os.path.join(self.inputs, "vectors", "base.parquet")
        with self.spans.span("ivf.build", timed=False):
            build_ivf_index(self.spark.read.parquet(base), self.ivf_dir)
            self.ivf = IvfIndexReader(self.spark, self.ivf_dir)
        with self.spans.span("lsh.build", timed=False):
            build_ann_index(self.spark.read.parquet(base), self.lsh_dir)
            self.lsh = AnnIndexReader(self.spark, self.lsh_dir)
        t = pq.read_table(base)
        self.oracle = {"ivf": checks.VectorOracle(), "lsh": checks.VectorOracle()}
        for o in self.oracle.values():
            o.add(t.column("vec_id").to_numpy(), _matrix(t))

    # ---------------------------------------------------------- operations

    def run_op(self, op: str) -> None:
        self.counts[op][0] += 1
        family = "text" if self.workload == "search" else "vec"
        t0 = time.time()
        try:
            getattr(self, f"{family}_{op}")()
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.counts[op][1] += 1
            log(f"{op} failed:\n{traceback.format_exc()}")
            return
        if self.timed:
            self.lat[op].append(time.time() - t0)

    def next_text(self) -> str:
        q = self.text_queries[self.qi % len(self.text_queries)]
        self.qi += 1
        return q

    def next_batch_text(self) -> str:
        q = self.text_queries[self.bi % len(self.text_queries)]
        self.bi += 1
        return q

    def next_vec(self):
        v = self.vec_queries[self.vi % len(self.vec_queries)]
        self.vi += 1
        return v

    def text_read(self) -> None:
        q = self.next_text()
        t0 = time.time()
        with self.spans.span("query.single", self.timed):
            rows = self.reader.query(q, k=K).collect()
        # absent and empty queries are run and checked, but not timed
        if rows and self.timed:
            self.read_lat.append(time.time() - t0)
        self.text_results[tuple(self.parts)].append((q, [(r["conv_id"], r["score"]) for r in rows]))

    def text_batch_read(self) -> None:
        qs = [self.next_batch_text() for _ in range(BATCH[self.workload])]
        with self.spans.span("query.batch", self.timed):
            rows = self.reader.query_many(qs, k=K).collect()
        by_q = _by_query(rows, "conv_id", "score")
        for i, q in enumerate(qs):
            self.text_results[tuple(self.parts)].append((q, by_q.get(i, [])))

    def text_sync(self) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from abstracts_search_spark.plans import build

        k = self.add_part()
        before = tracing.file_states(self.ix)
        with self.spans.span("build.ingest", self.timed):
            build.build_index(self.spark, self.tx, self.ix, buckets=BUCKETS, skip_merge=True,
                              with_positions=True)
        with self.spans.span("build.merge", self.timed):
            build.merge_index(self.spark, self.ix, buckets=BUCKETS)
        if self.timed:
            t = pq.read_table(self.part_file(k), columns=["text"])
            self.sync_items.append(t.num_rows)
            self.sync_text_bytes += pc.sum(pc.binary_length(t.column("text"))).as_py() or 0
            self.sync_written += tracing.bytes_written(before, tracing.file_states(self.ix))

    def vec_read(self) -> None:
        """One query answered by both vector indexes."""
        q = self.next_vec()
        for kind, reader in (("ivf", self.ivf), ("lsh", self.lsh)):
            n = self.oracle[kind].snapshot()
            with self.spans.span(f"{kind}.single", self.timed):
                rows = reader.topk(q.tolist(), k=K).collect()
            self.vec_results.append((kind, q, n, [(r["vec_id"], r["cos"]) for r in rows]))

    def vec_batch_read(self) -> None:
        qs = [self.next_vec() for _ in range(BATCH[self.workload])]
        for kind, reader in (("ivf", self.ivf), ("lsh", self.lsh)):
            n = self.oracle[kind].snapshot()
            with self.spans.span(f"{kind}.batch", self.timed):
                rows = reader.topk_many({i: q.tolist() for i, q in enumerate(qs)}, k=K).collect()
            by_q = _by_query(rows, "vec_id", "cos")
            for i, q in enumerate(qs):
                self.vec_results.append((kind, q, n, by_q.get(i, [])))

    def vec_sync(self) -> None:
        """Append the next vector batch to both indexes as a new generation."""
        import pyarrow.parquet as pq
        from abstracts_search_spark.operators.ivf import sync_ivf_index
        from abstracts_search_spark.operators.similarity import sync_ann_index

        j = self.vsyncs
        self.vsyncs += 1
        path = os.path.join(self.inputs, "vectors", f"sync_{j}.parquet")
        t = pq.read_table(path)
        for kind, fn, root in (("ivf", sync_ivf_index, self.ivf_dir), ("lsh", sync_ann_index, self.lsh_dir)):
            with self.spans.span(f"{kind}.sync", self.timed):
                appended = fn(self.spark.read.parquet(path), root, src_tag=f"sync_{j}")
            if not appended:
                raise RuntimeError(f"{kind} sync_{j} appended nothing")
            self.oracle[kind].add(t.column("vec_id").to_numpy(), _matrix(t))
        if self.timed:  # appended to each of the two indexes
            self.sync_items.append(2 * t.num_rows)

    # ------------------------------------------------------------- phases

    def warmup(self) -> None:
        for op in WARMUP[self.workload]:
            self.run_op(op)

    def window(self, seconds: float) -> None:
        """Whole rounds until ``seconds`` have passed."""
        self.timed = True
        t0 = time.time()
        rounds = 0
        while rounds == 0 or (time.time() - t0 < seconds and rounds < MAX_ROUNDS):
            for op in ROUNDS[self.workload]:
                self.run_op(op)
            rounds += 1
        self.timed = False
        log(f"window: {rounds} round(s) in {time.time() - t0:.1f}s")
        for op, v in self.lat.items():
            log(f"window {op} s: " + " ".join(f"{x:.3f}" for x in v))

    def verify_live(self) -> list[str]:
        """Vector checks that need the session, two batched probes per index:
        exhaustive probes must equal the exact top-k; under the default probe,
        the first vector of every synced batch must be its own first hit, and
        RECALL_QUERIES more queries widen the recall sample."""
        import pyarrow.parquet as pq

        if self.workload != "vectors":
            return []
        errs = []
        synced = []
        for j in range(self.vsyncs):
            t = pq.read_table(os.path.join(self.inputs, "vectors", f"sync_{j}.parquet")).slice(0, 1)
            synced.append((int(t.column("vec_id")[0].as_py()), _matrix(t)[0]))
        qs = {i: q.tolist() for i, q in enumerate(self.vec_queries[:2])}
        # the second half of the query set, which the timed operations never reach
        half = len(self.vec_queries) // 2
        extra = self.vec_queries[half:half + RECALL_QUERIES]
        for kind, reader in (("ivf", self.ivf), ("lsh", self.lsh)):
            o = self.oracle[kind]
            if kind == "ivf":
                got = reader.topk_many(qs, k=K, nprobe=int(reader.params["n_lists"])).collect()
            else:
                got = reader.topk_many(qs, k=K, probe_hamming=int(reader.params["n_planes"])).collect()
            by_q = _by_query(got, "vec_id", "cos")
            for i in qs:
                exact = o.exact_topk(self.vec_queries[i], o.snapshot(), K)
                errs += [f"{kind} {e}" for e in checks.check_exhaustive(by_q.get(i, []), exact, K)]
            probe = [v for _, v in synced] + list(extra)
            got = reader.topk_many({i: v.tolist() for i, v in enumerate(probe)}, k=K).collect()
            by_q = _by_query(got, "vec_id", "cos")
            for i, (vid, _) in enumerate(synced):
                errs += [f"{kind}: {e}" for e in checks.check_self_first(vid, by_q.get(i, []))]
            for i, q in enumerate(extra, start=len(synced)):
                self.vec_results.append((kind, q, o.snapshot(), by_q.get(i, [])))
        return errs

    def verify_offline(self) -> tuple[list[str], float]:
        """Checks against the generated inputs; also returns recall@10."""
        errs = []
        if self.workload == "search":
            if self.initial_terms <= self.reader.DICT_CACHE_TERMS:
                errs.append(f"inputs: {self.initial_terms} distinct terms fit the dictionary cache")
            hits = total = 0
            for parts, results in self.text_results.items():
                files = [self.part_file(k) for k in parts]
                expected = checks.bm25_expected(files, [q for q, _ in results], K)
                for (q, got), exp in zip(results, expected):
                    errs += [f"bm25 {q!r}: {e}" for e in checks.compare_topk(got, exp, K, checks.SCORE_TOL)]
                    hits += len({c for c, _ in got} & {c for c, _ in exp[:K]})
                    total += min(K, len(exp))
            want = checks.expected_counts([self.part_file(k) for k in self.parts])
            errs += checks.check_ingest(checks.index_counts(self.ix), want)
            return errs, hits / total
        recall = []
        for kind, q, n, rows in self.vec_results:
            o = self.oracle[kind]
            errs += [f"{kind} probe: {e}" for e in o.check_rows(q, n, rows)]
            recall.append(o.recall(q, n, rows, K))
        return errs, statistics.mean(recall)

    def index_bytes_per_input_byte(self) -> float:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if self.workload == "search":
            text = sum(
                pc.sum(pc.binary_length(pq.read_table(self.part_file(k), columns=["text"]).column("text"))).as_py()
                for k in self.parts
            )
            return tracing.dir_bytes(self.ix) / text
        raw = sum(len(o.ids) * o.mat.shape[1] * 4 for o in self.oracle.values())  # float32 inputs
        return (tracing.dir_bytes(self.ivf_dir) + tracing.dir_bytes(self.lsh_dir)) / raw

    def stop(self) -> None:
        """Stop the session, then the JVM and its Python workers, and wait
        for each process to end."""
        kids = tracing.descendants(self.jvm.pid)
        self.spark.stop()
        from pyspark import SparkContext

        SparkContext._gateway.shutdown()
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        deadline = time.time() + 30
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass


def _by_query(rows, id_col: str, score_col: str) -> dict[int, list[tuple]]:
    """Batched results -> query_id -> [(id, score)] in rank order."""
    out = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((r[id_col], r[score_col]))
    return out


def _matrix(table):
    import numpy as np

    emb = table.column("embedding").combine_chunks()
    return emb.values.to_numpy().reshape(len(emb), -1).astype(np.float32)


def untraced_reference(args, state: str) -> dict:
    """Per-op median latencies of an untraced run of this workload: the most
    recent one recorded in this checkout, or a fresh one run now."""
    path = os.path.join(state, f"untraced-{args.workload}.json")
    if not os.path.exists(path):
        log("no untraced reference yet: running one")
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            check=True, stdout=subprocess.DEVNULL,
        )
    with open(path) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import abstracts_search_spark  # noqa: F401 - fails fast outside a checkout of the program

    state = os.path.join(HERE, ".state")
    os.makedirs(state, exist_ok=True)
    ref = untraced_reference(args, state) if args.trace else None

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every temporary file of the session inside the work directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    os.environ.pop("SPARK_GRAFT_DICT_CACHE_TERMS", None)

    inputs = gen.generate(os.path.join(HERE, ".cache"), args.workload, args.seed)
    b = Bench(args.workload, bool(args.trace), work, inputs)
    try:
        b.start_session()
        b.build()
        b.warmup()
        setup_s = time.time() - T_PROCESS
        log(f"setup done in {setup_s:.1f}s")
        b.window(args.seconds)
        rss = tracing.peak_rss(b.jvm.pid)
        errs = b.verify_live()
    finally:
        b.stop()

    errs_off, recall = b.verify_offline()
    errs += errs_off + selftest.run_all(os.path.join(work, "tmp"))
    for e in errs[:20]:
        log(f"CHECK FAILED: {e}")
    # times are those of the public calls alone, from their spans; each
    # timing metric is the median over the operations of the window
    if b.workload == "search":
        read_lat = b.read_lat
        batch_lat = b.spans.durations("query.batch")
        sync_lat = b.spans.durations("build.ingest", "build.merge")
    else:  # an operation calls both indexes
        read_lat = b.spans.durations("ivf.single", "lsh.single")
        batch_lat = b.spans.durations("ivf.batch", "lsh.batch")
        sync_lat = b.spans.durations("ivf.sync", "lsh.sync")
    e2e = {
        "setup_s": (setup_s, "s"),
        "read_p50_ms": (1000.0 * statistics.median(read_lat), "ms"),
        "batch_qps": (BATCH[b.workload] / statistics.median(batch_lat), "queries/s"),
        "sync_items_per_s": (statistics.median([n / t for n, t in zip(b.sync_items, sync_lat, strict=True)]),
                             "items/s"),
        "recall_at_10": (recall, "ratio"),
        "index_bytes_per_input_byte": (b.index_bytes_per_input_byte(), "ratio"),
        "peak_rss_mb": (sum(rss.values()), "MB"),
    }
    op_medians = {op: statistics.median(v) for op, v in b.lat.items() if v}
    if args.trace:
        metrics = layer_metrics(b, rss, ref, op_medians)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        with open(os.path.join(state, f"untraced-{args.workload}.json"), "w") as f:
            json.dump(op_medians, f)
    shutil.rmtree(work, ignore_errors=True)

    attempted = sum(a for a, _ in b.counts.values())
    failed = sum(f for _, f in b.counts.values())
    print("ops " + json.dumps({op: {"attempted": a, "failed": f} for op, (a, f) in b.counts.items()}))
    print(json.dumps({"correct": not errs, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def layer_metrics(b: Bench, rss: dict, ref: dict, op_medians: dict) -> dict:
    ev = tracing.EventLog(os.path.join(b.work, "eventlog"))
    vals = tracing.per_layer(b.spans, ev)
    vals["build.bytes_written_per_text_byte"] = (
        b.sync_written / b.sync_text_bytes if b.sync_text_bytes else 0.0
    )
    vals["rss.jvm_mb"] = rss["jvm"]
    vals["rss.python_workers_mb"] = rss["python_workers"]
    vals["rss.caller_mb"] = rss["caller"]
    ratios = [op_medians[op] / ref[op] for op in op_medians if ref.get(op)]
    vals["trace.overhead_pct"] = 100.0 * (math.exp(statistics.mean(math.log(r) for r in ratios)) - 1.0)
    units = dict(tracing.COUNTER_UNITS)
    units.update({
        "bytes_written_per_text_byte": "ratio", "input_rows": "rows", "failed_tasks": "count",
        "jvm_mb": "MB", "python_workers_mb": "MB", "caller_mb": "MB", "overhead_pct": "%",
    })
    return {name: {"value": v, "unit": units[name.rsplit(".", 1)[1]]} for name, v in vals.items()}


if __name__ == "__main__":
    sys.exit(main())
