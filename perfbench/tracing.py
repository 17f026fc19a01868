"""Collectors that observe the program from outside: spans timed around its
public calls, Spark's event log folded into per-span counters, process
peak memory from /proc, and on-disk bytes of index directories."""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

MB = 1 << 20

# counters reported for every span of the full set
COUNTERS = (
    "wall_s", "jobs", "task_s", "python_s", "nojob_s",
    "input_mb", "python_in_mb", "shuffle_mb", "spill_mb", "output_mb",
)
COUNTER_UNITS = {
    "wall_s": "s", "jobs": "count", "task_s": "s", "python_s": "s", "nojob_s": "s",
    "input_mb": "MB", "python_in_mb": "MB", "shuffle_mb": "MB", "spill_mb": "MB",
    "output_mb": "MB",
}
# sync spans report totals over the timed window; the others per-op medians
TOTAL_SPANS = ("build.ingest", "build.merge", "ivf.sync", "lsh.sync")
MEDIAN_SPANS = (
    "query.single", "query.batch", "ivf.single", "ivf.batch", "lsh.single", "lsh.batch",
)


class Spans:
    """Wall-clock spans recorded around calls into the program; kept in
    memory and folded with the event log once the session has stopped."""

    def __init__(self, log=None):
        self.log = log  # called with a line for every untimed (setup) span
        self.items: list[tuple[str, float, float, bool]] = []  # name, t0, t1, timed

    @contextmanager
    def span(self, name: str, timed: bool = True):
        t0 = time.time()
        try:
            yield
        finally:
            self.items.append((name, t0, time.time(), timed))
            if not timed and self.log is not None:
                self.log(f"{name}: {time.time() - t0:.2f}s")

    def of(self, name: str, timed: bool = True) -> list[tuple[float, float]]:
        return [(a, b) for n, a, b, t in self.items if n == name and t == timed]

    def durations(self, *names: str) -> list[float]:
        """Wall time of each timed operation made of one span of each of
        ``names``, in call order."""
        per_name = [[b - a for a, b in self.of(n)] for n in names]
        return [sum(parts) for parts in zip(*per_name, strict=True)]


# ---------------------------------------------------------------- event log

def event_log_conf(log_dir: str) -> dict[str, str]:
    """Uncompressed, non-rolling event log: one JSON line per event."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class EventLog:
    """Jobs and stages of one application, with per-stage task counters.

    Tasks are credited to the stage they ran in, and a stage to the span in
    which it was submitted: jobs that ``build_index``/``merge_index`` submit
    from their own threads carry no description, but the benchmark drives
    the program from one client, so every job submitted inside a span
    belongs to it."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: dict[int, list[float]] = {}  # id -> [submit, end]
        self.stage_submit: dict[int, float] = {}
        self.stage: dict[int, dict[str, float]] = {}
        self.failed_tasks = 0
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = [e["Submission Time"] / 1000.0, None]
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]][1] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            if sid not in self.stage_submit:
                self.stage_submit[sid] = info.get("Submission Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            self._task(e)

    def _task(self, e: dict) -> None:
        info = e["Task Info"]
        if info.get("Failed") or e.get("Task End Reason", {}).get("Reason") not in (None, "Success"):
            self.failed_tasks += 1
        m = e.get("Task Metrics") or {}
        c = self.stage.setdefault(e["Stage ID"], {
            "task_s": 0.0, "python_s": 0.0, "input_mb": 0.0, "python_in_mb": 0.0,
            "shuffle_mb": 0.0, "spill_mb": 0.0, "output_mb": 0.0, "input_rows": 0.0,
        })
        c["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        inp = m.get("Input Metrics", {})
        c["input_mb"] += inp.get("Bytes Read", 0) / MB
        c["input_rows"] += inp.get("Records Read", 0)
        c["shuffle_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
        c["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
        c["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB
        # SQL metrics of the Python nodes (ArrowEvalPython, FlatMapGroupsInPandas,
        # MapInPandas) arrive as task accumulables
        for acc in info.get("Accumulables", []):
            name, upd = acc.get("Name"), acc.get("Update")
            if upd is None:
                continue
            if name == "time to run Python workers":
                c["python_s"] += float(upd) / 1000.0  # milliseconds
            elif name == "data sent to Python workers":
                c["python_in_mb"] += float(upd) / MB

    def fold(self, t0: float, t1: float) -> dict[str, float]:
        """Counters of every job and stage submitted inside [t0, t1]."""
        out = {k: 0.0 for k in COUNTERS if k not in ("wall_s", "nojob_s")}
        out["input_rows"] = 0.0
        intervals = []
        for sub, end in self.jobs.values():
            if t0 <= sub <= t1:
                out["jobs"] += 1
                intervals.append((sub, min(end if end is not None else t1, t1)))
        for sid, sub in self.stage_submit.items():
            if t0 <= sub <= t1 and sid in self.stage:
                for k, v in self.stage[sid].items():
                    out[k] += v
        out["wall_s"] = t1 - t0
        out["nojob_s"] = (t1 - t0) - _union_length(intervals)
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def per_layer(spans: Spans, log: EventLog) -> dict[str, float]:
    """The full counter set for each window span: totals for syncs, per-op
    medians for queries and probes."""
    out: dict[str, float] = {}
    for name in TOTAL_SPANS + MEDIAN_SPANS:
        folds = [log.fold(a, b) for a, b in spans.of(name)]
        for k in COUNTERS:
            vals = [f[k] for f in folds] or [0.0]
            out[f"{name}.{k}"] = sum(vals) if name in TOTAL_SPANS else statistics.median(vals)
        if name.endswith(".single"):
            out[f"{name}.input_rows"] = statistics.median([f["input_rows"] for f in folds] or [0.0])
    for name, keys in (
        ("session.start", ("wall_s",)),
        ("build.initial", ("wall_s", "task_s")),
        ("query.attach", ("wall_s",)),
        ("ivf.build", ("wall_s", "task_s")),
        ("lsh.build", ("wall_s", "task_s")),
    ):
        folds = [log.fold(a, b) for a, b in spans.of(name, timed=False)]
        for k in keys:
            out[f"{name}.{k}"] = sum(f[k] for f in folds)
    out["spark.failed_tasks"] = float(log.failed_tasks)
    return out


# -------------------------------------------------------------------- /proc

def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from the ppid field of /proc/*/stat."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss(jvm_pid: int) -> dict[str, float]:
    """VmHWM of the calling process, the JVM and the JVM's descendants (the
    Python worker daemon and its forked workers)."""
    return {
        "caller": _vm_hwm_mb(os.getpid()),
        "jvm": _vm_hwm_mb(jvm_pid),
        "python_workers": sum(_vm_hwm_mb(p) for p in descendants(jvm_pid)),
    }


# -------------------------------------------------------------------- disk

def file_states(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (inode, size, mtime_ns) of every regular file under root."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def dir_bytes(root: str) -> int:
    return sum(s for _, s, _ in file_states(root).values())


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of the files that are new or rewritten between two snapshots."""
    return sum(st[1] for p, st in after.items() if before.get(p) != st)
