"""Per-stage build profile: run build_index at local[N] with event logging,
then print each stage's wall duration and total executor core-seconds.

The evidence tool behind BASELINE.md's scaling analysis — shows WHERE
core-seconds go and which stages inflate when thread count rises (memory
bandwidth / SMT saturation show up as core-second inflation on stages with
zero shuffle fetch wait).

Usage: python scripts/stage_profile.py [cpus] [bench_scale]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    scale = sys.argv[2] if len(sys.argv) > 2 else "bench"

    from abstracts_search_spark.plans.build import build_index
    from abstracts_search_spark.session import build_spark
    from abstracts_search_spark.sources.transcripts import gen_transcripts

    tx_dir = os.path.join(_REPO, "data", "bench", f"transcripts_{scale}")
    if not os.path.exists(os.path.join(tx_dir, "part=0")):
        gen_transcripts(tx_dir, scale=scale, seed=42)

    evt_dir = tempfile.mkdtemp(prefix="evtlog_")
    # the engine's own session conf, plus an uncompressed event log
    spark = build_spark("stage_profile", master=f"local[{cpus}]", shuffle_partitions=cpus,
                        extra_conf={"spark.eventLog.enabled": "true",
                                    "spark.eventLog.dir": evt_dir,
                                    "spark.eventLog.compress": "false"})
    ix = tempfile.mkdtemp(prefix="profile_ix_")
    t0 = time.time()
    metrics = build_index(spark, tx_dir, ix)
    wall = time.time() - t0
    spark.stop()

    logs = []
    for dirpath, _, files in os.walk(evt_dir):
        logs.extend(os.path.join(dirpath, f) for f in files if "events" in f)
    stages = []
    run_ms: dict[int, float] = {}
    fetch_ms: dict[int, float] = {}
    gc_ms: dict[int, float] = {}
    for path in logs:
        with open(path, errors="ignore") as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if e.get("Event") == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    tm = e.get("Task Metrics") or {}
                    run_ms[sid] = run_ms.get(sid, 0.0) + tm.get("Executor Run Time", 0)
                    gc_ms[sid] = gc_ms.get(sid, 0.0) + tm.get("JVM GC Time", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    fetch_ms[sid] = fetch_ms.get(sid, 0.0) + sr.get("Fetch Wait Time", 0)
                elif e.get("Event") == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    sub = si.get("Submission Time")
                    comp = si.get("Completion Time")
                    stages.append(
                        {
                            "stage": si["Stage ID"],
                            "name": si["Stage Name"].split("\n")[0][:70],
                            "wall_s": round((comp - sub) / 1000, 2) if sub and comp else None,
                            "tasks": si["Number of Tasks"],
                        }
                    )
    stages.sort(key=lambda s: -(s["wall_s"] or 0))
    print(json.dumps({"cpus": cpus, "scale": scale, "build_wall_s": round(wall, 2),
                      "turns_per_sec": round(metrics["turns_per_sec"], 1),
                      "total_core_s": round(sum(run_ms.values()) / 1000, 1),
                      "total_gc_s": round(sum(gc_ms.values()) / 1000, 1)}))
    for s in stages[:14]:
        cs = round(run_ms.get(s["stage"], 0) / 1000, 1)
        fw = round(fetch_ms.get(s["stage"], 0) / 1000, 2)
        gc = round(gc_ms.get(s["stage"], 0) / 1000, 1)
        print(f"  stage {s['stage']:>3}  wall {s['wall_s']:>7}s  core {cs:>8}s  "
              f"gc {gc:>6}s  fetchwait {fw:>6}s  {s['tasks']:>5} tasks  {s['name']}")
    shutil.rmtree(evt_dir, ignore_errors=True)
    shutil.rmtree(ix, ignore_errors=True)


if __name__ == "__main__":
    main()
