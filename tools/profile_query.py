#!/usr/bin/env python
"""Per-stage profile of one registered query at a given core count —
the measurement tool behind the r12 32-core-inversion diagnosis
(VERDICT r11 "what's wrong" #3).

Runs the query 2 warm + best-of-3 with caches released between runs
(as perfbench and the oracle compare release them), with the Spark
event log enabled, then parses the event log into a per-stage table:
stage id, name, task count, wall (submission->completion), sum of task
run times, GC time, shuffle read/write bytes. Inversions show up as
either (a) many tiny tasks whose scheduling/launch overhead dominates
at high core counts, or (b) per-task costs that grow with concurrency
(GC, memory pressure).

Usage:
    SPARK_GRAFT_CPUS=32 python tools/profile_query.py events_rolling_dau
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    name = sys.argv[1]
    evdir = tempfile.mkdtemp(prefix="bdt-evlog-")

    from big_data_tools_spark.operators.cache import (
        release_all_caches,
        release_caches,
    )
    from big_data_tools_spark.queries import all_queries
    from big_data_tools_spark.session import get_spark

    spark = get_spark(
        app_name=f"bdt-profile-{name}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        },
    )
    n_cpus = spark.sparkContext.defaultParallelism
    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()
    spec = all_queries()[name]

    def run() -> float:
        df = spec.fn(spark, SF_DIR)
        t0 = time.perf_counter()
        df.count()
        dt = time.perf_counter() - t0
        release_caches(df)
        release_all_caches()
        return dt

    for _ in range(2):
        run()
    walls = [run() for _ in range(3)]
    best = min(walls)
    # stages of the LAST run only: mark a boundary by job-group time
    print(f"# {name} cpus={n_cpus} walls={[round(w, 3) for w in walls]}",
          file=sys.stderr)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # flush
    spark.stop()

    # parse the event log (single app -> single file)
    stages: dict[int, dict] = {}
    tasks: dict[int, dict] = {}
    paths: list[str] = []
    for entry in os.listdir(evdir):
        p = os.path.join(evdir, entry)
        if os.path.isdir(p):  # Spark 4 eventlog_v2 rolling dir
            paths.extend(
                os.path.join(p, f) for f in sorted(os.listdir(p))
                if f.startswith("events_"))
        else:
            paths.append(p)

    def lines():
        for p in paths:
            with open(p) as f:
                yield from f

    if True:
        for line in lines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                stages[sid] = {
                    "name": si["Stage Name"].split(" at ")[0][:40],
                    "tasks": si["Number of Tasks"],
                    "wall_ms": (si.get("Completion Time", 0)
                                - si.get("Submission Time", 0)),
                }
            elif et == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                t = tasks.setdefault(
                    sid, {"run_ms": 0, "gc_ms": 0, "sr_b": 0, "sw_b": 0,
                          "deser_ms": 0, "result_ms": 0, "spill": 0})
                t["run_ms"] += m.get("Executor Run Time", 0)
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["deser_ms"] += m.get("Executor Deserialize Time", 0)
                t["result_ms"] += m.get("Result Serialization Time", 0)
                t["spill"] += m.get("Memory Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                t["sr_b"] += (sr.get("Local Bytes Read", 0)
                              + sr.get("Remote Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                t["sw_b"] += sw.get("Shuffle Bytes Written", 0)

    rows = []
    for sid in sorted(stages):
        s, t = stages[sid], tasks.get(sid, {})
        rows.append({
            "stage": sid, "name": s["name"], "tasks": s["tasks"],
            "wall_ms": s["wall_ms"], "run_ms": t.get("run_ms", 0),
            "gc_ms": t.get("gc_ms", 0), "deser_ms": t.get("deser_ms", 0),
            "sr_kb": t.get("sr_b", 0) // 1024,
            "sw_kb": t.get("sw_b", 0) // 1024,
            "spill": t.get("spill", 0),
        })
    total_wall = sum(r["wall_ms"] for r in rows)
    total_run = sum(r["run_ms"] for r in rows)
    total_gc = sum(r["gc_ms"] for r in rows)
    print(json.dumps({
        "query": name, "cpus": n_cpus, "best_wall_sec": round(best, 3),
        "walls": [round(w, 3) for w in walls],
        "n_stages": len(rows),
        "sum_stage_wall_ms": total_wall,
        "sum_task_run_ms": total_run,
        "sum_gc_ms": total_gc,
        "stages": rows,
    }, indent=1))


if __name__ == "__main__":
    main()
