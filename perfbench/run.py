"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. Generates the workload's
seeded inputs (cached per seed under ``.bench_build/perfbench``),
starts a pinned local Spark session, runs the workload closed loop
with one client, checks every output, and prints one JSON object as
the last line of stdout: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics, ``--trace
1`` the per-layer ones (Spark event log on, layer spans recorded and
written to ``.bench_build/perfbench/trace-<workload>-<seed>.json``).
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("olap_mix", "batch_pipelines")
DRIVER_MEM = "2g"
# fixed young generation: heap growth, and so peak memory, does not depend
# on GC timing. C1 JIT only: a run lasts about a minute, and C2 compiles
# competing with four task threads for four shared cores made cold passes
# vary by up to 1.7x between runs.
JVM_OPTS = "-XX:-UsePerfData -Xmn256m -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "pass_cpu_s": "s", "op_p50_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "queries.build_s": "s", "queries.plan_s": "s", "queries.exec_s": "s",
    "spark.jobs_per_query": "count", "spark.tasks_per_query": "count",
    "spark.scheduler_delay_s": "s", "io.sources.scan_bytes": "B",
    "spark.executor_busy_ratio": "ratio",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B", "spark.gc_s": "s",
    "operators.dedup_s": "s", "operators.dedup.candidate_pairs": "count",
    "operators.dedup.true_pairs": "count", "operators.dedup.pair_yield": "ratio",
    "pipeline.corpus_build_s": "s", "io.sinks.files_written": "count",
    "io.sinks.bytes_written": "B",
    "io.mergetable.merge_s": "s", "io.mergetable.buckets_touched_ratio": "ratio",
    "io.mergetable.write_amp": "ratio", "io.mergetable.compact_s": "s",
    "io.mergetable.read_s": "s", "io.mergetable.live_files": "count",
    "io.mergetable.commit_retries": "count",
    "pipeline.yelp.basetable_s": "s", "ml.featurize_s": "s", "ml.train_models_s": "s",
    "spark.jobs_per_fit": "count",
    "error_rate": "ratio", "trace.pass_s": "s",
}


def _pin_runtime(run_dir: str) -> dict[str, str]:
    """Same settings on every commit: all visible cores, a heap far below
    this class of box's RAM, and scratch inside the checkout (the
    engine's default puts shuffle files on a RAM-backed tmpfs)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    pins = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(pins)
    return pins


def _inputs(cache: str, workload: str, seed: int) -> tuple[str, dict, float]:
    """Generate (or reuse) the workload's inputs; returns (dir, truth, gen_s)."""
    import workloads as W

    # keyed on the generator code too: a change to it never reuses stale inputs
    digest = hashlib.sha1()
    for name in ("gen.py", "workloads.py"):
        with open(os.path.join(HERE, name), "rb") as fh:
            digest.update(fh.read())
    data = os.path.join(cache, "inputs", f"{workload}-s{seed}-{digest.hexdigest()[:10]}")
    meta = os.path.join(data, "meta.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            return data, json.load(fh), 0.0
    t0 = time.perf_counter()
    tmp = f"{data}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    make = W.olap_inputs if workload == "olap_mix" else W.batch_inputs
    truth = make(tmp, seed)
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(truth, fh)
    shutil.rmtree(data, ignore_errors=True)
    os.replace(tmp, data)
    return data, truth, time.perf_counter() - t0


def _start_session(cpus: int, conf: dict, probe: str) -> tuple[object, float]:
    from big_data_tools_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(probe).count()
    return spark, time.perf_counter() - t0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for it and every process it forked."""
    from pyspark import SparkContext

    from tracing import process_tree

    forked = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the JVM's Python workers exit on their own once it is gone
    deadline = time.monotonic() + 10
    while left := [p for p in forked if _alive(p)]:
        if time.monotonic() > deadline:
            for p in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.2)


def _per_layer(tracer, log: dict, out, setup_s: float, cpus: int) -> dict:
    from tracing import spark_counters

    meas = tracer.descendants("measure")
    spans = [s for s in tracer.spans if s["id"] in meas]

    def mean_dt(name: str) -> float:
        xs = [s["dt"] for s in spans if s["name"] == name]
        return sum(xs) / len(xs) if xs else 0.0

    def ids_under(name: str) -> set[int]:
        return tracer.descendants(name) & meas

    c = tracer.counts
    passes = max(len(out.passes), 1)
    n_query = sum(1 for s in spans if s["name"] == "queries.query")
    cq = spark_counters(log, ids_under("queries.query"))
    cm = spark_counters(log, meas)
    wall = sum(out.passes)
    cand = c.get("dedup.candidate_pairs", 0.0)

    def div(a: float, b: float) -> float:
        return a / b if b else 0.0

    return {
        "session.start_s": setup_s,
        "queries.build_s": mean_dt("queries.build"),
        "queries.plan_s": mean_dt("queries.plan"),
        "queries.exec_s": mean_dt("queries.exec"),
        "spark.jobs_per_query": div(cq["jobs"], n_query),
        "spark.tasks_per_query": div(cq["tasks"], n_query),
        "spark.scheduler_delay_s": div(cq["sched_ms"] / 1000.0, n_query),
        "io.sources.scan_bytes": div(cq["in_b"], n_query),
        "spark.executor_busy_ratio": div(cm["run_ms"] / 1000.0, wall * cpus),
        "spark.shuffle_write_bytes": cm["sw_b"] / passes,
        "spark.shuffle_read_bytes": cm["sr_b"] / passes,
        "spark.spill_bytes": cm["spill_b"] / passes,
        "spark.gc_s": cm["gc_ms"] / 1000.0 / passes,
        "operators.dedup_s": mean_dt("operators.dedup"),
        "operators.dedup.candidate_pairs": cand,
        "operators.dedup.true_pairs": c.get("dedup.true_pairs", 0.0),
        "operators.dedup.pair_yield": div(c.get("dedup.true_pairs", 0.0), cand),
        "pipeline.corpus_build_s": mean_dt("pipeline.corpus_build"),
        "io.sinks.files_written": c.get("sinks.files_written", 0.0),
        "io.sinks.bytes_written": c.get("sinks.bytes_written", 0.0),
        "io.mergetable.merge_s": mean_dt("io.mergetable.merge"),
        "io.mergetable.buckets_touched_ratio": div(
            c.get("merge.buckets_touched", 0.0), c.get("merge.buckets", 0.0)),
        "io.mergetable.write_amp": div(
            c.get("merge.bytes_rewritten", 0.0), c.get("merge.bytes_changed", 0.0)),
        "io.mergetable.compact_s": mean_dt("io.mergetable.compact"),
        "io.mergetable.read_s": mean_dt("io.mergetable.read"),
        "io.mergetable.live_files": c.get("merge.live_files", 0.0),
        "io.mergetable.commit_retries": c.get("merge.retries", 0.0),
        "pipeline.yelp.basetable_s": mean_dt("pipeline.yelp.basetable"),
        "ml.featurize_s": mean_dt("ml.featurize"),
        "ml.train_models_s": mean_dt("ml.train_models"),
        "spark.jobs_per_fit": div(
            spark_counters(log, ids_under("ml.train_models"))["jobs"], c.get("ml.fits", 0.0)),
        "error_rate": div(out.failed, out.attempted),
        "trace.pass_s": min(out.passes, default=0.0),
    }


def main() -> int:
    p = argparse.ArgumentParser(description="spark-graft benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "big_data_tools_spark", "session.py")):
        print("perfbench: run from the root of a spark-graft checkout "
              "(big_data_tools_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]

    cache = os.path.join(root, ".bench_build", "perfbench")
    run_dir = os.path.join(cache, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    pins = _pin_runtime(run_dir)
    try:
        return _run(args, cache, run_dir, pins)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, cache: str, run_dir: str, pins: dict) -> int:
    import tracing
    import workloads as W

    data, truth, gen_s = _inputs(cache, args.workload, args.seed)
    cpus = int(pins["SPARK_GRAFT_CPUS"])
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={pins['TMPDIR']} {JVM_OPTS}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    evdir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(evdir)
        conf.update(tracing.eventlog_conf(evdir))
    probe = (os.path.join(data, "orders.parquet") if args.workload == "olap_mix"
             else os.path.join(data, "cdc", "base.parquet"))

    setup, spark = [], None
    for _ in range(SETUP_REPEATS):  # first start launches the JVM
        if spark is not None:
            spark.stop()
        spark, dt = _start_session(cpus, conf, probe)
        setup.append(dt)
    tracer = tracing.Tracer(bool(args.trace), f"{args.workload}-{args.seed}",
                            spark.sparkContext)
    try:
        if args.workload == "olap_mix":
            out = W.olap_mix(spark, tracer, data, args.seed, args.seconds)
        else:
            out = W.batch_pipelines(spark, tracer, data, truth, run_dir, args.seconds)
    finally:
        peak_mb = tracing.peak_rss_mb()
        _shutdown(spark)

    setup_s = statistics.median(setup)
    if args.trace:
        values = _per_layer(tracer, tracing.read_eventlog(evdir), out, setup_s, cpus)
        tracer.dump(os.path.join(cache, f"trace-{args.workload}-{args.seed}.json"))
        units = PER_LAYER
        self_s = {k: round(v, 4) for k, v in sorted(tracer.self_times().items())}
        print(json.dumps({"self_s": self_s}), file=sys.stderr)
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": min(out.passes),
            "pass_cpu_s": min(out.cpu),
            "op_p50_s": statistics.median(out.ops),
            "peak_rss_mb": peak_mb,
        }
        units = END_TO_END
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "runtime": {**{k: v for k, v in pins.items() if k.startswith("SPARK_GRAFT")},
                    "jvm": JVM_OPTS},
        "gen_s": gen_s, "setup_samples_s": setup, "passes_s": out.passes,
        "passes_cpu_s": out.cpu,
        "ops": len(out.ops), "failures": out.notes[:5],
    }
    print(json.dumps({"info": info}))
    for note in out.notes:
        print(f"perfbench: FAILED {note}", file=sys.stderr)
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
