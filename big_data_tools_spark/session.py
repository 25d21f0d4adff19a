"""SparkSession factory with scale-sane defaults.

The reference sets no Spark configuration at all (verified full read of
``Databricks Notebook.py`` — no spark.conf, hints, repartition, cache).
We centralize configuration here so every test / bench / CLI entrypoint
gets the same AQE-enabled, Arrow-enabled session.

Design notes for 100 TB (tested on local[N]):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast-join conversion — these are the mechanisms that make
  the same declarative plan survive a 1000x scale-up.
- shuffle.partitions is only the *initial* number; AQE coalesces down.
  On a real cluster you'd size it ~2-3x total cores.
- Arrow enabled for any pandas interchange (Pandas UDFs, toPandas).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "big-data-tools-spark"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


_GIB = 1 << 30
_JVM_UNITS = {"k": 10, "m": 20, "g": 30, "t": 40}


def _mem_total() -> int | None:
    """Host RAM in bytes (``MemTotal`` of /proc/meminfo), None if unreadable."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) << 10
    except (OSError, ValueError, IndexError):
        pass
    return None


def _jvm_bytes(mem: str) -> int:
    """Bytes in a JVM memory size; a bare number is MiB, as in
    ``spark.driver.memory``."""
    s = mem.strip().lower().removesuffix("b")
    if s[-1:] in _JVM_UNITS:
        return int(float(s[:-1]) * (1 << _JVM_UNITS[s[-1]]))
    return int(float(s)) << 20


def default_driver_mem(mem_total: int | None) -> str:
    """Default driver heap: half the host's RAM in whole GiB, capped at
    16g (16g when RAM is unknown). Local mode runs driver and executor
    threads in one JVM, so this heap is the engine's whole working set;
    the other half stays for Python workers, the page cache and a RAM
    tmpfs."""
    if mem_total is None:
        return "16g"
    return f"{max(1, min(16, mem_total // 2 // _GIB))}g"


def shm_fits(shm_free: int, mem_total: int | None, driver_mem: str) -> bool:
    """Whether shuffle scratch may go on the RAM-backed /dev/shm: only
    with 4 GiB free on the tmpfs AND 4 GiB of RAM left beyond the heap,
    since tmpfs pages and the heap come out of the same memory. 4 GiB ~
    the largest local-mode shuffle this repo produces at sf1, with
    margin."""
    return (
        mem_total is not None
        and shm_free >= 4 * _GIB
        and mem_total - _jvm_bytes(driver_mem) >= 4 * _GIB
    )


def _scratch_dir(driver_mem: str, mem_total: int | None) -> str | None:
    """Fast local scratch for shuffle files and localCheckpoint spill.

    Single-node shuffles write every Exchange to ``spark.local.dir``
    (default /tmp, the shared system disk here); on a multi-tenant box
    that disk's contention swings shuffle-heavy wall-clock 2-4x while
    CPU-bound queries are unaffected — measured live in the r8 bench,
    where untouched shuffle-heavy queries regressed 20-70% against a
    FASTER cpu canary. A RAM-backed tmpfs (/dev/shm) removes that
    variance when the host has RAM to spare (:func:`shm_fits`). The
    cluster-scale analog is standard ops guidance, not a local hack:
    put spark.local.dir on fast local NVMe, never on a shared/network
    volume. Overridable (or disabled with an empty value) via
    $SPARK_GRAFT_LOCAL_DIR."""
    d = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if d is not None:
        return d or None
    if os.path.isdir("/dev/shm"):
        # on hosts where /dev/shm is small (64 MB–50% RAM is common in
        # containers) shuffle writes would ENOSPC where the /tmp
        # default succeeds (r8 ADVICE)
        try:
            st = os.statvfs("/dev/shm")
        except OSError:
            return None
        if not shm_fits(st.f_bavail * st.f_frsize, mem_total, driver_mem):
            return None
        d = "/dev/shm/spark-graft-local"
        try:
            os.makedirs(d, exist_ok=True)
        except OSError:
            return None
        _sweep_stale_scratch(d)
        return d
    return None


def _sweep_stale_scratch(root: str, max_age_sec: float = 3 * 3600.0) -> None:
    """Best-effort removal of scratch subtrees from long-dead runs.

    Spark removes its spark-*/blockmgr-* dirs on clean shutdown, but a
    SIGKILLed process (harness timeouts) leaks them — and on tmpfs a
    leak is resident RAM, not disk. Staleness is keyed on the NEWEST
    mtime found anywhere under the subtree, not the top-level dir's:
    a directory's mtime reflects creation of its direct children
    (session start), while ongoing shuffle writes land in nested
    blockmgr-*/NN/ subdirs — keying on the top level would delete a
    live >3h session's shuffle blocks out from under it (r8 ADVICE).
    The walk early-exits at the first recent file, so live trees cost
    one short scan. Errors are ignored so a concurrent session racing
    the sweep is harmless."""
    import shutil
    import time as _time

    try:
        entries = list(os.scandir(root))
    except OSError:
        return
    cutoff = _time.time() - max_age_sec

    def subtree_is_stale(top: str) -> bool:
        try:
            if os.stat(top).st_mtime >= cutoff:
                return False
            for dirpath, dirnames, filenames in os.walk(top):
                for name in dirnames + filenames:
                    try:
                        if os.lstat(os.path.join(dirpath, name)).st_mtime >= cutoff:
                            return False
                    except OSError:
                        continue
        except OSError:
            return False  # can't prove staleness -> leave it
        return True

    for e in entries:
        try:
            if subtree_is_stale(e.path):
                shutil.rmtree(e.path, ignore_errors=True)
        except OSError:
            continue


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults."""
    n = cpus or default_parallelism()
    mem_total = _mem_total()
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(
        mem_total
    )
    # local[n,2]: the retry count MUST ride in the master string — under
    # a plain local[n] master Spark hardcodes maxFailures=1
    # (MAX_LOCAL_TASK_FAILURES) and silently ignores the
    # spark.task.maxFailures conf (r11 ADVICE, verified empirically on
    # pyspark 4.1.2: a task failing its first attempt aborts the job
    # with "failed 1 times" despite the conf). One retry absorbs the
    # pooled-Python-daemon race (see the comment below); deterministic
    # failures still fail fast after 2 attempts. Honors
    # $SPARK_GRAFT_CPUS: n is the same core count as before.
    builder = (
        SparkSession.builder.master(f"local[{n},2]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Prefer shuffled-hash over sort-merge when the planner's size
        # conditions fit, and let AQE rewrite SMJ->SHJ at runtime when
        # every post-shuffle partition is under 64 MB (r11, guide §3.1:
        # SHJ skips both sort passes; the OOM risk SMJ's default guards
        # is bounded by exactly these size conditions). Scale-neutral —
        # the conditions are per-partition, not per-box; measured
        # same-session interleaved A/B at sf0.1: dedup_simhash_portable
        # x0.80, part_copurchase_communities x0.89, local_bridges
        # x0.93, nothing consistently slower. Runtime SQL confs, so a
        # caller can flip them back per query via spark.conf.set.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "67108864"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.maxResultSize", "2g")
        # The retry that absorbs the pooled-Python-daemon race (r11: a
        # deliberately raising mapInPandas job kills its workers
        # mid-handshake and the pool hands the NEXT Python stage a dead
        # one -> ClosedChannelException) lives in the MASTER string
        # above — this conf is ignored under local[] masters and is set
        # here only for non-local deployments that copy this builder.
        .config("spark.task.maxFailures", "2")
        # Cached plans otherwise keep their pre-AQE output partitioning
        # (default false), so every persist()ed intermediate pins
        # shuffle.partitions-many partitions no matter how small the
        # frame is — at 32 cores each downstream stage over a KB-sized
        # cached frame then launches 32 near-empty tasks, measured r12
        # as a 32-core SLOWDOWN vs 8 cores on the cache-reusing seats
        # (events_rolling_dau 1.33s -> 0.80s from this conf alone;
        # guide §2.2: let AQE coalesce small partitions). Scale-neutral:
        # AQE coalesces by size, so big cached frames keep their width.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # local mode: one JVM hosts driver + all executor threads, so the
        # driver heap must be sized for N concurrent tasks (default 1g
        # OOMs under 32 parallel hash-agg tasks) and for the host
        # (default_driver_mem). Must be set before the JVM launches;
        # getOrCreate on an existing session ignores it.
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    scratch = _scratch_dir(driver_mem, mem_total)
    if scratch:
        # must be set before the JVM launches (like driver.memory)
        builder = builder.config("spark.local.dir", scratch)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
