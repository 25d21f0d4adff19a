"""Session-factory contracts added in r12.

The pooled-Python-daemon race fix rides in the MASTER string — under
plain ``local[n]`` Spark hardcodes maxFailures=1 and silently ignores
the ``spark.task.maxFailures`` conf (verified empirically on pyspark
4.1.2) — so these tests pin (a) the master carries the retry budget,
(b) a task that fails its first attempt and succeeds on retry does NOT
abort the job, and (c) AQE may re-partition cached plans (the 32-core
inversion fix: without it every persist()ed KB-sized frame pins
shuffle.partitions-many near-empty tasks onto every downstream stage).
"""

from __future__ import annotations

import os
import tempfile


def test_master_carries_retry_budget(spark):
    master = spark.sparkContext.master
    assert master.startswith("local[") and master.endswith(",2]"), master


def test_transient_task_failure_is_retried(spark):
    flag = tempfile.mktemp(prefix="bdt-retry-flag-")

    def fail_once(it):
        if not os.path.exists(flag):
            open(flag, "w").close()
            raise RuntimeError("deliberate first-attempt failure")
        return it

    rdd = spark.sparkContext.parallelize([1, 2, 3], 1).mapPartitions(fail_once)
    assert sorted(rdd.collect()) == [1, 2, 3]
    os.unlink(flag)


def test_cached_plan_repartitioning_enabled(spark):
    assert (
        spark.conf.get(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
        )
        == "true"
    )


def test_host_sized_defaults():
    from big_data_tools_spark.session import default_driver_mem, shm_fits

    gib = 1 << 30
    # half of RAM in whole GiB, capped at 16g; 16g when RAM is unknown
    assert default_driver_mem(16_874_930_176) == "7g"  # MemTotal 16479424 kB
    assert default_driver_mem(64 * gib) == "16g"
    assert default_driver_mem(256 * gib) == "16g"
    assert default_driver_mem(3 * gib) == "1g"
    assert default_driver_mem(1 * gib) == "1g"
    assert default_driver_mem(None) == "16g"
    # /dev/shm needs 4 GiB free on the tmpfs and 4 GiB of RAM beyond the heap
    assert shm_fits(16 * gib, 16 * gib, "7g")
    assert shm_fits(4 * gib, 11 * gib, "7g")
    assert not shm_fits(4 * gib - 1, 64 * gib, "7g")
    assert not shm_fits(16 * gib, 11 * gib - 1, "7g")
    assert not shm_fits(16 * gib, 16 * gib, "16g")
    assert not shm_fits(16 * gib, None, "16g")
    assert shm_fits(16 * gib, 8 * gib, "4096m")
    assert not shm_fits(16 * gib, 8 * gib, "4097")  # bare number = MiB
    assert shm_fits(8 * gib, 8 * gib, "2G")
