"""``load_table`` infers each parquet file's schema once.

The first load of a file runs Spark's schema inference (one job); later
loads of the unchanged file read with the memoised schema and plan
without a job. These tests pin that a hit launches nothing, that a
rewritten file is re-inferred, that hit and miss agree on every driver
table, and the TIMESTAMP(NANOS) events path on both. They also pin the
declared contract: ``TABLE_SCHEMAS`` is what ``load_table`` returns.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from big_data_tools_spark.io import sources
from big_data_tools_spark.io.schemas import TABLE_NAMES, TABLE_SCHEMAS
from big_data_tools_spark.io.sources import load_table


def _jobs_for(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def test_second_load_submits_no_job(spark, tmp_path):
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}),
                   tmp_path / "region.parquet")
    first, miss_jobs = _jobs_for(
        spark, "memo-miss", lambda: load_table(spark, str(tmp_path), "region").schema
    )
    second, hit_jobs = _jobs_for(
        spark, "memo-hit", lambda: load_table(spark, str(tmp_path), "region").schema
    )
    assert len(miss_jobs) >= 1  # inference is a Spark job
    assert hit_jobs == []
    assert second == first


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    load_table(spark, str(tmp_path), "region")  # now a hit
    pq.write_table(pa.table({"r_regionkey": [7], "r_comment": ["x"], "r_x": [1.5]}), path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.dtypes == [("r_regionkey", "bigint"), ("r_comment", "string"), ("r_x", "double")]
    assert [tuple(r) for r in df.collect()] == [(7, "x", 1.5)]


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_hit_equals_miss(spark, sf_smoke, monkeypatch, name):
    monkeypatch.setattr(sources, "_SCHEMAS", {})
    miss = load_table(spark, sf_smoke, name)
    assert list(sources._SCHEMAS) == [f"{sf_smoke}/{name}.parquet"]
    hit = load_table(spark, sf_smoke, name)
    assert hit.schema == miss.schema
    assert _rows(hit) == _rows(miss)


def test_nanos_events_load_truncated_micros(spark, tmp_path):
    ns = [1_700_000_000_123_456_789, 1_700_000_000_000_000_999, 86_400_000_000_001]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
        }),
        tmp_path / "events.parquet",
        version="2.6",
    )
    ts_type = pq.ParquetFile(tmp_path / "events.parquet").schema.column(1).logical_type
    assert "timeUnit=nanoseconds" in str(ts_type)
    want = sorted((i, v // 1000) for i, v in zip([1, 2, 3], ns))
    for group in ("nanos-miss", "nanos-hit"):
        # as in a fresh session: the memo outlives the session, the conf does not
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        df, jobs = _jobs_for(spark, group, lambda: load_table(spark, str(tmp_path), "events"))
        assert (len(jobs) > 0) == (group == "nanos-miss")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = df.select("event_id", F.unix_micros("ts").alias("us")).collect()
        assert sorted(tuple(r) for r in got) == want
    # the instant, not just the integer (the session time zone is UTC)
    day = df.filter("event_id = 3").select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    assert day.first()[0] == "1970-01-02 00:00:00.000000"


@pytest.mark.parametrize("sf", ["sf_smoke", "sf_oracle"])
@pytest.mark.parametrize("name", TABLE_NAMES)
def test_declared_schema_is_loaded_schema(spark, request, sf, name):
    df = load_table(spark, request.getfixturevalue(sf), name)
    got = [(f.name, f.dataType) for f in df.schema]
    assert got == [(f.name, f.dataType) for f in TABLE_SCHEMAS[name]]
