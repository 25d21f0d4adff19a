"""Round-9 regression fixtures for the r8 driver hash FAIL
(``corpus_heaps_beta``) — the signed-zero terminal-round class.

Mechanism (VERDICT r8, reproduced locally): Spark's ``round(double,
k)`` routes through BigDecimal HALF_UP, which has no signed zero, so a
tiny-negative input emits ``+0.0``; DuckDB's C-library rounding keeps
the sign and emits ``-0.0``. The driver's value hash distinguishes the
two — and the local harness didn't, because ``tests/oracle.py:_norm``
deliberately collapsed ``-0.0``/``0.0``. Three fixes, each pinned
here:

1. ``_norm`` now preserves a zero's sign, so local parity fails
   exactly where the driver fails.
2. ``corpus_zipf_fit``/``corpus_heaps_beta`` moved to the exact
   integer micro-unit OLS (``_ols_micro``) — no double reaches the
   output row, so the class is impossible by type. Pinned on the two
   degenerate corpora the class needs: saturated vocabulary (the
   literal r8 failure) and a near-zero-slope frequency table.
3. Every other terminal signed ``round(...)`` in twin SQL carries a
   ``+ 0.0`` normalization (Spark-semantics-exact, enforced by
   ``plans/lint.py``), pinned by the engine-divergence test below.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from big_data_tools_spark.plans.lint import lint_twin_sql
from big_data_tools_spark.queries.registry import all_queries

from .oracle import _norm, compare


def _fixture_dir(tmp_path, tables: dict[str, pa.Table]) -> str:
    from big_data_tools_spark.io.schemas import TABLE_NAMES

    from .conftest import SF_SMOKE

    for name, tbl in tables.items():
        pq.write_table(tbl, str(tmp_path / f"{name}.parquet"))
    for name in TABLE_NAMES:
        if name not in tables:
            os.symlink(
                os.path.join(SF_SMOKE, f"{name}.parquet"),
                str(tmp_path / f"{name}.parquet"),
            )
    return str(tmp_path)


def _docs_table(texts: list[str]) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["t"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _compare_at_partitions(spark, name: str, sf: str, parts: int):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        return compare(spark, all_queries()[name], sf)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# ------------------------------------------------------------------ 1.
def test_norm_distinguishes_signed_zero():
    """The local compare must distinguish exactly what the driver
    distinguishes — collapsing -0.0 kept the r8 class invisible to
    every local parity record, DRYRUN and test_oracle_parity at once."""
    assert _norm(-0.0) != _norm(0.0)
    assert _norm(0.0) == "0.0"
    assert _norm(-0.0) == "-0.0"
    assert _norm(float("nan")) == "NaN"
    assert _norm(1.5) == "1.5"


# ------------------------------------------------------------------ 3.
def test_engine_round_zero_sign_divergence(spark):
    """Pin the mechanism AND the fix: DuckDB round keeps a zero's
    sign, Spark round drops it, and `round(...) + 0.0` in the twin SQL
    reproduces Spark's output bit-for-bit (IEEE: x + 0.0 == x for all
    x except -0.0 -> +0.0)."""
    con = duckdb.connect()
    raw, normed = con.execute(
        "SELECT round(-1e-9, 6), round(-1e-9, 6) + 0.0"
    ).fetchone()
    assert _norm(raw) == "-0.0"  # the r8 driver-side value
    assert _norm(normed) == "0.0"
    (spark_val,) = (
        spark.range(1).select(F.round(F.lit(-1e-9), 6)).collect()[0]
    )
    assert _norm(spark_val) == "0.0"  # Spark drops the sign
    assert _norm(normed) == _norm(spark_val)
    # nonzero values are untouched by the normalization
    a, b = con.execute("SELECT round(-1.23456749, 6), round(-1.23456749, 6) + 0.0").fetchone()
    assert a == b


# ------------------------------------------------------------------ 2.
@pytest.mark.parametrize("parts", [2, 13])
def test_heaps_beta_saturated_vocab_strict_parity(spark, tmp_path, parts):
    """The literal r8 failure scenario: a vocabulary that saturates
    before the first checkpoint makes the OLS slope degenerate. The
    integer surface gives ns = 0 EXACTLY -> beta_micro = 0 in both
    engines; the full driver-style compare (now -0.0-strict) must be
    green at two partition counts."""
    texts = [
        " ".join(["alpha", "beta", "gamma", "delta", "eps"][j % 5] for j in range(i, i + 12))
        for i in range(100)
    ]
    sf = _fixture_dir(tmp_path, {"documents": _docs_table(texts)})
    # BOTH migrated twins through the degenerate corpus (zipf on a
    # saturated vocab has near-equal head frequencies — its own
    # flavor of the tiny-slope input)
    for name in ("corpus_heaps_beta", "corpus_zipf_fit"):
        ok, msg = _compare_at_partitions(spark, name, sf, parts)
        assert ok, f"{name}: {msg}"
    row = all_queries()["corpus_heaps_beta"].fn(spark, sf).collect()[0]
    assert row.heaps_beta_micro == 0
    assert row.r2_micro == 0


@pytest.mark.parametrize("parts", [2, 13])
def test_zipf_near_zero_slope_strict_parity(spark, tmp_path, parts):
    """Near-zero-slope fixture: word frequencies alternate 8/9, so the
    ln(freq)-on-ln(rank) slope is a tiny negative — the exact input
    shape that produced -0.0 under the old terminal-round idiom. The
    micro-unit output is a small negative INTEGER, identical in both
    engines, at both partition counts."""
    words = [f"w{i:02d}" for i in range(60)]
    texts = []
    for i, w in enumerate(words):
        freq = 8 + (i % 2)
        texts.append(" ".join([w] * freq))
    sf = _fixture_dir(tmp_path, {"documents": _docs_table(texts)})
    for name in ("corpus_zipf_fit", "corpus_heaps_beta"):
        ok, msg = _compare_at_partitions(spark, name, sf, parts)
        assert ok, f"{name}: {msg}"
    row = all_queries()["corpus_zipf_fit"].fn(spark, sf).collect()[0]
    assert row.n_points == 60
    assert -100_000 < row.zipf_slope_micro < 0  # tiny but strictly negative
    assert isinstance(row.zipf_slope_micro, int)


def test_corpus_fit_surfaces_are_integer():
    """No double may reach the output row of the redesigned fits —
    the type-level guarantee that kills the class."""
    for name in ("corpus_zipf_fit", "corpus_heaps_beta"):
        sql = all_queries()[name].sql
        assert "AS DOUBLE" not in sql.split("SELECT CAST(n AS BIGINT)")[-1], name


# ------------------------------------------------------------------ lint
def test_lint_rejects_unnormalized_terminal_round():
    """The r8 failing idiom — terminal round over a signed double
    without normalization — must be flagged; the normalized and the
    integer-cast forms must pass."""
    bad = "SELECT round((a - b) / n, 6) AS slope FROM t"
    assert any("slope" in p for p in lint_twin_sql("x", bad))
    ok_normed = "SELECT round((a - b) / n, 6) + 0.0 AS slope FROM t"
    assert not lint_twin_sql("x", ok_normed)
    ok_int = "SELECT CAST(round((a - b) / n, 6) AS BIGINT) AS slope FROM t"
    assert not lint_twin_sql("x", ok_int)
    ok_nonneg = "SELECT round(a / n, 6) AS share FROM t"
    assert not lint_twin_sql("x", ok_nonneg)


def test_all_registered_twins_pass_lint():
    from big_data_tools_spark.plans.lint import lint_all_twins

    assert lint_all_twins() == []
