"""Float-policy lint over every registered oracle twin (VERDICT r6 #2).

The two r6 driver hash failures were both float-policy violations the
lint below would have rejected: corpus_heaps_fit fed round(ln(x), 6)
(libm-dependent) into exact decimal sums; ml_features_split rounded a
raw-double sum (add-order dependent). This test keeps both bug classes
out of the registry permanently.
"""

from __future__ import annotations

import duckdb
import pytest

from big_data_tools_spark.functions.agg import dsum, sql_dsum
from big_data_tools_spark.plans.lint import lint_all_twins, lint_twin_sql


def test_no_float_policy_violations_in_registry():
    problems = lint_all_twins()
    assert problems == [], "\n".join(problems)


def test_lint_catches_libm_transcendental():
    # the exact corpus_heaps_fit r6 pattern
    sql = "SELECT round(ln(CAST(n AS DOUBLE)), 6) AS x FROM t"
    problems = lint_twin_sql("demo", sql)
    assert any("libm" in p for p in problems)


def test_lint_catches_raw_double_sum():
    # the exact ml_features_split r6 pattern
    sql = "SELECT round(CAST(sum(o_totalprice) AS DOUBLE), 2) FROM orders"
    problems = lint_twin_sql("demo", sql)
    assert any("raw DOUBLE" in p for p in problems)


def test_lint_accepts_quantized_forms():
    ok = [
        # decimal-cast money sum (functions/agg.py recipe)
        "SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders",
        # integer cents
        "SELECT sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) FROM orders",
        # sqrt is IEEE-correctly-rounded, exempt
        "SELECT round(sqrt(x), 6) FROM t",
        # transcendental mentioned only in a comment
        "SELECT a -- ln(x) explained here\nFROM t",
        # round of an exact DECIMAL sum has no signed zero (sql_dsum)
        "SELECT CAST(round(sum(CAST(round(a - b, 6) AS DECIMAL(28,8))), 2)"
        " AS DOUBLE) AS v FROM t",
    ]
    for sql in ok:
        assert lint_twin_sql("demo", sql) == [], sql


@pytest.mark.parametrize("rows,expected", [((1.0, 0.005), 1.01), ((-1.0, -0.005), -1.01)])
def test_dsum_half_cent_matches_duckdb(spark, rows, expected):
    # 1.005 is 1.00499... as a double: rounding the DOUBLE sum gives
    # 1.01 in Spark but 1.0 in DuckDB; rounding the DECIMAL sum gives
    # 1.01 (half away from zero) in both
    df = spark.createDataFrame([(x,) for x in rows], "x double")
    got_spark = df.agg(dsum(df.x).alias("v")).first()["v"]
    values = ", ".join(f"({x}::DOUBLE)" for x in rows)
    got_duckdb = duckdb.connect().execute(
        f"SELECT {sql_dsum('x')} AS v FROM (VALUES {values}) t(x)"
    ).fetchone()[0]
    assert got_spark == got_duckdb == expected
