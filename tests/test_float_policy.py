"""Float-policy lint over every registered oracle twin (VERDICT r6 #2).

The two r6 driver hash failures were both float-policy violations the
lint below would have rejected: corpus_heaps_fit fed round(ln(x), 6)
(libm-dependent) into exact decimal sums; ml_features_split rounded a
raw-double sum (add-order dependent). This test keeps both bug classes
out of the registry permanently.
"""

from __future__ import annotations

import random
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

from big_data_tools_spark.functions.agg import (
    dmean,
    dsum,
    money_avg,
    sql_dmean,
    sql_dsum,
    sql_money_avg,
)
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


def test_lint_catches_inlined_unrolled_chain():
    """Before its steps were MATERIALIZED, the Markov twin's step k+1
    read it{k} twice (it{k+1} and cv{k+1}), and DuckDB re-expanded the
    chain below every read. The lint flags that shape, one problem per
    step, and passes the current one."""
    from big_data_tools_spark.queries.markov import _MK_ITERS, _markov_sql

    current = _markov_sql()
    inlined = current.replace(" AS MATERIALIZED (", " AS (")
    assert lint_twin_sql("markov", current) == []
    problems = lint_twin_sql("markov", inlined)
    assert len(problems) == _MK_ITERS
    assert all("AS MATERIALIZED" in p for p in problems)


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


MEANS = {"money_avg": (money_avg, sql_money_avg), "dmean": (dmean, sql_dmean)}


def _duckdb_agg(sql_expr: str, rows) -> list:
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g INTEGER, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    return con.execute(f"SELECT g, {sql_expr} AS v FROM t GROUP BY g ORDER BY g").fetchall()


@pytest.mark.parametrize("helper", sorted(MEANS))
@pytest.mark.parametrize("rows,expected", [((1.0, 1.01), 1.01), ((-1.0, -1.01), -1.01)])
def test_mean_half_cent_matches_duckdb(spark, helper, rows, expected):
    # the mean 1.005 is 1.00499... as a double: rounding the DOUBLE
    # quotient gives 1.01 in Spark but 1.0 in DuckDB; the exact mean
    # rounds half away from zero to 1.01 in both
    fn, sql_fn = MEANS[helper]
    df = spark.createDataFrame([(x,) for x in rows], "x double")
    got_spark = df.agg(fn("x").alias("v")).first()["v"]
    [(_, got_duckdb)] = _duckdb_agg(sql_fn("x"), [(0, x) for x in rows])
    assert got_spark == got_duckdb == expected


@pytest.mark.parametrize("rows,expected", [((1.0, 1.01), 1.01), ((-1.0, -1.01), -1.01)])
def test_rollup_mean_half_cent_matches_duckdb(spark, rows, expected):
    # as in test_mean_half_cent_matches_duckdb: rounding the DOUBLE
    # quotient splits the engines, so finish_rollup and its
    # orders_incremental_rollup twin round the exact mean of the state
    from big_data_tools_spark.operators.incremental import aggregate_state, finish_rollup
    from big_data_tools_spark.queries import get

    keys = ["o_orderstatus", "o_orderpriority"]
    orders = [("F", "1-URGENT", x) for x in rows]
    df = spark.createDataFrame(
        orders, "o_orderstatus string, o_orderpriority string, o_totalprice double"
    )
    got_spark = finish_rollup(aggregate_state(df, keys, "o_totalprice"), keys).first()["mean"]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders (o_orderstatus VARCHAR, o_orderpriority VARCHAR, o_totalprice DOUBLE)"
    )
    con.executemany("INSERT INTO orders VALUES (?, ?, ?)", orders)
    [(got_duckdb,)] = con.execute(
        f"SELECT mean FROM ({get('orders_incremental_rollup').sql})"
    ).fetchall()
    assert got_spark == got_duckdb == expected


@pytest.mark.parametrize(
    "helper,args,scale",
    [("money_avg", (2,), 2), ("money_avg", (4,), 2), ("dmean", (3,), 6), ("dmean", (2, 2), 2)],
)
def test_mean_is_exact_rounded_mean(spark, helper, args, scale):
    """Both engines give the exact group mean rounded half away from
    zero, on values with ``scale`` decimals (so per-row rounding is a
    no-op) and small groups where ties are common."""
    fn, sql_fn = MEANS[helper]
    rnd = random.Random(7)
    rows = [(g, rnd.randint(-3000, 3000) / 10**scale) for g in range(300)
            for _ in range(rnd.randint(1, 8))]
    sums: dict[int, list] = {}
    for g, x in rows:
        sums.setdefault(g, []).append(Decimal(repr(x)))
    unit = Decimal(1).scaleb(-args[0])
    want = [(g, float((sum(v) / len(v)).quantize(unit, ROUND_HALF_UP)))
            for g, v in sorted(sums.items())]
    df = spark.createDataFrame(rows, "g int, x double")
    got_spark = sorted(tuple(r) for r in df.groupBy("g").agg(fn("x", *args)).collect())
    assert got_spark == want
    assert _duckdb_agg(sql_fn("x", *args), rows) == want
