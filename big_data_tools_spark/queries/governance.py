"""Data-governance and table-maintenance queries: incremental rollup
maintenance, GDPR erasure cascade auditing, and the bucketed
zero-shuffle join layout — the operational shapes around the
reference's batch rebuilds (`Databricks Notebook.py` re-reads the full
table for every groupBy; these are the 100 TB-viable counterparts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.agg import _rounded_mean
from ..io.sources import load_table
from ..operators.cache import track_cache
from ..operators.incremental import aggregate_state, finish_rollup, merge_states
from .registry import register

_CUTOFF = "1997-01-01"  # history/delta split for the incremental demo


@register(
    "orders_incremental_rollup",
    sql=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(o_totalprice) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE), 2)
               AS total,
           {_rounded_mean("sum(CAST(o_totalprice AS DECIMAL(28,2)))",
                          "count(o_totalprice)", 2, 2, spark=False)} AS mean,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi
    FROM orders GROUP BY 1, 2
    """,
    doc="Incremental aggregate maintenance (operators/incremental.py): "
    f"orders split at {_CUTOFF} into a 'stored' history state and a "
    "'new arrivals' delta, each aggregated to mergeable per-key state "
    "(count + exact-decimal sum + min/max), then MERGED — the oracle "
    "recomputes from the full table, proving merge(state(A), state(B)) "
    "== state(A ∪ B) exactly. At 100 TB the merge shuffles |keys| "
    "rows instead of re-scanning years of history; avg derives from "
    "the merged state, never stored.",
)
def orders_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    keys = ["o_orderstatus", "o_orderpriority"]
    cutoff = F.lit(_CUTOFF).cast("date")
    history = aggregate_state(
        orders.filter(F.col("o_orderdate").cast("date") < cutoff), keys, "o_totalprice"
    )
    delta = aggregate_state(
        orders.filter(F.col("o_orderdate").cast("date") >= cutoff), keys, "o_totalprice"
    )
    return finish_rollup(merge_states(keys, history, delta), keys)


@register(
    "gdpr_erasure_cascade",
    sql="""
    WITH ek AS (
        SELECT c_custkey FROM customer
        WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal < 0
    ), eo AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM ek)
    )
    SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM customer) AS customers_total,
        (SELECT CAST(count(*) AS BIGINT) FROM ek) AS customers_erased,
        (SELECT CAST(count(*) AS BIGINT) FROM orders) AS orders_total,
        (SELECT CAST(count(*) AS BIGINT) FROM eo) AS orders_erased,
        (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS lineitems_total,
        (SELECT CAST(count(*) AS BIGINT) FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM eo)) AS lineitems_erased
    """,
    doc="Right-to-erasure cascade audit: how many orders and line "
    "items a customer-erasure request would delete, before deleting "
    "anything. The erasure key set is small by construction, so it "
    "BROADCASTS: each fact table is scanned exactly once with a "
    "broadcast left join providing the erased flag, and totals + "
    "erased counts come from the same conditional aggregate — no "
    "second scan, no fact-side shuffle. (For bulk erasure sets beyond "
    "broadcast size, swap the broadcast joins for shuffle semi joins; "
    "the audit shape is unchanged.)",
)
def gdpr_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    erased = F.col("c_mktsegment").eqNullSafe("AUTOMOBILE") & (F.col("c_acctbal") < 0)
    cust_stats = customer.agg(
        F.count(F.lit(1)).alias("customers_total"),
        F.sum(erased.cast("bigint")).alias("customers_erased"),
    )
    ek = customer.filter(erased).select("c_custkey")
    ord_flag = (
        orders.join(F.broadcast(ek), orders.o_custkey == ek.c_custkey, "left")
        .select("o_orderkey", F.col("c_custkey").isNotNull().alias("erased"))
        .persist()
    )
    ord_stats = ord_flag.agg(
        F.count(F.lit(1)).alias("orders_total"),
        F.sum(F.col("erased").cast("bigint")).alias("orders_erased"),
    )
    eo = ord_flag.filter(F.col("erased")).select("o_orderkey")
    li_stats = lineitem.join(
        F.broadcast(eo), lineitem.l_orderkey == eo.o_orderkey, "left"
    ).agg(
        F.count(F.lit(1)).alias("lineitems_total"),
        F.sum(F.col("o_orderkey").isNotNull().cast("bigint")).alias("lineitems_erased"),
    )
    out = cust_stats.crossJoin(ord_stats).crossJoin(li_stats)
    return track_cache(out, ord_flag)


@register(
    "bucketed_revenue_join",
    sql="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(28,4))) AS DOUBLE), 2) + 0.0 AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
    doc="Co-located bucketed join: orders and lineitem are laid out as "
    "managed tables bucketed 8-ways on the order key (io/sinks.py "
    "write_bucketed), then joined WITHOUT any Exchange — "
    "tests/test_governance.py pins the zero-shuffle-join plan. This "
    "is the layout decision that removes the dominant repeated "
    "shuffle at 100 TB: pay the bucketing once at write time, join "
    "for free forever after. The bucketed copies are rebuilt only "
    "when the source data changes (layout keyed on sf_dir).",
)
def bucketed_revenue_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.sinks import write_bucketed

    # table names keyed on the sf_dir so different scale factors never
    # collide; rebuild only if the catalog doesn't have them yet
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))
    t_orders, t_lines = f"bdt_bkt_orders_{tag}", f"bdt_bkt_lineitem_{tag}"
    catalog = spark.catalog
    if not (catalog.tableExists(t_orders) and catalog.tableExists(t_lines)):
        # a table dir left by a PREVIOUS session is invisible to this
        # session's in-memory catalog but blocks managed-table creation
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
        for t in (t_orders, t_lines):
            if wh:
                shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderpriority"
        )
        lines = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        write_bucketed(orders, t_orders, ["o_orderkey"], 8, sort_by=["o_orderkey"])
        write_bucketed(lines, t_lines, ["l_orderkey"], 8, sort_by=["l_orderkey"])
    o = spark.table(t_orders).filter(F.col("o_orderstatus") == "O")
    l = spark.table(t_lines)
    # merge hint: at test scale Catalyst would broadcast the filtered
    # orders side and ignore the bucketing; at 100 TB sort-merge is
    # what it picks anyway, and ONLY the SMJ path exercises the
    # zero-exchange, zero-sort bucketed layout this query demonstrates
    joined = o.hint("merge").join(l, o.o_orderkey == l.l_orderkey)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
    )


@register(
    "orders_incremental_quantile",
    # the fixed-grid bin math is pure integer/exact-double arithmetic,
    # so the oracle recomputes the merged histogram's median from the
    # raw rows — which also re-proves merge(parts) == full on every
    # run. Bin width 600000/128 = 4687.5 is exact binary, floor()
    # identical across engines; the quantile is the left edge of the
    # first bin whose cumulative count reaches ceil(0.5 * total).
    sql="""
    WITH b AS (
        SELECT o_orderpriority,
               least(127, greatest(0, CAST(floor(
                   CAST(o_totalprice AS DOUBLE)
                   / CAST(4687.5 AS DOUBLE)) AS INTEGER)))
                   AS bin
        FROM orders
    ), counts AS (
        SELECT o_orderpriority, bin, count(*) AS c
        FROM b GROUP BY 1, 2
    ), tot AS (
        SELECT o_orderpriority, sum(c) AS t FROM counts GROUP BY 1
    ), cum AS (
        SELECT o_orderpriority, bin,
               sum(c) OVER (PARTITION BY o_orderpriority
                            ORDER BY bin) AS cc
        FROM counts
    ), hit AS (
        SELECT cum.o_orderpriority, min(bin) AS hb
        FROM cum JOIN tot USING (o_orderpriority)
        WHERE cc >= ceil(0.5 * t)
        GROUP BY 1
    )
    SELECT o_orderpriority,
           hb * CAST(4687.5 AS DOUBLE) AS q50_approx
    FROM hit ORDER BY o_orderpriority
    """,
    doc="Mergeable QUANTILE rollup (operators/incremental.py "
    "histogram_state): per-priority median of o_totalprice derived "
    "from three monthly-style partial histogram states merged into "
    "one — fixed-grid bins add elementwise, so merge(state(A), "
    "state(B)) == state(A∪B) bit-for-bit (vs lossy order-sensitive "
    "KLL/t-digest merges), the stored rollup absorbs deltas forever "
    "without re-scanning history, and the quantile error is bounded "
    "by ONE declared bin width. Rows-only driver check; exactness, "
    "merge-order independence, clamping, and the error bound are "
    "tested.",
)
def orders_incremental_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.incremental import (
        histogram_quantile,
        histogram_state,
        merge_histogram_states,
    )

    orders = load_table(spark, sf_dir, "orders")
    keys = ["o_orderpriority"]
    lo, hi, nb = 0.0, 600_000.0, 128
    parts = [
        histogram_state(
            orders.filter(F.month("o_orderdate") % 3 == i),
            keys,
            "o_totalprice",
            lo,
            hi,
            nb,
        )
        for i in range(3)
    ]
    merged = merge_histogram_states(keys, *parts)
    return histogram_quantile(merged, keys, 0.5, lo, hi).orderBy("o_orderpriority")


_DP_EPS = 0.5          # epsilon per released count
_DP_SALT = "dp0"
_DP_DENOM = (1 << 52) + 1  # md5_hp domain: H in [1, 2^52], u = H/DENOM


def _dp_release_sql() -> str:
    from ..operators.portablemath import pln_ratio_sql
    from ..operators.sampling import sql_md5_hp

    h = sql_md5_hp("source", _DP_SALT)
    m = f"({_DP_DENOM} - abs(2 * {h} - {_DP_DENOM}))"
    sgn = f"(CASE WHEN 2 * {h} > {_DP_DENOM} THEN 1.0 ELSE -1.0 END)"
    noise = (
        f"({sgn} * (1.0 / {_DP_EPS}) * (0.0 - "
        f"{pln_ratio_sql(m, str(_DP_DENOM))}))"
    )
    return f"""
    WITH counts AS (
        SELECT source, CAST(count(*) AS BIGINT) AS true_count
        FROM documents GROUP BY source
    )
    SELECT source, true_count,
           round({noise}, 6) + 0.0 AS noise,
           CAST(true_count + CAST(round({noise}) AS BIGINT) AS BIGINT)
               AS released_count,
           CAST({_DP_EPS} AS DOUBLE) AS epsilon
    FROM counts
    """


@register(
    "documents_dp_release",
    sql=_dp_release_sql(),
    doc="Differentially-private count release (Dwork et al. 2006 "
    "Laplace mechanism) over per-source document counts — the "
    "privacy-preserving publication step a governed corpus pipeline "
    "runs before sharing composition stats: released = true + "
    "Laplace(sensitivity/epsilon) noise, sensitivity 1 for a counting "
    "query, epsilon 0.5. The noise draw is DETERMINISTIC-REPLAYABLE "
    "for auditability (and for the oracle twin): u comes from the "
    "portable md5 uniform of the group key, inverse-CDF'd through the "
    "PORTABLE ln (operators/portablemath.py — zero libm), so both "
    "engines produce the identical draw; production use would salt "
    "per release epoch. Float policy: counts are exact integers; the "
    "inverse-CDF argument is the exact integer (2^52+1) - |2H - "
    "(2^52+1)| over the md5_hp BIGINT so pln sees engine-identical "
    "BIGINTs; the noise expression is per-row IEEE on identical "
    "inputs. Scale shape: one grouped count with map-side combine; "
    "the noise is a narrow per-row projection on the bounded "
    "|sources| frame.",
)
def documents_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.portablemath import pln_ratio_sql
    from ..operators.sampling import md5_hp

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_count")
    )
    h = md5_hp(F.col("source"), _DP_SALT)
    m_int = F.lit(_DP_DENOM).cast("bigint") - F.abs(
        2 * h - F.lit(_DP_DENOM).cast("bigint")
    )
    staged = counts.select(
        "source",
        "true_count",
        m_int.alias("m_int"),
        F.when(2 * h > F.lit(_DP_DENOM).cast("bigint"), F.lit(1.0))
        .otherwise(F.lit(-1.0))
        .alias("sgn"),
    )
    noise = F.col("sgn") * (1.0 / _DP_EPS) * (
        F.lit(0.0) - F.expr(pln_ratio_sql("m_int", str(_DP_DENOM)))
    )
    return staged.select(
        "source",
        "true_count",
        F.round(noise, 6).alias("noise"),
        (F.col("true_count") + F.round(noise).cast("bigint"))
        .cast("bigint")
        .alias("released_count"),
        F.lit(_DP_EPS).alias("epsilon"),
    )
