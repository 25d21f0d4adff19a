"""Core relational queries (SURVEY.md §2.2-§2.6) over driver testdata.

Each query demonstrates reference operators (cited per query) on the
TPC-H-ish tables and carries an exact DuckDB oracle twin. Float policy:
all double aggregates go through functions.agg (exact decimal sums —
order-independent, engine-independent; see that module's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.agg import (
    dmean,
    dsum,
    money_avg,
    money_sum,
    sql_dmean,
    sql_dsum,
    sql_money_avg,
    sql_money_sum,
)
from ..io.sources import load_table
from ..operators.cleaning import dedup_keep_min, null_audit, recode_enum, sentinel_audit
from ..operators.scalar import with_global_max
from ..operators.windows import top_k_per_group
from .registry import register

PIVOT_DATE = "2002-01-01"  # analysis pivot date, after max o_orderdate/l_shipdate
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


# --------------------------------------------------------------------- flagship
@register(
    "order_rollup_flagship",
    sql=f"""
    WITH base AS (
        SELECT o_custkey,
               o_totalprice,
               date_diff('day', o_orderdate, TIMESTAMP '{PIVOT_DATE}') AS recency
        FROM orders
    ), mx AS (SELECT max(recency) AS max_recency FROM base),
    scored AS (
        SELECT b.*,
               o_totalprice * (1.0 - b.recency / m.max_recency) AS adjusted_price
        FROM base b CROSS JOIN mx m
    ), per_cust AS (
        SELECT o_custkey AS c_custkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               {sql_money_sum('o_totalprice')} AS sum_price,
               {sql_dmean('adjusted_price')} AS avg_adjusted_price,
               CAST(count(CASE WHEN o_totalprice > 20000 THEN 1 END) AS BIGINT) AS n_big,
               CAST(count(CASE WHEN o_totalprice <= 20000 THEN 1 END) AS BIGINT) AS n_small
        FROM scored GROUP BY o_custkey
    )
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           p.n_orders, p.sum_price, p.avg_adjusted_price, p.n_big, p.n_small
    FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.c_custkey
    """,
    doc="Flagship rollup: recency/discount scoring (X1-X3,X11), "
    "scalar-subquery max (A6 fixed per §4.3), grouped multi-agg with "
    "conditional counts (A1), left star-join onto the customer dim (J1).",
)
def order_rollup_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    base = orders.select(
        "o_custkey",
        "o_totalprice",
        F.datediff(F.lit(PIVOT_DATE).cast("date"), F.col("o_orderdate")).alias("recency"),
    )
    # scalar stays distributed: 1-row agg broadcast onto the plan (§4.3)
    scored = with_global_max(base, F.col("recency"), "max_recency").withColumn(
        "adjusted_price",
        F.col("o_totalprice") * (F.lit(1.0) - F.col("recency") / F.col("max_recency")),
    )
    per_cust = scored.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum(F.col("o_totalprice")).alias("sum_price"),
        dmean("adjusted_price").alias("avg_adjusted_price"),
        F.count(F.when(F.col("o_totalprice") > 20000, True)).alias("n_big"),
        F.count(F.when(F.col("o_totalprice") <= 20000, True)).alias("n_small"),
    )
    # customer side is the big side at scale; per-cust aggregate joins on
    # its shuffle key — AQE picks broadcast at small SF automatically.
    return customer.select("c_custkey", "c_name", "c_mktsegment").join(
        per_cust, on="c_custkey", how="left"
    )


# --------------------------------------------------------------- pricing summary
@register(
    "pricing_summary",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_money_sum('l_quantity')} AS sum_qty,
           {sql_money_sum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_money_avg('l_quantity')} AS avg_qty,
           {sql_money_avg('l_extendedprice')} AS avg_price,
           {sql_money_avg('l_discount', 4)} AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order,
           CAST(count(CASE WHEN l_quantity > 25 THEN 1 END) AS BIGINT) AS n_bulk
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H-Q1-shaped grouped multi-agg (A1): partial+final hash agg, "
    "filter pushed to scan, conditional count.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(F.col("l_quantity")).alias("sum_qty"),
            money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            money_avg("l_quantity").alias("avg_qty"),
            money_avg("l_extendedprice").alias("avg_price"),
            money_avg("l_discount", 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
            F.count(F.when(F.col("l_quantity") > 25, True)).alias("n_bulk"),
        )
    )


# --------------------------------------------------------------- star join chain
@register(
    "regional_revenue",
    sql=f"""
    SELECT r.r_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           {sql_money_sum('o.o_totalprice')} AS revenue,
           {sql_money_avg('o.o_totalprice')} AS avg_order
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="Multi-way equi-join chain (J2) with broadcast dims: "
    "orders⋈customer⋈nation⋈region, grouped rollup.",
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # nation/region are tiny dims -> explicit broadcast (J1 engine note);
    # customer is broadcastable at test SFs, AQE converts at runtime.
    joined = (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "inner")
    )
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum(F.col("o_totalprice")).alias("revenue"),
        money_avg("o_totalprice").alias("avg_order"),
    )


# ------------------------------------------------------------------ enum recode
@register(
    "priority_recode",
    sql=f"""
    SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'high'
                WHEN o_orderpriority = '3-MEDIUM' THEN 'medium'
                ELSE 'low' END AS urgency,
           CAST(count(*) AS BIGINT) AS n_orders,
           {sql_money_avg('o_totalprice')} AS avg_price
    FROM orders GROUP BY 1
    """,
    doc="when/otherwise enum recode chain (F6; reference :251-275) + "
    "grouped agg over the recoded column.",
)
def priority_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    recoded = o.withColumn(
        "urgency",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "medium")
        .otherwise("low"),
    )
    return recoded.groupBy("urgency").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_avg("o_totalprice").alias("avg_price"),
    )


# ------------------------------------------------------------------- LIKE filter
@register(
    "part_like_filter",
    sql=f"""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           {sql_money_avg('p_retailprice')} AS avg_price
    FROM part
    WHERE p_name LIKE '%widget%' OR p_name LIKE '%bolt%' OR p_name LIKE '%ring%'
    GROUP BY p_brand
    """,
    doc="LIKE-pattern disjunction filter (F1; reference :204 food-industry "
    "filter) pushed toward the scan, then grouped agg.",
)
def part_like_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    keep = (
        F.col("p_name").like("%widget%")
        | F.col("p_name").like("%bolt%")
        | F.col("p_name").like("%ring%")
    )
    return (
        p.filter(keep)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            money_avg("p_retailprice").alias("avg_price"),
        )
    )


# ---------------------------------------------------------------- null/sentinel
@register(
    "null_audit_orders",
    sql="""
    SELECT CAST(count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS BIGINT) AS o_orderkey,
           CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT) AS o_custkey,
           CAST(count(CASE WHEN o_orderstatus IS NULL THEN 1 END) AS BIGINT) AS o_orderstatus,
           CAST(count(CASE WHEN o_totalprice IS NULL OR isnan(o_totalprice) THEN 1 END) AS BIGINT) AS o_totalprice,
           CAST(count(CASE WHEN o_orderdate IS NULL THEN 1 END) AS BIGINT) AS o_orderdate,
           CAST(count(CASE WHEN o_orderpriority IS NULL THEN 1 END) AS BIGINT) AS o_orderpriority
    FROM orders
    """,
    doc="Per-column null/NaN audit as one metaprogrammed aggregation "
    "(A10; reference :648).",
)
def null_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return null_audit(load_table(spark, sf_dir, "orders"))


@register(
    "sentinel_audit_orders",
    sql="""
    SELECT CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS o_orderstatus,
           CAST(count(CASE WHEN o_orderpriority = 'F' THEN 1 END) AS BIGINT) AS o_orderpriority
    FROM orders
    """,
    doc="Per-column sentinel-value audit (A11; reference :653 'Missing').",
)
def sentinel_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sentinel_audit(
        load_table(spark, sf_dir, "orders"),
        sentinel="F",
        cols=["o_orderstatus", "o_orderpriority"],
    )


# ------------------------------------------------------------ distinct / dedup
@register(
    "distinct_status_priority",
    sql="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    doc="Distinct-values audit (A7; reference :228 etc.).",
)
def distinct_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@register(
    "distinct_customer_count",
    sql="""
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    """,
    doc="Distinct count (A8; reference :296 uniqueness probe). At 100 TB "
    "prefer approx_count_distinct; the exact form is the oracle-checked one.",
)
def distinct_customer_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "dedup_orders_keep_first",
    sql="""
    SELECT o_custkey, o_orderstatus,
           min(o_orderkey) AS o_orderkey,
           CAST(count(*) AS BIGINT) AS group_size
    FROM orders GROUP BY o_custkey, o_orderstatus
    """,
    doc="Deterministic dedup (A9; reference dropDuplicates :160,611): one "
    "row per (custkey,status), keeping the min orderkey; window row_number "
    "implementation, single shuffle.",
)
def dedup_orders_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    kept = dedup_keep_min(o, ["o_custkey", "o_orderstatus"], "o_orderkey")
    sizes = o.groupBy("o_custkey", "o_orderstatus").agg(F.count(F.lit(1)).alias("group_size"))
    return kept.select("o_custkey", "o_orderstatus", "o_orderkey").join(
        sizes, on=["o_custkey", "o_orderstatus"], how="inner"
    )


# ------------------------------------------------------------------------ pivot
@register(
    "segment_pivot",
    sql="""
    SELECT c_nationkey,
           CAST(count(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 END) AS BIGINT) AS AUTOMOBILE,
           CAST(count(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS BIGINT) AS BUILDING,
           CAST(count(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 END) AS BIGINT) AS FURNITURE,
           CAST(count(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 END) AS BIGINT) AS HOUSEHOLD,
           CAST(count(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS BIGINT) AS MACHINERY
    FROM customer GROUP BY c_nationkey
    """,
    doc="Pivot to wide counts (A5; reference :342 etc.) with an EXPLICIT "
    "value list — no distinct-scan job, deterministic schema, safe at scale.",
)
def segment_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .pivot("c_mktsegment", SEGMENTS)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


# -------------------------------------------------------------- two-level agg
@register(
    "nation_customer_value",
    sql=f"""
    WITH per_cust AS (
        SELECT c.c_nationkey, o.o_custkey,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS cust_total
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey, o.o_custkey
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_customers,
           {sql_dmean('cust_total', 2, 2)} AS avg_cust_total
    FROM per_cust GROUP BY c_nationkey
    """,
    doc="Two-level aggregation (A4; reference :575,580): per-customer "
    "totals re-aggregated per nation. Second agg reuses the first's "
    "hash-partitioning prefix — no extra full shuffle.",
)
def nation_customer_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_cust = (
        o.join(c.select("c_custkey", "c_nationkey"), o.o_custkey == F.col("c_custkey"), "inner")
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("cust_total"))
    )
    return per_cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dmean("cust_total", 2, 2).alias("avg_cust_total"),
    )


# ------------------------------------------------------------- window / top-k
@register(
    "topk_orders_per_customer",
    sql="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
    doc="Top-k per group via row_number window (§2.6): total order with "
    "unique tiebreaker for determinism; one shuffle on the group key.",
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    return top_k_per_group(
        o,
        keys=["o_custkey"],
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    )


@register(
    "top100_orders",
    sql="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """,
    doc="Global sort + limit (§2.6): Spark plans TakeOrderedAndProject — "
    "per-partition top-100 then driver merge, no full sort at scale.",
)
def top100_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


# --------------------------------------------------------------------- set ops
@register(
    "priority_union",
    sql="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 30000
    UNION
    SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
    WHERE o_orderstatus = 'O' AND o_orderpriority = '1-URGENT'
    """,
    doc="unionByName + distinct (§2.6 set ops, beyond-reference surface).",
)
def priority_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_orderpriority"]
    a = o.filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 30000)).select(cols)
    b = o.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderpriority") == "1-URGENT")
    ).select(cols)
    return a.unionByName(b).distinct()


# ------------------------------------------------------------------ date rollup
@register(
    "monthly_revenue",
    sql=f"""
    SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
           CAST(count(*) AS BIGINT) AS n_lines,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem GROUP BY 1
    """,
    doc="Date-truncated rollup (X1/X2 family + date_trunc from §2.7 "
    "missing-set): monthly revenue over lineitem.",
)
def monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


# -------------------------------------------------- enum recode via operator API
@register(
    "status_recode_operator",
    sql="""
    SELECT CASE WHEN o_orderstatus = 'F' THEN 'fulfilled'
                WHEN o_orderstatus = 'O' THEN 'open'
                WHEN o_orderstatus = 'P' THEN 'pending'
                ELSE 'unknown' END AS status_name,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY 1
    """,
    doc="recode_enum operator (F6 chain as reusable op; reference :238).",
)
def status_recode_operator(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    recoded = recode_enum(
        o,
        "o_orderstatus",
        {"F": "fulfilled", "O": "open", "P": "pending"},
        default="unknown",
        out="status_name",
    )
    return recoded.groupBy("status_name").agg(F.count(F.lit(1)).alias("n"))
