"""Advanced aggregation surface split out of ``advanced.py``
(kept under ~400 lines per module): array/statistical aggregates,
exact-vs-approx quantiles, unpivot, share-of-total, correlation, mode
and histogram queries. Join/window/set-op queries stay in
``advanced.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.agg import dmean, dsum, sql_dmean, sql_dsum, sql_money_sum
from ..io.sources import load_table
from ..operators.partitioning import fan_out
from .registry import register


@register(
    "embedding_centroids",
    sql=f"""
    WITH flat AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS pos,
               unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings
    )
    SELECT label, CAST(pos AS INT) AS pos,
           {sql_dmean('v', 4)} AS centroid_v
    FROM flat WHERE pos <= 8 GROUP BY label, pos
    """,
    doc="Per-label embedding centroid (first 8 dims, long form) via "
    "posexplode + grouped mean — array aggregation without UDFs; the "
    "wide->long explode shuffles once on (label, pos).",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), "vec_id")
    flat = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v"),
    ).withColumn("pos", (F.col("pos0") + 1).cast("int")).filter(F.col("pos") <= 8)
    return flat.groupBy("label", "pos").agg(dmean("v", 4).alias("centroid_v"))


@register(
    "frequent_big_spenders",
    sql=f"""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           {sql_money_sum('o_totalprice')} AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 10
       AND sum(CAST(o_totalprice AS DECIMAL(18,2))) > 1500000
    """,
    doc="HAVING surface: post-aggregation predicate on both count and "
    "exact decimal sum; Catalyst plans it as filter-above-agg with the "
    "partial agg still map-side.",
)
def frequent_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend_dec"),
        )
        .filter((F.col("n_orders") >= 10) & (F.col("spend_dec") > 1500000))
        .select(
            "o_custkey",
            "n_orders",
            F.round(F.col("spend_dec").cast("double"), 2).alias("total_spend"),
        )
    )


@register(
    "doc_length_quantiles",
    sql="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(quantile_cont(n_chars, 0.5), 2) AS p50,
           round(quantile_cont(n_chars, 0.9), 2) AS p90,
           round(quantile_cont(n_chars, 0.99), 2) AS p99
    FROM documents GROUP BY source
    """,
    doc="Exact interpolated percentiles of document length per source "
    "(Spark `percentile` == DuckDB `quantile_cont`, both exact "
    "interpolation — deterministic across engines). The 100 TB path "
    "swaps in approx_percentile (t-digest, one pass, mergeable) — "
    "exposed as doc_length_quantiles_approx (rows-only: sketch "
    "internals differ engine to engine).",
)
def doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile("n_chars", 0.5), 2).alias("p50"),
        F.round(F.percentile("n_chars", 0.9), 2).alias("p90"),
        F.round(F.percentile("n_chars", 0.99), 2).alias("p99"),
    )


@register(
    "doc_length_quantiles_approx",
    sql=None,  # approx sketches are engine-specific by design
    doc="approx_percentile twin of doc_length_quantiles: single-pass "
    "mergeable sketch, the correct choice at 100 TB where exact "
    "percentile would sort each group. Accuracy band vs the exact "
    "form asserted in tests/test_scale_ops.py. The sketch's "
    "array<double> result is projected to scalar p50/p90/p99 columns "
    "(same shape as the exact twin) — downstream row canonicalizers "
    "can't sort/hash list-valued cells.",
)
def doc_length_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.approx_percentile("n_chars", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10000).alias(
            "q"
        ),
    )
    return agg.select(
        "source",
        "n_docs",
        F.element_at("q", 1).cast("double").alias("p50"),
        F.element_at("q", 2).cast("double").alias("p90"),
        F.element_at("q", 3).cast("double").alias("p99"),
    )


@register(
    "event_value_stats",
    sql="""
    WITH s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
                    AS DOUBLE) AS sxx
        FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           round(sx / n, 2) AS mean_value,
           round(sqrt((sxx - sx * sx / n) / (n - 1)), 4) + 0.0 AS stddev_value
    FROM s
    """,
    doc="Mean/stddev per event_type from EXACT decimal sums (sum x, "
    "sum x^2 are associative in decimal, so results are partition- "
    "order and engine independent; the double math after aggregation "
    "is identical IEEE on identical inputs). The naive "
    "round(stddev_samp(double)) would differ in final ulps between "
    "engines.",
)
def event_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("sx"),
        F.sum(dec * dec).cast("double").alias("sxx"),
    )
    return s.select(
        "event_type",
        "n",
        F.round(F.col("sx") / F.col("n"), 2).alias("mean_value"),
        F.round(
            F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)),
            4,
        ).alias("stddev_value"),
    )


@register(
    "lineitem_metric_unpivot",
    sql="""
    WITH long_form AS (
        SELECT 'quantity' AS metric, l_quantity AS v FROM lineitem
        UNION ALL
        SELECT 'extendedprice' AS metric, l_extendedprice AS v FROM lineitem
        UNION ALL
        SELECT 'discount' AS metric, l_discount AS v FROM lineitem
    )
    SELECT metric,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
           round(min(v), 2) AS min_v,
           round(max(v), 2) AS max_v
    FROM long_form GROUP BY metric
    """,
    doc="Wide->long unpivot (melt; the scale-correct form of the "
    "reference's per-column loops P7): Spark unpivot/stack emits all "
    "metrics in ONE scan pass — the UNION ALL oracle twin scans three "
    "times, which is exactly the rewrite this operator exists to "
    "avoid at 100 TB.",
)
def lineitem_metric_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    long_form = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="v",
    ).withColumn("metric", F.regexp_replace("metric", "^l_", ""))
    return long_form.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("v").cast("decimal(18,2)")).cast("double"), 2).alias("total"),
        F.round(F.min("v"), 2).alias("min_v"),
        F.round(F.max("v"), 2).alias("max_v"),
    )


@register(
    "segment_revenue_share",
    sql="""
    WITH seg AS (
        SELECT c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS n_orders,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    )
    SELECT segment, n_orders,
           round(CAST(rev_dec AS DOUBLE), 2) + 0.0 AS revenue,
           round(CAST(rev_dec AS DOUBLE)
                 / CAST(sum(rev_dec) OVER () AS DOUBLE), 4) AS revenue_share
    FROM seg
    """,
    doc="Share-of-total via an empty-frame window over the aggregated "
    "rollup: the total rides a window on ~5 segment rows, not a "
    "second scan or a driver collect. Ratio computed from exact "
    "decimal sums (identical IEEE division on identical inputs), so "
    "the share survives the cross-engine hash check.",
)
def segment_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               o.o_custkey == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_dec"),
        )
    )
    w = Window.partitionBy()
    return seg.select(
        "segment",
        "n_orders",
        F.round(F.col("rev_dec").cast("double"), 2).alias("revenue"),
        F.round(
            F.col("rev_dec").cast("double") / F.sum("rev_dec").over(w).cast("double"), 4
        ).alias("revenue_share"),
    )


@register(
    "returnflag_price_corr",
    sql="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
               sum(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
               sum(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round(CAST(sx AS DOUBLE) / n, 2) AS avg_qty,
           round(CAST(sy AS DOUBLE) / n, 2) AS avg_price,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                 / (n - 1), 2) + 0.0 AS covar_qty_price,
           round((n * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(n * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(n * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0
               AS corr_qty_price
    FROM s
    """,
    doc="Grouped Pearson correlation + sample covariance from exact "
    "decimal moment sums (n, Σx, Σy, Σx², Σy², Σxy): the five sums "
    "accumulate in decimal so they are order-independent across "
    "engines, then the closed-form corr/covar is one identical IEEE "
    "expression on both sides — no native corr()/covar_samp(), whose "
    "running-update summation order is engine-specific. Map-side "
    "partial aggregation applies; one shuffle on l_returnflag.",
)
def returnflag_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qd = F.col("l_quantity").cast("decimal(18,2)")
    pd_ = F.col("l_extendedprice").cast("decimal(18,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qd).alias("sx"),
        F.sum(pd_).alias("sy"),
        F.sum(qd * qd).alias("sxx"),
        F.sum(pd_ * pd_).alias("syy"),
        F.sum(qd * pd_).alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return s.select(
        "l_returnflag",
        "n",
        F.round(sx / n, 2).alias("avg_qty"),
        F.round(sy / n, 2).alias("avg_price"),
        F.round((sxy - sx * sy / n) / (n - 1), 2).alias("covar_qty_price"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
    )


@register(
    "status_priority_mode",
    sql="""
    WITH c AS (
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    ), r AS (
        SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                   ORDER BY n_orders DESC, o_orderpriority) AS rn
        FROM c
    )
    SELECT o_orderstatus, o_orderpriority AS priority_mode, n_orders
    FROM r WHERE rn = 1
    """,
    doc="Grouped mode (most frequent value): count-then-rank with a "
    "lexical tie-break, the distributed form of mode() — two "
    "map-side-combining aggregations, never a per-group collect. "
    "Deterministic under ties, unlike native mode().",
)
def status_priority_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n_orders"), F.asc("o_orderpriority")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("priority_mode"),
            "n_orders",
        )
    )


@register(
    "discount_band_histogram",
    sql=f"""
    SELECT CAST(round(l_discount * 100) AS INT) AS band_pct,
           CAST(count(*) AS BIGINT) AS n_items,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    GROUP BY band_pct
    """,
    doc="Equi-width histogram: discount banded into 1% bins (scaled "
    "rounding — floor/width_bucket on 2-decimal doubles is "
    "fp-boundary-unstable, round is exact) with per-band row count "
    "and exact-decimal revenue. Single-pass distributed histogram: "
    "no per-band scans, no driver-side binning.",
)
def discount_band_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.select(
            F.round(F.col("l_discount") * 100).cast("int").alias("band_pct"),
            rev.alias("rev"),
        )
        .groupBy("band_pct")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum(F.col("rev")).alias("revenue"))
    )


@register(
    "discount_quantity_spearman",
    sql="""
    WITH cells AS (
        SELECT l_returnflag AS g, l_discount AS x, l_quantity AS y,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2, 3
    ), xv AS (
        SELECT g, x, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY g, x
    ), yv AS (
        SELECT g, y, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY g, y
    ), xr AS (
        SELECT g, x,
               2 * (sum(cx) OVER (PARTITION BY g ORDER BY x
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) - cx) + cx + 1 AS r2x
        FROM xv
    ), yr AS (
        SELECT g, y,
               2 * (sum(cy) OVER (PARTITION BY g ORDER BY y
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) - cy) + cy + 1 AS r2y
        FROM yv
    ), m AS (
        SELECT c.g,
               CAST(sum(c.c) AS DOUBLE) AS n,
               CAST(sum(CAST(c.c AS HUGEINT) * xr.r2x) AS DOUBLE) AS sx,
               CAST(sum(CAST(c.c AS HUGEINT) * yr.r2y) AS DOUBLE) AS sy,
               CAST(sum(CAST(c.c AS HUGEINT) * xr.r2x * xr.r2x) AS DOUBLE)
                   AS sxx,
               CAST(sum(CAST(c.c AS HUGEINT) * yr.r2y * yr.r2y) AS DOUBLE)
                   AS syy,
               CAST(sum(CAST(c.c AS HUGEINT) * xr.r2x * yr.r2y) AS DOUBLE)
                   AS sxy
        FROM cells c
        JOIN xr ON c.g = xr.g AND c.x = xr.x
        JOIN yr ON c.g = yr.g AND c.y = yr.y
        GROUP BY c.g
    )
    SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n_lines,
           (n * sxy - sx * sy)
               / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
               AS spearman_rho
    FROM m
    """,
    doc="Grouped Spearman rank correlation (discount vs quantity per "
    "return flag) — the outlier-robust companion to "
    "discount_quantity_ols and returnflag_price_corr. NO global rank "
    "window over the fact table: tie-aware average ranks come from a "
    "cumulative-count window over the DISTINCT-VALUE grain (the "
    "doc_quality_auc / segment_revenue_gini trick), held in integer "
    "HALF-units (2*rank = 2*cum_before + count + 1) so every rank is "
    "exact; rho is Pearson over (joint-cell count x half-rank) "
    "moments, scale-invariant so the half-units cancel. Moment terms "
    "reach ~4n^3 (> int64 at sf1), so they accumulate as int128/"
    "DECIMAL(38) exact integers on both engines before ONE terminal "
    "cast to double; rho itself is raw IEEE arithmetic on those "
    "identical doubles — no terminal decimal rounding (the "
    "monthly_forecast_accuracy lemma). Scale shape: one fact shuffle "
    "to the joint-value grain; everything after runs on "
    "|distinct x| x |distinct y| cells per group.",
)
def discount_quantity_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("g"),
        F.col("l_discount").alias("x"),
        F.col("l_quantity").alias("y"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    xv = cells.groupBy("g", "x").agg(F.sum("c").cast("bigint").alias("cx"))
    yv = cells.groupBy("g", "y").agg(F.sum("c").cast("bigint").alias("cy"))
    wx = (
        Window.partitionBy("g")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wy = (
        Window.partitionBy("g")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    xr = xv.select(
        "g",
        "x",
        (2 * (F.sum("cx").over(wx) - F.col("cx")) + F.col("cx") + 1).alias(
            "r2x"
        ),
    )
    yr = yv.select(
        "g",
        "y",
        (2 * (F.sum("cy").over(wy) - F.col("cy")) + F.col("cy") + 1).alias(
            "r2y"
        ),
    )
    dec = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    joined = cells.join(xr, ["g", "x"]).join(yr, ["g", "y"])
    m = joined.groupBy("g").agg(
        F.sum("c").cast("double").alias("n"),
        F.sum(dec(F.col("c")) * dec(F.col("r2x"))).cast("double").alias("sx"),
        F.sum(dec(F.col("c")) * dec(F.col("r2y"))).cast("double").alias("sy"),
        F.sum(dec(F.col("c")) * dec(F.col("r2x")) * dec(F.col("r2x")))
        .cast("double")
        .alias("sxx"),
        F.sum(dec(F.col("c")) * dec(F.col("r2y")) * dec(F.col("r2y")))
        .cast("double")
        .alias("syy"),
        F.sum(dec(F.col("c")) * dec(F.col("r2x")) * dec(F.col("r2y")))
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        F.col("g").alias("l_returnflag"),
        n.cast("bigint").alias("n_lines"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("spearman_rho"),
    )
