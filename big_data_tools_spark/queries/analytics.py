"""Warehouse-analytics query shapes: RFM segmentation, retention
cohorts, market-basket lift, and event-transition matrices — the
patterns the reference's users write ad hoc on its tables, each with
an exact DuckDB twin and a plan that survives scale.

Scale stance shared by all four: NO global-sort ranking windows.
RFM quartiles come from exact percentile BOUNDARIES computed in a
1-row aggregate and broadcast back (comparison assignment, not
ntile's single-partition sort); cohorts/basket/transitions are
grouped aggregates with broadcast normalizers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.agg import money_sum, sql_money_sum
from ..io.sources import load_table
from ..operators.portablemath import pln_ratio_sql, pln_sql
from .registry import register

_RFM_PIVOT = "2002-01-01"


@register(
    "customer_rfm_segments",
    sql=f"""
    WITH rfm AS (
        SELECT o_custkey AS c_custkey,
               date_diff('day', CAST(max(o_orderdate) AS DATE),
                         DATE '{_RFM_PIVOT}') AS recency,
               CAST(count(*) AS BIGINT) AS frequency,
               {sql_money_sum('o_totalprice')} AS monetary
        FROM orders WHERE o_custkey IS NOT NULL
        GROUP BY o_custkey
    ), b AS (
        SELECT round(quantile_cont(recency,   0.25), 6) AS r25,
               round(quantile_cont(recency,   0.50), 6) AS r50,
               round(quantile_cont(recency,   0.75), 6) AS r75,
               round(quantile_cont(frequency, 0.25), 6) AS f25,
               round(quantile_cont(frequency, 0.50), 6) AS f50,
               round(quantile_cont(frequency, 0.75), 6) AS f75,
               round(quantile_cont(monetary,  0.25), 6) AS m25,
               round(quantile_cont(monetary,  0.50), 6) AS m50,
               round(quantile_cont(monetary,  0.75), 6) AS m75
        FROM rfm
    ), scored AS (
        SELECT c_custkey,
               CASE WHEN recency <= b.r25 THEN 4 WHEN recency <= b.r50 THEN 3
                    WHEN recency <= b.r75 THEN 2 ELSE 1 END AS r_score,
               CASE WHEN frequency <= b.f25 THEN 1 WHEN frequency <= b.f50 THEN 2
                    WHEN frequency <= b.f75 THEN 3 ELSE 4 END AS f_score,
               CASE WHEN monetary <= b.m25 THEN 1 WHEN monetary <= b.m50 THEN 2
                    WHEN monetary <= b.m75 THEN 3 ELSE 4 END AS m_score
        FROM rfm CROSS JOIN b
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY r_score, f_score, m_score
    """,
    doc="RFM segmentation (recency / frequency / monetary quartile "
    "scores; recency inverted so 4 = most recent): the quartile "
    "BOUNDARIES come from one exact-percentile 1-row aggregate "
    "broadcast back for comparison assignment — no ntile, so no "
    "single-partition global sort over all customers (the scale trap "
    "in every textbook RFM query). Rolled up to segment counts; "
    "boundaries rounded to 6 so the quartile cuts are "
    "engine-deterministic.",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import track_cache

    orders = load_table(spark, sf_dir, "orders")
    # customer-grain frame: persist so the boundary aggregate and the
    # scoring pass share one scan of orders
    rfm = (
        orders.filter(F.col("o_custkey").isNotNull())
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.datediff(
                F.lit(_RFM_PIVOT).cast("date"), F.max(F.col("o_orderdate").cast("date"))
            ).alias("recency"),
            F.count(F.lit(1)).alias("frequency"),
            money_sum(F.col("o_totalprice")).alias("monetary"),
        )
        .persist()
    )
    qs = rfm.agg(
        *[
            F.round(F.percentile(F.col(c), F.lit(p)), 6).alias(f"{c[0]}{int(p * 100)}")
            for c in ("recency", "frequency", "monetary")
            for p in (0.25, 0.50, 0.75)
        ]
    )
    scored = rfm.crossJoin(F.broadcast(qs)).select(
        "c_custkey",
        F.when(F.col("recency") <= F.col("r25"), 4)
        .when(F.col("recency") <= F.col("r50"), 3)
        .when(F.col("recency") <= F.col("r75"), 2)
        .otherwise(1)
        .alias("r_score"),
        F.when(F.col("frequency") <= F.col("f25"), 1)
        .when(F.col("frequency") <= F.col("f50"), 2)
        .when(F.col("frequency") <= F.col("f75"), 3)
        .otherwise(4)
        .alias("f_score"),
        F.when(F.col("monetary") <= F.col("m25"), 1)
        .when(F.col("monetary") <= F.col("m50"), 2)
        .when(F.col("monetary") <= F.col("m75"), 3)
        .otherwise(4)
        .alias("m_score"),
    )
    out = scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    return track_cache(out, rfm)


@register(
    "signup_retention_cohorts",
    sql="""
    WITH first_seen AS (
        SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE)
                   AS cohort_week
        FROM events GROUP BY user_id
    ), cohort_sizes AS (
        SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
        FROM first_seen GROUP BY cohort_week
    ), activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(date_diff('day', f.cohort_week,
                              CAST(date_trunc('week', e.ts) AS DATE)) / 7
                    AS BIGINT) AS week_index
        FROM events e JOIN first_seen f USING (user_id)
    ), retained AS (
        SELECT cohort_week, week_index,
               CAST(count(*) AS BIGINT) AS n_active
        FROM activity GROUP BY cohort_week, week_index
    )
    SELECT r.cohort_week, r.week_index, r.n_active, s.n_cohort,
           round(r.n_active * 1.0 / s.n_cohort, 6) AS retention
    FROM retained r JOIN cohort_sizes s USING (cohort_week)
    WHERE r.week_index <= 8
    """,
    doc="Weekly retention cohorts: users grouped by first-seen week, "
    "activity re-expressed as week offsets from the cohort, retention "
    "= active users / cohort size for the first 8 weeks. Shapes: one "
    "grouped min (first touch), a distinct per (user, week) — the "
    "dedup that makes retention a USER metric, not an event metric — "
    "and two rollups; cohort sizes join back on the already-small "
    "cohort grain. The product-analytics staple the reference's "
    "notebook users hand-roll.",
)
def signup_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import track_cache

    events = load_table(spark, sf_dir, "events")
    # user-grain frame: persist so the activity join and the cohort
    # sizes branch off one scan of events
    first_seen = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    ).persist()
    activity = (
        events.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_week"),
                )
                / 7
            )
            .cast("bigint")
            .alias("week_index"),
        )
        .distinct()
    )
    retained = activity.groupBy("cohort_week", "week_index").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    out = (
        retained.join(F.broadcast(sizes), "cohort_week")
        .filter(F.col("week_index") <= 8)
        .select(
            "cohort_week",
            "week_index",
            "n_active",
            "n_cohort",
            F.round(F.col("n_active") / F.col("n_cohort"), 6).alias("retention"),
        )
    )
    return track_cache(out, first_seen)


_BASKET_MIN_PART = 3   # part must appear in >= N orders
_BASKET_MIN_PAIR = 3   # pair must co-occur in >= N orders
_BASKET_MIN_LIFT = 2.0


@register(
    "part_basket_lift",
    sql=f"""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_orders AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM baskets
    ), part_freq AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS pf
        FROM baskets GROUP BY l_partkey
        HAVING count(*) >= {_BASKET_MIN_PART}
    ), frequent AS (
        SELECT b.l_orderkey, b.l_partkey, f.pf
        FROM baskets b JOIN part_freq f USING (l_partkey)
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               a.pf AS pf_a, b.pf AS pf_b,
               CAST(count(*) AS BIGINT) AS pair_n
        FROM frequent a
        JOIN frequent b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2, 3, 4
        HAVING count(*) >= {_BASKET_MIN_PAIR}
    )
    SELECT part_a, part_b, pair_n,
           round(pair_n * 1.0 * n.n / (pf_a * pf_b), 4) AS lift
    FROM pairs CROSS JOIN n_orders n
    WHERE pair_n * 1.0 * n.n / (pf_a * pf_b) >= {_BASKET_MIN_LIFT}
    """,
    doc="Market-basket association (support-pruned pairwise lift, the "
    "Apriori first pass): parts co-ordered more than independence "
    "predicts. The support prune runs BEFORE the pair self-join — "
    "infrequent parts never enter the quadratic step, and the "
    "per-order fan-out is bounded by lines-per-order squared (single "
    "digits), so the join cost tracks basket density, not |parts|^2. "
    "N and the part frequencies ride the pair rows; lift >= 2 with a "
    "co-occurrence floor keeps the output the interesting tail.",
)
def part_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import track_cache

    lineitem = load_table(spark, sf_dir, "lineitem")
    # the deduped basket index feeds three consumers (N, part counts,
    # the pair join's two sides) — persist so lineitem scans once
    baskets = lineitem.select("l_orderkey", "l_partkey").distinct().persist()
    n_orders = baskets.agg(
        F.count_distinct("l_orderkey").alias("n")
    )
    part_freq = (
        baskets.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("pf"))
        .filter(F.col("pf") >= _BASKET_MIN_PART)
    )
    frequent = baskets.join(part_freq, "l_partkey")
    a = frequent.select(
        F.col("l_orderkey"),
        F.col("l_partkey").alias("part_a"),
        F.col("pf").alias("pf_a"),
    )
    b = frequent.select(
        F.col("l_orderkey"),
        F.col("l_partkey").alias("part_b"),
        F.col("pf").alias("pf_b"),
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b", "pf_a", "pf_b")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= _BASKET_MIN_PAIR)
    )
    lift = F.col("pair_n") * F.lit(1.0) * F.col("n") / (F.col("pf_a") * F.col("pf_b"))
    out = (
        pairs.crossJoin(F.broadcast(n_orders))
        .filter(lift >= _BASKET_MIN_LIFT)
        .select("part_a", "part_b", "pair_n", F.round(lift, 4).alias("lift"))
    )
    return track_cache(out, baskets)


@register(
    "event_transition_matrix",
    sql="""
    WITH seq AS (
        SELECT user_id, event_type AS cur,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ), trans AS (
        SELECT prev, cur, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur
    ), totals AS (
        SELECT prev, sum(n) AS prev_total FROM trans GROUP BY prev
    )
    SELECT t.prev, t.cur, t.n,
           round(t.n * 1.0 / x.prev_total, 6) AS prob
    FROM trans t JOIN totals x USING (prev)
    """,
    doc="First-order event-transition matrix (the Markov view of user "
    "journeys): lag over each user's ordered stream gives (prev, cur) "
    "bigrams, one rollup counts them, and the row-normalizer joins on "
    "the already-tiny |event_types| grain. One shuffle on user_id for "
    "the lag window, one for the bigram count — the flow-diagram "
    "backbone (Sankey inputs) at any scale.",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.lag("event_type").over(w).alias("prev"),
        F.col("event_type").alias("cur"),
    ).filter(F.col("prev").isNotNull())
    trans = seq.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n"))
    # row-normalize with a window over the ALREADY-AGGREGATED
    # |event_types|^2 frame — one lineage, so events scans once
    # (the totals-join form recomputed the lag pass)
    prev_total = F.sum("n").over(Window.partitionBy("prev"))
    return trans.select(
        "prev",
        "cur",
        "n",
        F.round(F.col("n") / prev_total, 6).alias("prob"),
    )


@register(
    "monthly_revenue_seasonality",
    sql=f"""
    WITH m AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               {sql_money_sum('o_totalprice')} AS revenue
        FROM orders GROUP BY 1
    ), w AS (
        SELECT month, revenue,
               round(CAST(sum(CAST(revenue AS DECIMAL(18,2))) OVER
                          (ORDER BY month
                           ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)
                          AS DOUBLE), 2) AS window_revenue,
               CAST(count(*) OVER (ORDER BY month
                     ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING) AS BIGINT)
                   AS window_n
        FROM m
    )
    SELECT CAST(month AS DATE) AS month, revenue, window_revenue,
           round(revenue * 12 / window_revenue, 4) AS seasonal_factor
    FROM w WHERE window_n = 12
    """,
    doc="Classical seasonality decomposition of monthly revenue: a "
    "centered 12-month moving average is the trend, revenue/trend the "
    "seasonal factor (>1 = above-trend month; the trend rides as the "
    "exact rolling 12-month sum), months without a full "
    "12-month window dropped. The window runs over the MONTH-grain "
    "frame — a few dozen rows after the one fact shuffle — so the "
    "unpartitioned ordered window is a deliberate tiny-frame "
    "exception to the no-global-sort rule (same stance as the skew "
    "summary); the fact table itself never sees a sort.",
)
def monthly_revenue_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("month")
    ).agg(money_sum(F.col("o_totalprice")).alias("revenue"))
    w = Window.orderBy("month").rowsBetween(-5, 6)
    # the trend is exposed as the exact 12-month rolling SUM, not the
    # average: dividing the decimal sum by 12 lands exactly on .005
    # midpoints (x.x05) where Spark and DuckDB round(double, 2)
    # disagree, while the sum itself is an exact 2-decimal value and
    # the seasonal ratio below is a non-gridded double both engines
    # compute bit-identically
    scored = m.select(
        "month",
        "revenue",
        F.round(
            F.sum(F.col("revenue").cast("decimal(18,2)")).over(w).cast("double"),
            2,
        ).alias("window_revenue"),
        F.count(F.lit(1)).over(w).alias("window_n"),
    )
    return scored.filter(F.col("window_n") == 12).select(
        "month",
        "revenue",
        "window_revenue",
        F.round(
            F.col("revenue") * 12 / F.col("window_revenue"), 4
        ).alias("seasonal_factor"),
    )


@register(
    "customer_revenue_pareto",
    sql=f"""
    WITH per_cust AS (
        SELECT o_custkey, {sql_money_sum('o_totalprice')} AS revenue
        FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey
    ), bounds AS (
        SELECT round(quantile_cont(revenue, 0.1), 6) AS q1,
               round(quantile_cont(revenue, 0.2), 6) AS q2,
               round(quantile_cont(revenue, 0.3), 6) AS q3,
               round(quantile_cont(revenue, 0.4), 6) AS q4,
               round(quantile_cont(revenue, 0.5), 6) AS q5,
               round(quantile_cont(revenue, 0.6), 6) AS q6,
               round(quantile_cont(revenue, 0.7), 6) AS q7,
               round(quantile_cont(revenue, 0.8), 6) AS q8,
               round(quantile_cont(revenue, 0.9), 6) AS q9
        FROM per_cust
    ), decile AS (
        SELECT CASE WHEN revenue <= b.q1 THEN 1 WHEN revenue <= b.q2 THEN 2
                    WHEN revenue <= b.q3 THEN 3 WHEN revenue <= b.q4 THEN 4
                    WHEN revenue <= b.q5 THEN 5 WHEN revenue <= b.q6 THEN 6
                    WHEN revenue <= b.q7 THEN 7 WHEN revenue <= b.q8 THEN 8
                    WHEN revenue <= b.q9 THEN 9 ELSE 10 END AS spend_decile,
               revenue
        FROM per_cust CROSS JOIN bounds b
    ), tot AS (
        SELECT {sql_money_sum('o_totalprice')} AS total FROM orders
        WHERE o_custkey IS NOT NULL
    )
    SELECT spend_decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE), 2) + 0.0
               AS revenue,
           round(CAST(sum(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE)
                 / t.total, 6) AS revenue_share
    FROM decile CROSS JOIN tot t
    GROUP BY spend_decile, t.total
    """,
    doc="Revenue-concentration (Pareto) report: customers bucketed "
    "into spend deciles and each decile's share of total revenue — "
    "'does the top decile carry 40%?'. Decile BOUNDARIES come from "
    "one exact-percentile 1-row aggregate broadcast back for "
    "comparison assignment (the RFM trick — no ntile, so no "
    "single-partition sort over all customers); the customer-grain "
    "frame is persisted so boundaries and bucketing share one "
    "fact-table scan.",
)
def customer_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import track_cache

    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        orders.filter(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(money_sum(F.col("o_totalprice")).alias("revenue"))
        .persist()
    )
    bounds = per_cust.agg(
        *[
            F.round(F.percentile(F.col("revenue"), F.lit(i / 10)), 6).alias(f"q{i}")
            for i in range(1, 10)
        ]
    )
    dec = F.when(F.col("revenue") <= F.col("q1"), 1)
    for i in range(2, 10):
        dec = dec.when(F.col("revenue") <= F.col(f"q{i}"), i)
    dec = dec.otherwise(10)
    decile = per_cust.crossJoin(F.broadcast(bounds)).select(
        dec.alias("spend_decile"), "revenue"
    )
    tot = per_cust.agg(
        F.round(F.sum(F.col("revenue").cast("decimal(18,2)")).cast("double"), 2).alias(
            "total"
        )
    )
    out = (
        decile.crossJoin(F.broadcast(tot))
        .groupBy("spend_decile", "total")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.col("revenue").cast("decimal(18,2)")).cast("double"), 2
            ).alias("revenue"),
            F.round(
                F.sum(F.col("revenue").cast("decimal(18,2)")).cast("double")
                / F.col("total"),
                6,
            ).alias("revenue_share"),
        )
        .drop("total")
    )
    return track_cache(out, per_cust)


_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3
_HOLT_HORIZON = 3


@register(
    "monthly_revenue_forecast",
    # each fold step re-quantizes level and trend to 6 decimals (the
    # daily_revenue_cusum recipe), so a recursive CTE replays the
    # recurrence bit-for-bit; the pure-Python replication in
    # tests/test_forecast.py pins it a third way.
    sql=f"""
    WITH RECURSIVE m AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                    AS DOUBLE) AS y
        FROM orders GROUP BY 1
    ), s AS (
        SELECT month, y, row_number() OVER (ORDER BY month) AS rn FROM m
    ), nn AS (SELECT max(rn) AS mx FROM s),
    rec AS (
        SELECT 1 AS rn,
               (SELECT y FROM s WHERE rn = 1) AS l,
               round((SELECT y FROM s WHERE rn = 2)
                     - (SELECT y FROM s WHERE rn = 1), 6) + 0.0 AS b
        UNION ALL
        SELECT r.rn + 1,
               round(CAST({_HOLT_ALPHA!r} AS DOUBLE) * sy.y
                     + CAST({1 - _HOLT_ALPHA!r} AS DOUBLE) * (r.l + r.b), 6),
               round(CAST({_HOLT_BETA!r} AS DOUBLE)
                     * (round(CAST({_HOLT_ALPHA!r} AS DOUBLE) * sy.y
                              + CAST({1 - _HOLT_ALPHA!r} AS DOUBLE)
                                * (r.l + r.b), 6) - r.l)
                     + CAST({1 - _HOLT_BETA!r} AS DOUBLE) * r.b, 6)
        FROM rec r JOIN s sy ON sy.rn = r.rn + 1
    ), fin AS (
        SELECT l, b FROM rec, nn WHERE rn = nn.mx
    ), last AS (
        SELECT month FROM s, nn WHERE rn = nn.mx
    )
    SELECT CAST(last.month + to_months(CAST(h AS INTEGER)) AS DATE) AS month,
           round(fin.l + h * fin.b, 2) AS forecast
    FROM fin, last,
         (SELECT unnest(range(1, {_HOLT_HORIZON} + 1)) AS h) hs
    """,
    doc="Holt linear-trend forecast (double exponential smoothing, "
    "alpha=0.5 beta=0.3) of monthly revenue, 3 months ahead. The "
    "recurrence is inherently sequential, but the SERIES is tiny "
    "(month grain), so the scale split is: one distributed fact "
    "shuffle to month grain, then the fold runs as a single "
    "F.aggregate lambda over the array_sort-ed (month, revenue) "
    "array inside ONE row — no driver loop, no UDF, deterministic "
    "fold order, level/trend re-quantized each step so the DuckDB "
    "recursive-CTE twin hash-matches. Emits (month, forecast) rows "
    "via sequence-explode.",
)
def monthly_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("month")
    ).agg(money_sum(F.col("o_totalprice")).cast("double").alias("y"))
    agged = m.agg(
        F.array_sort(F.collect_list(F.struct("month", "y"))).alias("s")
    )
    a, b = _HOLT_ALPHA, _HOLT_BETA
    first = F.element_at(F.col("s"), 1)["y"]
    second = F.element_at(F.col("s"), 2)["y"]
    init = F.struct(first.alias("l"), F.round(second - first, 6).alias("b"))
    rest = F.slice(F.col("s"), 2, F.greatest(F.size("s") - 1, F.lit(0)))

    def _step(acc, x):
        new_l = F.round(
            F.lit(a) * x["y"] + F.lit(1 - a) * (acc["l"] + acc["b"]), 6
        )
        new_b = F.round(
            F.lit(b) * (new_l - acc["l"]) + F.lit(1 - b) * acc["b"], 6
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    folded = agged.select(
        F.aggregate(rest, init, _step).alias("st"),
        F.element_at(F.col("s"), F.size("s"))["month"].alias("m0"),
    )
    return folded.select(
        F.explode(F.sequence(F.lit(1), F.lit(_HOLT_HORIZON))).alias("h"),
        "st",
        "m0",
    ).select(
        F.add_months(F.col("m0"), F.col("h")).alias("month"),
        F.round(F.col("st")["l"] + F.col("h") * F.col("st")["b"], 2).alias(
            "forecast"
        ),
    )


_LN2 = 0.6931471805599453  # shared literal: keep both engines on one constant

# portable integer-arg ln pieces (r7 float policy)
_pln_n_pn = f'({pln_sql("t.n")} - {pln_sql("x.pn")})'
_pln_mi = (
    f'(({pln_sql("n")} + {pln_sql("t")})'
    f' - ({pln_sql("nx")} + {pln_sql("ny")}))'
)


@register(
    "event_entropy_rate",
    sql=f"""
    WITH seq AS (
        SELECT event_type AS cur,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ), trans AS (
        SELECT prev, cur, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur
    ), totals AS (
        SELECT prev, sum(n) AS pn FROM trans GROUP BY prev
    ), grand AS (
        SELECT sum(n) AS t FROM trans
    ), terms AS (
        SELECT t.prev,
               -- ln(n/pn) = pln(n) - pln(pn): portable no-libm ln (r7)
               round(-(t.n * 1.0 / x.pn)
                     * round({_pln_n_pn}, 6) / {_LN2!r}, 8) + 0.0 AS term
        FROM trans t JOIN totals x USING (prev)
    ), state AS (
        SELECT terms.prev,
               CAST(x.pn AS BIGINT) AS n_out,
               round(x.pn * 1.0 / (SELECT t FROM grand), 6) AS pi,
               round(CAST(sum(CAST(term AS DECIMAL(28,10))) AS DOUBLE), 6)
                   AS h_bits
        FROM terms JOIN totals x USING (prev)
        GROUP BY terms.prev, x.pn
    )
    SELECT prev, n_out, pi, h_bits,
           round(CAST((SELECT sum(CAST(round(s2.pi * s2.h_bits, 8)
                                       AS DECIMAL(28,10))) FROM state s2)
                      AS DOUBLE), 6) AS entropy_rate_bits
    FROM state
    """,
    doc="Entropy rate of the user-journey Markov chain (Shannon 1948; "
    "Cover & Thomas ch.4): per-state conditional entropy "
    "H(next | state) in bits plus the chain's overall rate "
    "sum_s pi(s) H(.|s) with pi the empirical source-state "
    "distribution — the single number that says how PREDICTABLE user "
    "behavior is (0 = deterministic funnels, log2|states| = uniform "
    "noise), and the information-theoretic companion to "
    "event_transition_matrix's raw probabilities. Everything reduces "
    "at the |event_types|^2 transition grain after one lag window "
    "and one count shuffle, so the chain math costs nothing beyond "
    "the bigram rollup at any scale. Per-term quantization "
    "(ln to 6dp, term to 8dp, decimal sums) keeps the DuckDB twin "
    "hash-matched bit-for-bit.",
)
def event_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.lag("event_type").over(w).alias("prev"),
        F.col("event_type").alias("cur"),
    ).filter(F.col("prev").isNotNull())
    trans = seq.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n"))
    pn = F.sum("n").over(Window.partitionBy("prev"))
    t_all = F.sum("n").over(Window.partitionBy())
    p = F.col("n") / F.col("pn")
    terms = trans.select(
        "prev",
        F.col("n"),
        pn.alias("pn"),
        t_all.alias("t"),
    ).select(
        "prev",
        "pn",
        "t",
        F.round(
            -p
            * F.round(F.expr(pln_sql("n")) - F.expr(pln_sql("pn")), 6)
            / F.lit(_LN2),
            8,
        ).alias("term"),
    )
    state = terms.groupBy("prev", "pn", "t").agg(
        F.round(
            F.sum(F.col("term").cast("decimal(28,10)")).cast("double"), 6
        ).alias("h_bits")
    )
    state = state.select(
        "prev",
        F.col("pn").cast("bigint").alias("n_out"),
        F.round(F.col("pn") / F.col("t"), 6).alias("pi"),
        "h_bits",
    )
    rate = state.agg(
        F.round(
            F.sum(
                F.round(F.col("pi") * F.col("h_bits"), 8).cast("decimal(28,10)")
            ).cast("double"),
            6,
        ).alias("entropy_rate_bits")
    )
    return state.crossJoin(F.broadcast(rate))


@register(
    "segment_revenue_gini",
    sql="""
    WITH rev AS (
        SELECT c.c_mktsegment,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_custkey
    ), vals AS (
        SELECT c_mktsegment, x, CAST(count(*) AS BIGINT) AS c
        FROM rev GROUP BY c_mktsegment, x
    ), pos AS (
        SELECT c_mktsegment, x, c,
               CAST(sum(c) OVER (PARTITION BY c_mktsegment ORDER BY x
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) - c AS BIGINT) AS cum0
        FROM vals
    ), terms AS (
        SELECT c_mktsegment, c,
               CAST(x * c AS DECIMAL(38,2)) AS sx,
               CAST(x * CAST(cum0 * c + c * (c + 1) // 2 AS BIGINT)
                    AS DECIMAL(38,2)) AS rx
        FROM pos
    ), seg AS (
        SELECT c_mktsegment,
               CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(sx) AS DOUBLE) AS s,
               CAST(sum(rx) AS DOUBLE) AS t
        FROM terms GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, n AS n_customers, round(s, 2) AS revenue_total,
           round((2.0 * t - (n + 1) * s) / (n * s), 6) + 0.0 AS gini
    FROM seg
    """,
    doc="Revenue-concentration Gini coefficient per market segment via "
    "the tie-aware rank formula G = (2*Sigma(i*x_i) - (n+1)*S)/(n*S). "
    "Scale shape: the fact table reduces to customer grain with one "
    "exact-decimal aggregate, then to DISTINCT-REVENUE grain (ties "
    "collapsed, so the sorted-prefix window runs over value groups, "
    "not customers — within a tie block Sigma i*x_i is closed-form "
    "x*(C*c + c(c+1)/2), identical to any per-customer tiebreak). All "
    "rank weights are integers and every product/prefix sum is exact "
    "DECIMAL, so both engines compute identical slope bits before the "
    "single terminal rounding. The inequality-audit counterpart of "
    "customer_revenue_pareto (top-share) and "
    "supplier_value_concentration (HHI-style).",
)
def segment_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rev = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("decimal(18,2)").alias("x"))
    )
    vals = rev.groupBy("c_mktsegment", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pos = vals.withColumn(
        "cum0", (F.sum("c").over(w) - F.col("c")).cast("bigint")
    )
    c = F.col("c")
    terms = pos.select(
        "c_mktsegment",
        "c",
        (F.col("x") * c).cast("decimal(38,2)").alias("sx"),
        (
            F.col("x")
            * (F.col("cum0") * c + F.floor(c * (c + F.lit(1)) / F.lit(2)))
            .cast("bigint")
        )
        .cast("decimal(38,2)")
        .alias("rx"),
    )
    seg = terms.groupBy("c_mktsegment").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum("sx").cast("double").alias("s"),
        F.sum("rx").cast("double").alias("t"),
    )
    n, s, t = F.col("n"), F.col("s"), F.col("t")
    return seg.select(
        "c_mktsegment",
        n.alias("n_customers"),
        F.round(s, 2).alias("revenue_total"),
        F.round((F.lit(2.0) * t - (n + F.lit(1)) * s) / (n * s), 6).alias("gini"),
    )


@register(
    "discount_quantity_ols",
    sql="""
    WITH pts AS (
        SELECT l_returnflag,
               l_discount AS x, l_quantity AS y
        FROM lineitem
    ), sums AS (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(sum(CAST(round(x * y, 8) AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(round(x * x, 8) AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(round(y * y, 8) AS DECIMAL(28,10))) AS DOUBLE) AS syy
        FROM pts GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_lines,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) + 0.0
               AS intercept,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0.0 AS r2
    FROM sums
    """,
    doc="Grouped closed-form OLS: quantity regressed on discount per "
    "return flag — the does-discounting-move-volume elasticity probe, "
    "and the engine's grouped-regression primitive (the corpus_zipf_fit "
    "machinery generalized from one global fit to one fit PER GROUP in "
    "a single aggregate). Scale shape: one map-side-combining groupBy "
    "over the fact table computes the five moment sums (per-row "
    "quantization + exact decimal accumulation per functions/agg.py), "
    "slope/intercept/r2 are closed-form per group — no second pass, no "
    "gradient loop, no driver round-trips; bit-identical across "
    "engines before the terminal rounding.",
)
def discount_quantity_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_discount"), F.col("l_quantity")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum(F.round(x * y, 8).cast("decimal(28,10)")).cast("double").alias("sxy"),
        F.sum(F.round(x * x, 8).cast("decimal(28,10)")).cast("double").alias("sxx"),
        F.sum(F.round(y * y, 8).cast("decimal(28,10)")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(
        "l_returnflag",
        n.cast("bigint").alias("n_lines"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            (n * sxy - sx * sy)
            * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


_AB_SALT = "ab0"
# DuckDB twin of the arm draw — built from the shared portable-md5
# helper so Spark and the oracle assign identical arms per user
from ..operators.sampling import sql_md5_uniform as _sql_u  # noqa: E402

_AB_U = _sql_u("CAST(user_id AS VARCHAR)", _AB_SALT)


@register(
    "event_value_welch_ab",
    sql=f"""
    WITH assigned AS (
        SELECT event_type,
               CASE WHEN {_AB_U} < 0.5 THEN 1 ELSE 0 END AS in_a,
               value
        FROM events
    ), sums AS (
        SELECT event_type,
               CAST(sum(in_a) AS DOUBLE) AS na,
               CAST(count(*) - sum(in_a) AS DOUBLE) AS nb,
               CAST(sum(CASE WHEN in_a = 1
                    THEN CAST(round(value, 2) AS DECIMAL(18,2)) END)
                    AS DOUBLE) AS sa,
               CAST(sum(CASE WHEN in_a = 0
                    THEN CAST(round(value, 2) AS DECIMAL(18,2)) END)
                    AS DOUBLE) AS sb,
               CAST(sum(CASE WHEN in_a = 1
                    THEN CAST(round(value * value, 6) AS DECIMAL(28,8)) END)
                    AS DOUBLE) AS qa,
               CAST(sum(CASE WHEN in_a = 0
                    THEN CAST(round(value * value, 6) AS DECIMAL(28,8)) END)
                    AS DOUBLE) AS qb
        FROM assigned GROUP BY event_type
    ), welch AS (
        SELECT event_type, na, nb, sa, sb,
               (qa - sa * sa / na) / (na - 1) / na AS wa,
               (qb - sb * sb / nb) / (nb - 1) / nb AS wb
        FROM sums WHERE na > 1 AND nb > 1
    )
    SELECT event_type,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(sa / na, 6) AS mean_a, round(sb / nb, 6) AS mean_b,
           round((sa / na - sb / nb) / sqrt(wa + wb), 6) + 0.0 AS t_stat,
           round((wa + wb) * (wa + wb)
                 / (wa * wa / (na - 1) + wb * wb / (nb - 1)), 6) + 0.0 AS df_welch
    FROM welch
    """,
    doc="Welch two-sample t-test per event type — the A/B-experiment "
    "evaluation primitive. Users split into deterministic arms by the "
    "shared portable-md5 draw (operators/sampling.py md5_uniform, so "
    "DuckDB assigns bit-identical arms); per arm the test needs only "
    "(n, sum, sum-of-squares), all computed in ONE map-side-combining "
    "aggregate with per-row quantization + exact decimal accumulation "
    "(functions/agg.py policy) — t statistic and Welch-Satterthwaite "
    "degrees of freedom are closed-form per group. Scale shape: one "
    "shuffle at event_type grain regardless of fact cardinality; no "
    "pivot, no second pass. Groups with an arm of size <2 are "
    "excluded (variance undefined).",
)
def event_value_welch_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import md5_uniform

    events = load_table(spark, sf_dir, "events")
    v = F.col("value")
    assigned = events.select(
        "event_type",
        F.when(
            md5_uniform(F.col("user_id").cast("string"), _AB_SALT) < 0.5, 1
        )
        .otherwise(0)
        .alias("in_a"),
        v.alias("value"),
    )
    in_a = F.col("in_a") == 1
    sums = assigned.groupBy("event_type").agg(
        F.sum("in_a").cast("double").alias("na"),
        (F.count(F.lit(1)) - F.sum("in_a")).cast("double").alias("nb"),
        F.sum(F.when(in_a, F.round(v, 2).cast("decimal(18,2)")))
        .cast("double")
        .alias("sa"),
        F.sum(F.when(~in_a, F.round(v, 2).cast("decimal(18,2)")))
        .cast("double")
        .alias("sb"),
        F.sum(F.when(in_a, F.round(v * v, 6).cast("decimal(28,8)")))
        .cast("double")
        .alias("qa"),
        F.sum(F.when(~in_a, F.round(v * v, 6).cast("decimal(28,8)")))
        .cast("double")
        .alias("qb"),
    )
    na, nb, sa, sb = F.col("na"), F.col("nb"), F.col("sa"), F.col("sb")
    welch = sums.filter((na > 1) & (nb > 1)).select(
        "event_type",
        na,
        nb,
        sa,
        sb,
        ((F.col("qa") - sa * sa / na) / (na - 1) / na).alias("wa"),
        ((F.col("qb") - sb * sb / nb) / (nb - 1) / nb).alias("wb"),
    )
    wa, wb = F.col("wa"), F.col("wb")
    return welch.select(
        "event_type",
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(sa / na, 6).alias("mean_a"),
        F.round(sb / nb, 6).alias("mean_b"),
        F.round((sa / na - sb / nb) / F.sqrt(wa + wb), 6).alias("t_stat"),
        F.round(
            (wa + wb) * (wa + wb)
            / (wa * wa / (na - 1) + wb * wb / (nb - 1)),
            6,
        ).alias("df_welch"),
    )


_BOOT_B = 40  # replicates; nearest-rank indices derive from the
# SURVIVING count n_reps (ceil(n/40), ceil(39n/40)) since zero-weight
# replicates are excluded — idx 1/39 only when all 40 survive
_BOOT_SALT = "boot0"


def _boot_sql() -> str:
    from ..operators.sampling import sql_md5_uniform, sql_poisson1_weight

    u = sql_md5_uniform(
        "CAST(o_orderkey AS VARCHAR) || '#' || CAST(b AS VARCHAR)", _BOOT_SALT
    )
    w = sql_poisson1_weight(u)
    return f"""
    WITH base AS (
        SELECT c.c_mktsegment AS seg,
               CAST(round(o.o_totalprice, 2) AS DECIMAL(18,2)) AS x,
               o.o_orderkey
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), rep AS (
        SELECT seg, x, o_orderkey,
               CAST(unnest(range({_BOOT_B})) AS BIGINT) AS b
        FROM base
    ), weighted AS (
        SELECT seg, b, x, {w} AS wt FROM rep
    ), means AS (
        SELECT seg, b,
               CAST(sum(wt * x) AS DOUBLE) / CAST(sum(wt) AS DOUBLE) AS m
        FROM weighted GROUP BY seg, b
        HAVING sum(wt) > 0
    ), stats AS (
        SELECT seg, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(x) AS DOUBLE) / count(*) AS mean_rev
        FROM base GROUP BY seg
    ), cis AS (
        SELECT seg, list_sort(list(m)) AS ms,
               CAST(count(*) AS BIGINT) AS n_reps
        FROM means GROUP BY seg
    )
    SELECT s.seg AS c_mktsegment, s.n_orders, c.n_reps,
           round(s.mean_rev, 6) AS mean_revenue,
           -- nearest-rank indices from the SURVIVING replicate count
           -- (zero-total-weight replicates were excluded above), in
           -- exact integer arithmetic: ceil(n/40) and ceil(39n/40)
           round(c.ms[(c.n_reps + 39) // 40], 6) AS ci_lo,
           round(c.ms[(c.n_reps * 39 + 39) // 40], 6) AS ci_hi
    FROM stats s JOIN cis c ON s.seg = c.seg
    """


@register(
    "segment_revenue_bootstrap_ci",
    sql=_boot_sql(),
    doc="95% bootstrap confidence interval for mean order value per "
    "market segment via the POISSON BOOTSTRAP (Chamandy et al. 2012) "
    "— the bootstrap that actually distributes: instead of resampling "
    "indices (a global shuffle per replicate), every (row, replicate) "
    "draws an independent Poisson(1) weight from the shared portable "
    "md5 uniform, so all B=40 replicate means come from ONE bounded "
    "40x fan-out + one map-side-combining aggregate at (segment, "
    "replicate) grain. Weights and uniforms use shared double "
    "literals, so DuckDB reproduces every replicate mean "
    "bit-identically before the terminal rounding. Nearest-rank "
    "2.5%/97.5% over the sorted SURVIVING replicate means (a bounded "
    "array per segment, never a global sort) with indices computed "
    "from n_reps in exact integer arithmetic, because replicates "
    "with zero total weight (probability e^-n per segment) are "
    "excluded by both engines and a tiny segment can lose some. "
    "Scale shape: shuffle volume is |segments| x B rows regardless "
    "of fact cardinality.",
)
def segment_revenue_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import md5_uniform, poisson1_weight

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    base = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.round("o_totalprice", 2).cast("decimal(18,2)").alias("x"),
            "o_orderkey",
        )
    )
    rep = base.select(
        "seg",
        "x",
        "o_orderkey",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    u = md5_uniform(
        F.concat_ws(
            "#", F.col("o_orderkey").cast("string"), F.col("b").cast("string")
        ),
        _BOOT_SALT,
    )
    weighted = rep.select("seg", "b", "x", poisson1_weight(u).alias("wt"))
    means = (
        weighted.groupBy("seg", "b")
        .agg(
            F.sum(F.col("wt") * F.col("x")).alias("wx"),
            F.sum("wt").alias("wsum"),
        )
        .filter(F.col("wsum") > 0)
        .select(
            "seg",
            (F.col("wx").cast("double") / F.col("wsum").cast("double")).alias("m"),
        )
    )
    stats = base.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("mean_rev"),
    )
    cis = means.groupBy("seg").agg(
        F.sort_array(F.collect_list("m")).alias("ms"),
        F.count(F.lit(1)).cast("bigint").alias("n_reps"),
    )
    # nearest-rank indices from the SURVIVING replicate count (small
    # segments can lose zero-total-weight replicates, P = e^-n each):
    # ceil(0.025 n) = (n+39)//40 and ceil(0.975 n) = (39n+39)//40 in
    # exact integer arithmetic, mirrored in the oracle SQL
    lo_idx = F.floor((F.col("n_reps") + 39) / 40).cast("int")
    hi_idx = F.floor((F.col("n_reps") * 39 + 39) / 40).cast("int")
    return stats.join(cis, "seg").select(
        F.col("seg").alias("c_mktsegment"),
        "n_orders",
        "n_reps",
        F.round("mean_rev", 6).alias("mean_revenue"),
        F.round(F.element_at("ms", lo_idx), 6).alias("ci_lo"),
        F.round(F.element_at("ms", hi_idx), 6).alias("ci_hi"),
    )


@register(
    "event_type_hour_mutual_info",
    sql=f"""
    WITH joint AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), marg AS (
        SELECT event_type, hr, n,
               sum(n) OVER (PARTITION BY event_type) AS nx,
               sum(n) OVER (PARTITION BY hr) AS ny,
               sum(n) OVER () AS t
        FROM joint
    ), terms AS (
        -- ln(n*t/(nx*ny)) = (pln(n)+pln(t)) - (pln(nx)+pln(ny)):
        -- portable no-libm ln on integer args; the sum form also
        -- avoids the n*t product overflowing BIGINT at scale (r7)
        SELECT event_type, hr, n,
               round((n * 1.0 / t)
                     * round({_pln_mi}, 6)
                     / {0.6931471805599453!r}, 8) + 0.0 AS term,
               round(round({_pln_mi}, 6)
                     / {0.6931471805599453!r}, 6) + 0.0 AS pmi_bits
        FROM marg
    )
    SELECT event_type, hr, n, pmi_bits,
           round(CAST((SELECT sum(CAST(t2.term AS DECIMAL(28,10)))
                       FROM terms t2) AS DOUBLE), 6) AS mi_bits
    FROM terms
    """,
    doc="Mutual information between event type and hour-of-day in "
    "bits — the does-behavior-depend-on-time-of-day audit (MI = 0 iff "
    "independent; the information-theoretic complement of "
    "lang_source_chi2's significance test and event_entropy_rate's "
    "sequence predictability). Joint counts reduce to the "
    "|event_types| x 24 grain in one map-side-combining aggregate; "
    "marginals are window sums OVER THAT GRID (bounded, never the "
    "fact table); per-cell pointwise MI and the decimal-summed total "
    "use the entropy-rate quantization policy (ln to 6dp, terms to "
    "8dp) so DuckDB hash-matches bit-for-bit.",
)
def event_type_hour_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    joint = events.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    marg = joint.select(
        "event_type",
        "hr",
        "n",
        F.sum("n").over(Window.partitionBy("event_type")).alias("nx"),
        F.sum("n").over(Window.partitionBy("hr")).alias("ny"),
        F.sum("n").over(Window.partitionBy()).alias("t"),
    )
    n, nx, ny, t = F.col("n"), F.col("nx"), F.col("ny"), F.col("t")
    lratio = F.round(F.expr(_pln_mi), 6)
    terms = marg.select(
        "event_type",
        "hr",
        "n",
        F.round((n / t) * lratio / F.lit(_LN2), 8).alias("term"),
        F.round(lratio / F.lit(_LN2), 6).alias("pmi_bits"),
    )
    # total MI as a window sum over the bounded grid — a separate
    # aggregate + crossJoin would recompute the whole lineage and scan
    # events twice (plan-pinned in tests/test_plan_properties.py)
    mi = F.round(
        F.sum(F.col("term").cast("decimal(28,10)"))
        .over(Window.partitionBy())
        .cast("double"),
        6,
    )
    return terms.select("event_type", "hr", "n", "pmi_bits", mi.alias("mi_bits"))


@register(
    "monthly_forecast_accuracy",
    sql=f"""
    WITH RECURSIVE m AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                    AS DOUBLE) AS y
        FROM orders GROUP BY 1
    ), s AS (
        SELECT month, y, row_number() OVER (ORDER BY month) AS rn FROM m
    ), nn AS (SELECT max(rn) AS mx FROM s),
    rec AS (
        SELECT 1 AS rn,
               CAST(round((SELECT y FROM s WHERE rn = 1) * 1000000)
                    AS BIGINT) AS l_u,
               CAST(round(((SELECT y FROM s WHERE rn = 2)
                           - (SELECT y FROM s WHERE rn = 1)) * 1000000)
                    AS BIGINT) AS b_u,
               CAST(0 AS BIGINT) AS se_u, CAST(0 AS BIGINT) AS sn_u,
               CAST(0 AS BIGINT) AS ss_u,
               (SELECT y FROM s WHERE rn = 1) AS py
        UNION ALL
        SELECT r.rn + 1,
               CAST(round((CAST({_HOLT_ALPHA!r} AS DOUBLE) * sy.y
                           + CAST({1 - _HOLT_ALPHA!r} AS DOUBLE)
                             * ((r.l_u + r.b_u) / 1000000.0)) * 1000000)
                    AS BIGINT),
               CAST(round((CAST({_HOLT_BETA!r} AS DOUBLE)
                           * ((CAST(round((CAST({_HOLT_ALPHA!r} AS DOUBLE) * sy.y
                                + CAST({1 - _HOLT_ALPHA!r} AS DOUBLE)
                                  * ((r.l_u + r.b_u) / 1000000.0)) * 1000000)
                               AS BIGINT) - r.l_u) / 1000000.0)
                           + CAST({1 - _HOLT_BETA!r} AS DOUBLE)
                             * (r.b_u / 1000000.0)) * 1000000)
                    AS BIGINT),
               r.se_u + CAST(round(abs(sy.y - (r.l_u + r.b_u) / 1000000.0)
                                   * 1000000) AS BIGINT),
               r.sn_u + CAST(round(abs(sy.y - r.py) * 1000000) AS BIGINT),
               r.ss_u + CASE WHEN abs(sy.y)
                                  + abs((r.l_u + r.b_u) / 1000000.0) = 0
                     THEN 0 ELSE CAST(round(
                          2 * abs(sy.y - (r.l_u + r.b_u) / 1000000.0)
                          / (abs(sy.y) + abs((r.l_u + r.b_u) / 1000000.0))
                          * 100000000) AS BIGINT) END,
               sy.y
        FROM rec r JOIN s sy ON sy.rn = r.rn + 1
    )
    SELECT CAST(nn.mx - 1 AS BIGINT) AS n_steps,
           rec.se_u / 1000000.0 / (nn.mx - 1) AS mae,
           rec.sn_u / 1000000.0 / (nn.mx - 1) AS naive_mae,
           rec.se_u * 1.0 / rec.sn_u AS mase,
           rec.ss_u / 100000000.0 / (nn.mx - 1) AS smape
    FROM rec, nn WHERE rec.rn = nn.mx AND nn.mx >= 2
    """,
    doc="In-sample one-step-ahead accuracy audit of the Holt forecast "
    "(same alpha/beta and trend init as monthly_revenue_forecast): "
    "MAE, the naive last-value baseline MAE, MASE = MAE/naive-MAE "
    "(Hyndman & Koehler 2006 — MASE < 1 means the model beats the "
    "naive forecast), and sMAPE. Float policy learned the hard way: "
    "the ENTIRE recurrence runs in integer micro-units (level/trend "
    "as 1e-6 bigints, error sums as 1e-6/1e-8 bigints) because "
    "scale-6 decimal rounds diverge by one ulp between engines at "
    "decimal boundaries (Spark rounds the exact binary expansion, "
    "DuckDB rounds the x*10^6 product), while SCALE-0 rounds of the "
    "same double are engine-consistent; outputs are raw quotients of "
    "exact integers (IEEE division is correctly rounded), so the "
    "twin is bit-identical with no terminal rounding at all. Scale "
    "shape identical to the forecast: one distributed shuffle to "
    "month grain, then a single-row F.aggregate fold. Note e_2 = 0 "
    "by construction (the trend initializes to y2 - y1).",
)
def monthly_forecast_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("month")
    ).agg(money_sum(F.col("o_totalprice")).cast("double").alias("y"))
    agged = m.agg(
        F.array_sort(F.collect_list(F.struct("month", "y"))).alias("s")
    ).filter(F.size("s") >= 2)
    a, b = _HOLT_ALPHA, _HOLT_BETA
    first = F.element_at(F.col("s"), 1)["y"]
    second = F.element_at(F.col("s"), 2)["y"]
    M = F.lit(1_000_000.0)
    init = F.struct(
        F.round(first * M).cast("long").alias("l_u"),
        F.round((second - first) * M).cast("long").alias("b_u"),
        F.lit(0).cast("long").alias("se_u"),
        F.lit(0).cast("long").alias("sn_u"),
        F.lit(0).cast("long").alias("ss_u"),
        first.alias("py"),
    )
    rest = F.slice(F.col("s"), 2, F.greatest(F.size("s") - 1, F.lit(0)))

    def _step(acc, x):
        pred = (acc["l_u"] + acc["b_u"]) / M
        e_u = F.round(F.abs(x["y"] - pred) * M).cast("long")
        naive_u = F.round(F.abs(x["y"] - acc["py"]) * M).cast("long")
        den = F.abs(x["y"]) + F.abs(pred)
        sm_u = F.when(den == 0, F.lit(0).cast("long")).otherwise(
            F.round(
                F.lit(2.0) * F.abs(x["y"] - pred) / den * F.lit(100_000_000.0)
            ).cast("long")
        )
        new_l_u = (
            F.round((F.lit(a) * x["y"] + F.lit(1 - a) * pred) * M).cast("long")
        )
        new_b_u = F.round(
            (
                F.lit(b) * ((new_l_u - acc["l_u"]) / M)
                + F.lit(1 - b) * (acc["b_u"] / M)
            )
            * M
        ).cast("long")
        return F.struct(
            new_l_u.alias("l_u"),
            new_b_u.alias("b_u"),
            (acc["se_u"] + e_u).alias("se_u"),
            (acc["sn_u"] + naive_u).alias("sn_u"),
            (acc["ss_u"] + sm_u).alias("ss_u"),
            x["y"].alias("py"),
        )

    folded = agged.select(
        F.aggregate(rest, init, _step).alias("st"),
        (F.size("s") - 1).cast("bigint").alias("n_steps"),
    )
    st, k = F.col("st"), F.col("n_steps")
    return folded.select(
        "n_steps",
        (st["se_u"] / M / k).alias("mae"),
        (st["sn_u"] / M / k).alias("naive_mae"),
        (st["se_u"] / st["sn_u"]).alias("mase"),
        (st["ss_u"] / F.lit(100_000_000.0) / k).alias("smape"),
    )


@register(
    "customer_reorder_survival",
    sql="""
    WITH RECURSIVE firsts AS (
        SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS d1
        FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey
    ), seconds AS (
        SELECT o.o_custkey, min(CAST(o.o_orderdate AS DATE)) AS d2
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
        WHERE CAST(o.o_orderdate AS DATE) > f.d1
        GROUP BY o.o_custkey
    ), horizon AS (
        SELECT max(CAST(o_orderdate AS DATE)) AS hmax FROM orders
    ), subjects AS (
        SELECT CASE WHEN s.d2 IS NOT NULL
                    THEN date_diff('day', f.d1, s.d2)
                    ELSE date_diff('day', f.d1, h.hmax) END AS t,
               CASE WHEN s.d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM firsts f LEFT JOIN seconds s ON f.o_custkey = s.o_custkey,
             horizon h
    ), steps AS (
        SELECT t, CAST(sum(ev) AS BIGINT) AS d,
               CAST(count(*) - sum(ev) AS BIGINT) AS c,
               row_number() OVER (ORDER BY t) AS rn
        FROM subjects GROUP BY t
    ), total AS (
        SELECT CAST(count(*) AS BIGINT) AS n0 FROM subjects
    ), rec AS (
        SELECT s.rn, s.t, s.d, s.c, tt.n0 AS n_risk,
               CAST(round(1000000000.0 * (tt.n0 - s.d) / tt.n0) AS BIGINT)
                   AS s_u,
               tt.n0 - s.d - s.c AS n_rem
        FROM steps s, total tt WHERE s.rn = 1
        UNION ALL
        SELECT s.rn, s.t, s.d, s.c, r.n_rem AS n_risk,
               CAST(round(r.s_u * (r.n_rem - s.d) * 1.0 / r.n_rem) AS BIGINT),
               r.n_rem - s.d - s.c
        FROM rec r JOIN steps s ON s.rn = r.rn + 1
    )
    SELECT CAST(t AS BIGINT) AS duration_days,
           n_risk AS n_at_risk, d AS n_events, c AS n_censored,
           s_u / 1000000000.0 AS survival
    FROM rec
    """,
    doc="Kaplan-Meier survival curve for time-to-second-order with "
    "right-censoring at the data horizon (Kaplan & Meier 1958) — the "
    "customer-lifecycle repurchase curve, correctly handling "
    "customers who have not reordered YET (censored at max order "
    "date) instead of dropping or mislabeling them (the classic "
    "retention-analysis bug). The product-limit estimator is "
    "inherently sequential, but the STEP TABLE is duration-grain "
    "(bounded by the calendar), so: facts reduce distributedly to "
    "per-customer first/second dates, then to (duration, deaths, "
    "censored) steps, and the cumulative product folds inside one "
    "row via F.aggregate in integer nano-units — survival_u = "
    "round(prev_u * (n_at_risk - d) / n_at_risk) where every product "
    "stays an exact integer in a double (< 2^53) and IEEE division "
    "is correctly rounded, so the DuckDB recursive-CTE twin is "
    "bit-identical with no terminal rounding (the "
    "monthly_forecast_accuracy float lemma).",
)
def customer_reorder_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    firsts = (
        orders.filter(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(F.min(od).alias("d1"))
    )
    seconds = (
        orders.join(firsts, "o_custkey")
        .filter(od > F.col("d1"))
        .groupBy("o_custkey")
        .agg(F.min(od).alias("d2"))
    )
    horizon = orders.agg(F.max(od).alias("hmax"))
    subjects = (
        firsts.join(seconds, "o_custkey", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("d2").isNotNull(), F.datediff(F.col("d2"), F.col("d1"))
            )
            .otherwise(F.datediff(F.col("hmax"), F.col("d1")))
            .alias("t"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    steps = subjects.groupBy("t").agg(
        F.sum("ev").cast("bigint").alias("d"),
        (F.count(F.lit(1)) - F.sum("ev")).cast("bigint").alias("c"),
    )
    agged = steps.agg(
        F.array_sort(F.collect_list(F.struct("t", "d", "c"))).alias("s"),
        F.sum(F.col("d") + F.col("c")).cast("bigint").alias("n0"),
    ).filter(F.size("s") >= 1)

    # fold carries (n_rem, s_u, trace[]) — integer nano-unit survival
    init = F.struct(
        F.col("n0").alias("n_rem"),
        F.lit(1_000_000_000).cast("long").alias("s_u"),
        F.array().cast(
            "array<struct<t:bigint,n_risk:bigint,d:bigint,c:bigint,s_u:bigint>>"
        ).alias("trace"),
    )

    def _step(acc, x):
        n_risk = acc["n_rem"]
        new_su = F.round(
            acc["s_u"] * (n_risk - x["d"]) / n_risk
        ).cast("long")
        row = F.struct(
            x["t"].cast("bigint").alias("t"),
            n_risk.cast("bigint").alias("n_risk"),
            x["d"].cast("bigint").alias("d"),
            x["c"].cast("bigint").alias("c"),
            new_su.alias("s_u"),
        )
        return F.struct(
            (n_risk - x["d"] - x["c"]).alias("n_rem"),
            new_su.alias("s_u"),
            F.concat(acc["trace"], F.array(row)).alias("trace"),
        )

    folded = agged.select(
        F.explode(F.aggregate(F.col("s"), init, _step)["trace"]).alias("r")
    )
    return folded.select(
        F.col("r.t").alias("duration_days"),
        F.col("r.n_risk").alias("n_at_risk"),
        F.col("r.d").alias("n_events"),
        F.col("r.c").alias("n_censored"),
        (F.col("r.s_u") / F.lit(1_000_000_000.0)).alias("survival"),
    )


@register(
    "nation_supplier_hhi",
    sql="""
    WITH rev AS (
        SELECT s.s_nationkey, l.l_suppkey,
               CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                   * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_nationkey, l.l_suppkey
    ), shares AS (
        SELECT s_nationkey, cents,
               CAST(round(
                   (CAST(cents AS DOUBLE)
                    / CAST(sum(cents) OVER (PARTITION BY s_nationkey)
                           AS DOUBLE))
                   * (CAST(cents AS DOUBLE)
                      / CAST(sum(cents) OVER (PARTITION BY s_nationkey)
                             AS DOUBLE)), 12)
                   AS DECIMAL(28,14)) AS sq
        FROM rev
    ), nat AS (
        SELECT s_nationkey,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               CAST(sum(sq) AS DOUBLE) AS hhi_raw,
               round(CAST(max(cents) AS DOUBLE)
                     / CAST(sum(cents) AS DOUBLE), 8) AS top_share
        FROM shares
        GROUP BY s_nationkey
    )
    SELECT n.n_name, nat.n_suppliers, nat.total_cents,
           round(nat.hhi_raw, 8) AS hhi,
           CASE WHEN nat.hhi_raw <= 0 THEN NULL
                ELSE round(1.0 / nat.hhi_raw, 4) END AS effective_n,
           nat.top_share
    FROM nat JOIN nation n ON n.n_nationkey = nat.s_nationkey
    """,
    doc="Herfindahl-Hirschman supplier-concentration index per nation "
    "— the antitrust-style concentration read that complements "
    "segment_revenue_gini (inequality) and customer_revenue_pareto "
    "(top-heavy share): HHI = sum of squared revenue shares, and its "
    "reciprocal is the 'effective number of suppliers' (Laakso-"
    "Taagepera). Float policy: revenue quantizes to integer CENTS per "
    "row before the BIGINT sum (associative); each share is a per-row "
    "division of engine-identical integers, squared shares re-"
    "quantized to 12dp and decimal-summed (rule 1), final rounding "
    "display-only. Scale shape: one fact-to-dim join (supplier "
    "broadcast at dim scale), one grouped sum at supplier grain, then "
    "window + rollup on the BOUNDED per-nation supplier frame; the "
    "nation name join is a 25-row broadcast.",
)
def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cents_row = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    rev = (
        li.join(
            F.broadcast(sup.select("s_suppkey", "s_nationkey")),
            li["l_suppkey"] == sup["s_suppkey"],
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(cents_row).cast("bigint").alias("cents"))
    )
    wn = Window.partitionBy("s_nationkey")
    share = F.col("cents").cast("double") / F.sum("cents").over(wn)
    shared = rev.select(
        "s_nationkey",
        "cents",
        F.round(share * share, 12).cast("decimal(28,14)").alias("sq"),
    )
    nat = shared.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum("sq").cast("double").alias("hhi_raw"),
        F.round(
            F.max("cents").cast("double") / F.sum("cents").cast("double"), 8
        ).alias("top_share"),
    )
    return nat.join(
        F.broadcast(nation), nat["s_nationkey"] == nation["n_nationkey"]
    ).select(
        "n_name",
        "n_suppliers",
        "total_cents",
        F.round(F.col("hhi_raw"), 8).alias("hhi"),
        F.when(F.col("hhi_raw") <= 0, F.lit(None).cast("double"))
        .otherwise(F.round(1.0 / F.col("hhi_raw"), 4))
        .alias("effective_n"),
        "top_share",
    )


_HILL_K = 100


@register(
    "revenue_tail_hill",
    sql=f"""
    WITH cents AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x,
               o_orderkey
        FROM orders WHERE o_totalprice IS NOT NULL
    ), ranked AS (
        SELECT x, row_number() OVER (ORDER BY x DESC, o_orderkey ASC) AS rn
        FROM cents
    ), thresh AS (
        SELECT x AS xk1 FROM ranked WHERE rn = {_HILL_K + 1}
    ), top AS (
        SELECT r.x FROM ranked r WHERE r.rn <= {_HILL_K}
    )
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
           t.xk1 AS threshold_cents,
           round(CAST(sum(CAST(round(
               {pln_ratio_sql("x", "xk1")}, 9) AS DECIMAL(28,10))) AS DOUBLE)
               / {_HILL_K}, 6) + 0.0 AS hill_h,
           round({_HILL_K}.0 / CAST(sum(CAST(round(
               {pln_ratio_sql("x", "xk1")}, 9) AS DECIMAL(28,10))) AS DOUBLE), 4) + 0.0
               AS tail_alpha
    FROM top CROSS JOIN thresh t
    GROUP BY t.xk1
    """,
    doc="Hill tail-index estimator (Hill 1975) on the order-value "
    "distribution: H = (1/k) * sum ln(x_(i)/x_(k+1)) over the top-k "
    "order statistics, alpha = 1/H — the heavy-tail diagnostic that "
    "tells a capacity planner whether revenue (or token counts, or "
    "session lengths) has Pareto-like tails where means mislead; "
    "complements corpus_zipf_fit (rank-frequency slope) with the "
    "upper-tail-only view. Float policy: values quantize to integer "
    "CENTS per row; each log ratio is the PORTABLE pln difference "
    "(operators/portablemath.py — zero libm) on engine-identical "
    "BIGINTs, quantized to 9dp per row and decimal-summed (rule 1). "
    "Ties at the k-boundary are safe: selection is by (value desc, "
    "orderkey) but H depends only on the value MULTISET, which ties "
    "leave unchanged. Scale shape: one TakeOrdered(k+1) — no global "
    "sort — then all math on the bounded k-row frame with the "
    "threshold broadcast.",
)
def revenue_tail_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.filter(F.col("o_totalprice").isNotNull()).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x"),
        "o_orderkey",
    )
    topk1 = cents.orderBy(F.desc("x"), F.asc("o_orderkey")).limit(_HILL_K + 1)
    w = Window.orderBy(F.desc("x"), F.asc("o_orderkey"))
    ranked = topk1.select("x", F.row_number().over(w).alias("rn"))
    thresh = ranked.filter(F.col("rn") == _HILL_K + 1).select(
        F.col("x").alias("xk1")
    )
    top = ranked.filter(F.col("rn") <= _HILL_K).select("x")
    lr = F.expr(pln_ratio_sql("x", "xk1"))
    hsum = F.sum(F.round(lr, 9).cast("decimal(28,10)")).cast("double")
    return (
        top.crossJoin(F.broadcast(thresh))
        .groupBy("xk1")
        .agg(
            F.round(hsum / _HILL_K, 6).alias("hill_h"),
            F.round(F.lit(float(_HILL_K)) / hsum, 4).alias("tail_alpha"),
        )
        .select(
            F.lit(_HILL_K).cast("bigint").alias("k"),
            F.col("xk1").alias("threshold_cents"),
            "hill_h",
            "tail_alpha",
        )
    )


@register(
    "events_value_anova",
    sql="""
    WITH g AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_g,
               sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS s_g,
               sum(CAST(round(value * value, 6) AS DECIMAL(28,8))) AS q_g
        FROM events GROUP BY event_type
    ), t AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n_g) AS BIGINT) AS n,
               CAST(sum(s_g) AS DOUBLE) AS s,
               CAST(sum(q_g) AS DOUBLE) AS q,
               -- per-group between-term quantized THEN decimal-summed,
               -- so the k-row reduction is add-order independent like
               -- every other cross-row sum in the float policy
               CAST(sum(CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                                   / n_g, 6) AS DECIMAL(28,8))) AS DOUBLE) AS tt
        FROM g WHERE n_g > 0
    ), f AS (
        SELECT k, n,
               tt - s * s / n AS ssb,
               q - tt AS ssw
        FROM t WHERE k > 1 AND n > k
    )
    SELECT k AS n_groups, n AS n_events,
           round(ssb, 4) + 0.0 AS ss_between,
           round(ssw, 4) + 0.0 AS ss_within,
           CASE WHEN ssw <= 0 THEN 0.0E0 ELSE
                round((ssb / (k - 1)) / (ssw / (n - k)), 6) + 0.0 END AS f_stat,
           CASE WHEN ssb + ssw <= 0 THEN 0.0E0 ELSE
                round(ssb / (ssb + ssw), 6) + 0.0 END AS eta_sq
    FROM f
    """,
    doc="One-way ANOVA of event value across ALL event types (r9 wave "
    "— generalizes event_value_welch_ab's two arms to k groups; "
    "Fisher's F = between-group / within-group mean square, plus "
    "eta-squared effect size, the does-this-segmentation-matter "
    "screen run before per-pair tests). Float policy: per-row "
    "quantized decimal sums per group (functions/agg.py recipe), and "
    "the k-row between-term reduction is ITSELF quantized then "
    "decimal-summed, so no cross-row double addition exists at "
    "either grain; closed-form F from bit-identical doubles, "
    "terminal rounds zero-normalized. Scale shape: one map-side-"
    "combining aggregate at event_type grain, one k-row rollup — "
    "the fact table shuffles once at group grain regardless of "
    "cardinality; degenerate cases (one group, zero within-variance) "
    "emit guarded zeros instead of divide-by-zero.",
)
def events_value_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    v = F.col("value")
    g = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(F.round(v, 2).cast("decimal(18,2)")).alias("s_g"),
        F.sum(F.round(v * v, 6).cast("decimal(28,8)")).alias("q_g"),
    )
    t = g.filter(F.col("n_g") > 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("double").alias("s"),
        F.sum("q_g").cast("double").alias("q"),
        F.sum(
            F.round(
                F.col("s_g").cast("double")
                * F.col("s_g").cast("double")
                / F.col("n_g"),
                6,
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("tt"),
    )
    k, n = F.col("k"), F.col("n")
    fr = t.filter((k > 1) & (n > k)).select(
        k,
        n,
        (F.col("tt") - F.col("s") * F.col("s") / n).alias("ssb"),
        (F.col("q") - F.col("tt")).alias("ssw"),
    )
    ssb, ssw = F.col("ssb"), F.col("ssw")
    return fr.select(
        k.alias("n_groups"),
        n.alias("n_events"),
        (F.round(ssb, 4) + F.lit(0.0)).alias("ss_between"),
        (F.round(ssw, 4) + F.lit(0.0)).alias("ss_within"),
        F.when(ssw <= 0, F.lit(0.0))
        .otherwise(F.round((ssb / (k - 1)) / (ssw / (n - k)), 6) + F.lit(0.0))
        .alias("f_stat"),
        F.when(ssb + ssw <= 0, F.lit(0.0))
        .otherwise(F.round(ssb / (ssb + ssw), 6) + F.lit(0.0))
        .alias("eta_sq"),
    )
