"""Time-series analytics queries: rolling-window anomaly detection and
time-decay attribution — the telemetry/marketing shapes users of the
reference build ad hoc on its events data (SURVEY.md §2.6 windows
generalized), each with an exact DuckDB twin.

Float policy: window sums ride the functions/agg decimal quantization,
so trailing means/stds are partition-order independent; exp()/sqrt()
run per-row on identical inputs and the outputs are quantized before
comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.sources import load_table
from ..operators.portablemath import pexp_sql
from .registry import register

_Z_WIN = 20          # trailing rows per user
_Z_MIN_N = 5         # minimum history before scoring
_Z_THRESHOLD = 3.0
_DECAY_TAU_S = 1800  # attribution half-life-ish scale (seconds)
_DECAY_WINDOW_S = 3600


@register(
    "user_value_anomalies",
    sql=f"""
    WITH scored AS (
        SELECT user_id, ts, value,
               count(value) OVER w AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
               CAST(sum(CAST(value AS DECIMAL(18,2))
                        * CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN {_Z_WIN} PRECEDING AND 1 PRECEDING)
    ), z AS (
        SELECT user_id, ts, value,
               round((value - s1 / n)
                     / sqrt((s2 - s1 * s1 / n) / (n - 1)), 4) + 0.0 AS zscore
        FROM scored
        WHERE n >= {_Z_MIN_N}
          AND (s2 - s1 * s1 / n) / (n - 1) > 0
    )
    SELECT user_id, ts, value, zscore FROM z
    WHERE abs(zscore) > {_Z_THRESHOLD}
    """,
    doc="Rolling z-score anomaly detection: each event's value scored "
    "against its user's trailing-20-event mean/std (Welford-free: "
    "moments from two EXACT decimal window sums, so the trailing "
    "stats are partition-order independent), flagging |z| > 3. One "
    "shuffle on user_id serves the ordered window; the frame excludes "
    "the current row (no self-contamination) and users with <5 prior "
    "events are unscored. The telemetry-monitoring counterpart of the "
    "batch quality gates.",
)
def user_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_Z_WIN, -1)
    )
    vdec = F.col("value").cast("decimal(18,2)")
    scored = events.select(
        "user_id",
        "ts",
        "value",
        F.count("value").over(w).alias("n"),
        F.sum(vdec).over(w).cast("double").alias("s1"),
        F.sum(vdec * vdec).over(w).cast("double").alias("s2"),
    )
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    z = (
        scored.filter((F.col("n") >= _Z_MIN_N) & (var > 0))
        .withColumn(
            "zscore",
            F.round((F.col("value") - F.col("s1") / F.col("n")) / F.sqrt(var), 4),
        )
    )
    return z.filter(F.abs(F.col("zscore")) > _Z_THRESHOLD).select(
        "user_id", "ts", "value", "zscore"
    )


@register(
    "purchase_decay_attribution",
    sql=f"""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS pts
        FROM events WHERE event_type = 'purchase'
    ), c AS (
        SELECT event_id AS click_id, user_id, ts AS cts
        FROM events WHERE event_type = 'click'
    ), pairs AS (
        -- exp() via the portable no-libm polynomial (r7 float policy):
        -- identical IEEE ops on identical micro-difference inputs in
        -- both engines, so w_raw is bit-identical before quantization
        SELECT p.purchase_id, c.click_id,
               {pexp_sql(f"-date_diff('microsecond', c.cts, p.pts)"
                         f" / 1000000.0 / {_DECAY_TAU_S}")} AS w_raw
        FROM p JOIN c ON p.user_id = c.user_id
        WHERE c.cts < p.pts
          AND c.cts >= p.pts - INTERVAL {_DECAY_WINDOW_S} SECOND
    ), normed AS (
        SELECT purchase_id, click_id,
               CAST(round(w_raw, 9) AS DECIMAL(28,12)) AS w_dec,
               CAST(sum(CAST(round(w_raw, 9) AS DECIMAL(28,12)))
                    OVER (PARTITION BY purchase_id) AS DOUBLE) AS w_sum
        FROM pairs
    )
    SELECT purchase_id, click_id,
           round(CAST(w_dec AS DOUBLE) / w_sum, 6) AS attribution
    FROM normed
    """,
    doc="Time-decay multi-touch attribution: every click within the "
    "hour before a same-user purchase earns weight exp(-age/tau), "
    "normalized per purchase (the marketing-standard refinement of "
    "the last-click as-of join). Same-user equi-join with the time "
    "band as a residual (clicks per user per hour are few — no "
    "all-pairs blowup); per-purchase normalizer is a window sum of "
    "QUANTIZED decimals, so the shares are partition-order and "
    "engine independent.",
)
def purchase_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("pts"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("cts"),
    )
    # exact integer micro difference, ONE division — mirrors the
    # oracle's date_diff('microsecond')/1e6 so the exp() inputs are
    # bit-identical (two separate /1e6 casts could differ in the ulp);
    # exp itself is the portable polynomial (no libm, r7 float policy)
    age_s = (F.unix_micros(F.col("pts")) - F.unix_micros(F.col("cts"))) / 1000000.0
    pairs = (
        p.join(
            c,
            (p.user_id == c.c_user)
            & (c.cts < p.pts)
            & (c.cts >= p.pts - F.expr(f"INTERVAL {_DECAY_WINDOW_S} SECONDS")),
        )
        .withColumn("__x", -age_s / _DECAY_TAU_S)
        .select(
            "purchase_id",
            "click_id",
            F.expr(pexp_sql("__x")).alias("w_raw"),
        )
    )
    w_dec = F.round(F.col("w_raw"), 9).cast("decimal(28,12)")
    normed = pairs.select(
        "purchase_id",
        "click_id",
        w_dec.alias("w_dec"),
        F.sum(w_dec).over(Window.partitionBy("purchase_id"))
        .cast("double")
        .alias("w_sum"),
    )
    return normed.select(
        "purchase_id",
        "click_id",
        F.round(F.col("w_dec").cast("double") / F.col("w_sum"), 6).alias(
            "attribution"
        ),
    )


@register(
    "events_rolling_dau",
    sql="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), daily AS (
        SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day
    ), rolling AS (
        SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS dau_7d
        FROM (SELECT DISTINCT day FROM du) d
        JOIN du u ON u.day >= d.day - 6 AND u.day <= d.day
        GROUP BY d.day
    )
    SELECT daily.day, daily.dau, rolling.dau_7d
    FROM daily JOIN rolling ON daily.day = rolling.day
    """,
    doc="Rolling 7-day distinct active users per day, EXACT (the "
    "engagement headline metric). Sliding distinct cannot be a window "
    "aggregate (distinct doesn't decompose over frames), and the "
    "textbook range self-join explodes at scale — instead each "
    "(user, day) pair from the day-deduped frame (already << |events|) "
    "fans out to the <=7 target days it contributes to via a bounded "
    "sequence-explode, and one count-distinct per target day finishes. "
    "Shuffle volume is 7x the deduped pairs, independent of raw event "
    "count; the tiny daily frame broadcasts back onto the rolling one.",
)
def events_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import track_cache

    events = load_table(spark, sf_dir, "events")
    du = (
        events.select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
        .persist()
    )
    daily = du.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    contrib = du.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
    )
    rolling = contrib.groupBy("day").agg(
        F.count_distinct("user_id").alias("dau_7d")
    )
    # inner join restricts the rolling frame to observed days (the
    # fan-out also lands on up-to-6 ghost days past the last event)
    out = daily.join(rolling, "day").select("day", "dau", "dau_7d")
    return track_cache(out, du)


@register(
    "events_stickiness",
    # same SQL tests/test_stickiness.py pins locally
    sql="""
    WITH mdu AS (
        SELECT DISTINCT date_trunc('month', CAST(ts AS DATE)) AS month,
               CAST(ts AS DATE) AS day, user_id
        FROM events
    ), daily AS (
        SELECT month, round(avg(dau), 4) AS avg_dau FROM (
            SELECT month, day, count(DISTINCT user_id) AS dau
            FROM mdu GROUP BY 1, 2
        ) GROUP BY month
    ), monthly AS (
        SELECT month, count(DISTINCT user_id) AS mau FROM mdu GROUP BY 1
    )
    SELECT monthly.month, CAST(mau AS BIGINT) AS mau, avg_dau,
           round(avg_dau / mau, 6) AS stickiness
    FROM monthly JOIN daily USING (month)
    """,
    doc="Monthly stickiness (avg daily active users / monthly active "
    "users — the DAU/MAU engagement ratio): one pass dedups events to "
    "(month, day, user) grain, from which BOTH distinct counts derive "
    "— daily actives per day then averaged per month, and monthly "
    "actives per month — joined back on the month key (the daily "
    "frame is month-grain-tiny, broadcast). The raw event stream "
    "shuffles once to the dedup grain; every later aggregate works "
    "on <= |users x days| rows.",
)
def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import track_cache

    events = load_table(spark, sf_dir, "events")
    mdu = (
        events.select(
            F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
            F.col("ts").cast("date").alias("day"),
            "user_id",
        )
        .distinct()
        .persist()
    )
    daily = (
        mdu.groupBy("month", "day")
        .agg(F.count_distinct("user_id").alias("dau"))
        .groupBy("month")
        .agg(F.round(F.avg("dau"), 4).alias("avg_dau"))
    )
    monthly = mdu.groupBy("month").agg(F.count_distinct("user_id").alias("mau"))
    out = (
        monthly.join(F.broadcast(daily), "month")
        .select(
            "month",
            "mau",
            "avg_dau",
            F.round(F.col("avg_dau") / F.col("mau"), 6).alias("stickiness"),
        )
        .orderBy("month")
    )
    return track_cache(out, mdu)


_CUSUM_K = 0.5   # slack (in std units) — shifts smaller than k/2 are ignored
_CUSUM_H = 5.0   # alarm threshold (std units), the classic (k, h) pairing


@register(
    "daily_revenue_cusum",
    sql=f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE), 2) AS y
        FROM orders GROUP BY 1
    ), stats AS (
        SELECT count(*) AS n,
               CAST(sum(CAST(y AS DECIMAL(28,2))) AS DOUBLE) AS s1,
               CAST(sum(CAST(round(y * y, 4) AS DECIMAL(38,8))) AS DOUBLE) AS s2
        FROM daily
    ), z AS (
        SELECT row_number() OVER (ORDER BY day) AS rn, day,
               round((y - s1 / n)
                     / sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) + 0.0 AS z
        FROM daily CROSS JOIN stats
    ), c AS (
        SELECT rn, day, z,
               round(greatest(0, z - {_CUSUM_K}), 6) + 0.0 AS sp,
               round(greatest(0, -z - {_CUSUM_K}), 6) + 0.0 AS sn
        FROM z WHERE rn = 1
        UNION ALL
        SELECT d.rn, d.day, d.z,
               round(greatest(0, c.sp + d.z - {_CUSUM_K}), 6),
               round(greatest(0, c.sn - d.z - {_CUSUM_K}), 6)
        FROM c JOIN z d ON d.rn = c.rn + 1
    )
    SELECT day, z AS zscore, sp AS cusum_pos, sn AS cusum_neg,
           CAST(CASE WHEN sp > {_CUSUM_H} OR sn > {_CUSUM_H}
                THEN 1 ELSE 0 END AS INTEGER) AS alarm
    FROM c
    """,
    doc="CUSUM changepoint detection (Page 1954, 'Continuous "
    "inspection schemes') on the daily revenue series: standardized "
    "one-sided cumulative sums s+ = max(0, s+ + z - k), s- = max(0, "
    "s- - z - k) with the classic (k=0.5, h=5) parameters — the "
    "sequential mean-shift detector a pipeline runs on ingest-volume "
    "/ quality-metric series, catching slow drifts that per-point "
    "z-score anomaly checks (user_value_anomalies) miss. Scale "
    "split: the fact table reduces DISTRIBUTED to day grain (exact "
    "decimal sums; the series is ~2.4k rows at any SF), then the "
    "inherently-sequential recurrence folds inside ONE row via "
    "F.aggregate over the array_sort-ed series — no driver loop, no "
    "UDF, deterministic order. Each step re-quantizes to 6 decimals, "
    "so the DuckDB twin's recursive CTE reproduces the recurrence "
    "bit-for-bit. Emits the full per-day trace (z, s+, s-, alarm) — "
    "the alarm days are the changepoints.",
)
def daily_revenue_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("y")
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(28,2)")).cast("double").alias("s1"),
        F.sum(F.round(F.col("y") * F.col("y"), 4).cast("decimal(38,8)"))
        .cast("double")
        .alias("s2"),
    )
    z = daily.crossJoin(F.broadcast(stats)).select(
        "day",
        F.round(
            (F.col("y") - F.col("s1") / F.col("n"))
            / F.sqrt(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                / (F.col("n") - 1)
            ),
            6,
        ).alias("z"),
    )
    series = z.agg(F.array_sort(F.collect_list(F.struct("day", "z"))).alias("s"))
    k = float(_CUSUM_K)
    init = F.struct(
        F.lit(0.0).alias("sp"),
        F.lit(0.0).alias("sn"),
        F.array().cast(
            "array<struct<day:date,z:double,sp:double,sn:double>>"
        ).alias("out"),
    )

    def _step(acc, x):
        sp = F.round(F.greatest(F.lit(0.0), acc["sp"] + x["z"] - F.lit(k)), 6)
        sn = F.round(F.greatest(F.lit(0.0), acc["sn"] - x["z"] - F.lit(k)), 6)
        row = F.struct(
            x["day"].alias("day"),
            x["z"].alias("z"),
            sp.alias("sp"),
            sn.alias("sn"),
        )
        return F.struct(
            sp.alias("sp"),
            sn.alias("sn"),
            F.concat(acc["out"], F.array(row)).alias("out"),
        )

    folded = series.select(
        F.explode(F.aggregate(F.col("s"), init, _step)["out"]).alias("r")
    )
    return folded.select(
        F.col("r.day").alias("day"),
        F.col("r.z").alias("zscore"),
        F.col("r.sp").alias("cusum_pos"),
        F.col("r.sn").alias("cusum_neg"),
        F.when(
            (F.col("r.sp") > _CUSUM_H) | (F.col("r.sn") > _CUSUM_H), 1
        )
        .otherwise(0)
        .alias("alarm"),
    )


_ACF_MAX_LAG = 10


@register(
    "daily_revenue_acf",
    sql=f"""
    WITH rev AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rd
        FROM orders GROUP BY 1
    ), stats AS (
        SELECT CAST(sum(rd) AS DOUBLE) / count(*) AS mu FROM rev
    ), devs AS (
        SELECT day, CAST(rd AS DOUBLE) - mu AS dev FROM rev, stats
    ), den AS (
        SELECT CAST(sum(CAST(round(dev * dev, 6) AS DECIMAL(28,8)))
                    AS DOUBLE) AS d
        FROM devs
    ), lags AS (
        SELECT CAST(unnest(range(1, {_ACF_MAX_LAG + 1})) AS INTEGER) AS lag
    ), pairs AS (
        SELECT l.lag, a.dev AS da, b.dev AS db
        FROM lags l
        JOIN devs a ON TRUE
        JOIN devs b ON b.day = a.day - l.lag
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(sum(CAST(round(da * db, 6) AS DECIMAL(28,8)))
                      AS DOUBLE) / (SELECT d FROM den), 6) AS acf
    FROM pairs GROUP BY lag
    """,
    doc="Autocorrelation function of the daily-revenue series at "
    "calendar lags 1..10 — the seasonality/momentum diagnostic under "
    "monthly_revenue_forecast (a weekly cycle shows as an acf peak at "
    "lag 7). Pairs are CALENDAR-lagged (join on day-k, so date gaps "
    "never misalign the series, unlike a row-offset lag window). "
    "Scale shape: the fact table reduces to day grain in one exact-"
    "decimal aggregate; the mean is a broadcast one-row normalizer; "
    "the lag fan-out joins day-grain frames (|days| x 10 rows, "
    "independent of fact cardinality). Deviation products are "
    "per-row-quantized and decimal-summed so both engines hash "
    "identically.",
)
def daily_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rd"))
    stats = rev.agg(
        (F.sum("rd").cast("double") / F.count(F.lit(1))).alias("mu")
    )
    devs = rev.crossJoin(F.broadcast(stats)).select(
        "day", (F.col("rd").cast("double") - F.col("mu")).alias("dev")
    )
    den = devs.agg(
        F.sum(F.round(F.col("dev") * F.col("dev"), 6).cast("decimal(28,8)"))
        .cast("double")
        .alias("d")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = devs.select(F.col("day").alias("a_day"), F.col("dev").alias("da"))
    b = devs.select(F.col("day").alias("b_day"), F.col("dev").alias("db"))
    pairs = a.crossJoin(F.broadcast(lags)).join(
        b, F.col("b_day") == F.date_sub(F.col("a_day"), F.col("lag"))
    )
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.round(F.col("da") * F.col("db"), 6).cast("decimal(28,8)"))
            .cast("double")
            .alias("num"),
        )
        .crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("bigint").alias("lag"),
            "n_pairs",
            F.round(F.col("num") / F.col("d"), 6).alias("acf"),
        )
    )


@register(
    "daily_revenue_trend_robust",
    sql="""
    WITH rev AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rd
        FROM orders GROUP BY 1
    ), pairs AS (
        -- slopes carried as exact integer micro-units (the repo float
        -- policy): a scale-6 double round can differ by one ulp
        -- between engines at decimal boundaries, so sort and pick the
        -- median over bigints and divide once at the end
        SELECT CASE WHEN b.rd > a.rd THEN 1
                    WHEN b.rd < a.rd THEN -1 ELSE 0 END AS sgn,
               CAST(round(CAST(b.rd - a.rd AS DOUBLE) * 1000000.0
                          / date_diff('day', a.day, b.day)) AS BIGINT)
                   AS slope_u
        FROM rev a JOIN rev b ON b.day > a.day
    ), s AS (
        SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
               CAST(count(*) AS BIGINT) AS m,
               list_sort(list(slope_u)) AS slopes
        FROM pairs
    ), ties AS (
        SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
        FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM rev GROUP BY rd)
        WHERE t > 1
    ), nn AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM rev
    )
    SELECT n AS n_days, s_stat,
           CAST((n * (n - 1) * (2 * n + 5) - tie_term) AS DOUBLE) / 18
               AS var_s,
           round(CASE
               WHEN s_stat > 0 THEN (s_stat - 1)
                   / sqrt((n * (n - 1) * (2 * n + 5) - tie_term) / 18.0)
               WHEN s_stat < 0 THEN (s_stat + 1)
                   / sqrt((n * (n - 1) * (2 * n + 5) - tie_term) / 18.0)
               ELSE 0.0 END, 6) + 0.0 AS mk_z,
           slopes[CAST((m + 1) // 2 AS INTEGER)] / 1000000.0
               AS theil_sen_slope
    FROM s, ties, nn
    """,
    doc="Mann-Kendall trend test + Theil-Sen robust slope over the "
    "daily-revenue series — the nonparametric is-there-a-trend audit "
    "(Mann 1945; Sen 1968): S = sum of pairwise revenue-direction "
    "signs (pure INTEGER arithmetic, hence engine-exact), normal "
    "approximation with the exact tie correction, and the median of "
    "pairwise slopes (carried as round(slope*1e6) BIGINT micro-units "
    "per the repo float policy — both engines sort and pick over "
    "identical integers, then divide once at the end; lower median = "
    "element (m+1)//2 of the sorted list, no interpolation ambiguity). Scale shape: "
    "the fact table reduces to day grain first, so the pairwise "
    "expansion is CALENDAR-bounded (|days|^2 pairs regardless of fact "
    "cardinality — ~2.9M pairs for an 8-year series, forever); one "
    "aggregate collects the bounded slope list. The robust companion "
    "to discount_quantity_ols (outlier days cannot move S at all and "
    "move the slope by at most one rank).",
)
def daily_revenue_trend_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rd"))
    a = rev.select(F.col("day").alias("da"), F.col("rd").alias("ra"))
    b = rev.select(F.col("day").alias("db"), F.col("rd").alias("rb"))
    pairs = a.join(b, F.col("db") > F.col("da")).select(
        F.when(F.col("rb") > F.col("ra"), 1)
        .when(F.col("rb") < F.col("ra"), -1)
        .otherwise(0)
        .alias("sgn"),
        # integer micro-unit slopes — see the SQL twin's pairs CTE
        F.round(
            (F.col("rb") - F.col("ra")).cast("double")
            * F.lit(1_000_000.0)
            / F.datediff(F.col("db"), F.col("da"))
        )
        .cast("bigint")
        .alias("slope_u"),
    )
    s = pairs.agg(
        F.sum("sgn").cast("bigint").alias("s_stat"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sort_array(F.collect_list("slope_u")).alias("slopes"),
    )
    t = F.col("t")
    ties = (
        rev.groupBy("rd")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(t > 1)
        .agg(
            F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0)).alias(
                "tie_term"
            )
        )
    )
    nn = rev.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    n, s_stat, tie = F.col("n"), F.col("s_stat"), F.col("tie_term")
    var_s = (n * (n - 1) * (2 * n + 5) - tie).cast("double") / 18
    return (
        s.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(nn))
        .select(
            n.alias("n_days"),
            "s_stat",
            var_s.alias("var_s"),
            F.round(
                F.when(s_stat > 0, (s_stat - 1) / F.sqrt(var_s))
                .when(s_stat < 0, (s_stat + 1) / F.sqrt(var_s))
                .otherwise(0.0),
                6,
            ).alias("mk_z"),
            (
                F.element_at("slopes", ((F.col("m") + 1) / 2).cast("int"))
                / F.lit(1_000_000.0)
            ).alias("theil_sen_slope"),
        )
    )


@register(
    "daily_revenue_changepoint",
    sql="""
    WITH rev AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS rd_u
        FROM orders GROUP BY 1
    ), idx AS (
        SELECT day, rd_u,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
               CAST(sum(rd_u) OVER (ORDER BY day) AS BIGINT) AS p,
               CAST(count(*) OVER () AS BIGINT) AS n,
               CAST(sum(rd_u) OVER () AS BIGINT) AS g
        FROM rev
    ), scored AS (
        SELECT day, t, n, p, g, abs(n * p - t * g) AS tstat
        FROM idx WHERE t < n
    )
    SELECT day AS changepoint_day,
           t AS t_index, n AS n_days,
           CAST(tstat AS BIGINT) AS cusum_stat,
           round(p / (t * 100.0), 6) AS pre_mean,
           round((g - p) / ((n - t) * 100.0), 6) + 0.0 AS post_mean,
           round((g - p) / ((n - t) * 100.0) - p / (t * 100.0), 6) + 0.0 AS shift
    FROM scored ORDER BY tstat DESC, day ASC LIMIT 1
    """,
    doc="Single most-likely level changepoint in the daily-revenue "
    "series by the CUSUM argmax (the estimation counterpart of "
    "daily_revenue_cusum's DETECTION chart, Page 1954 / Hinkley "
    "1970): the split point t maximizing |n*P_t - t*G| — an exact "
    "integer rescaling of the classic max-|CUSUM-of-deviations| "
    "statistic (scaling by n is monotone, so the argmax is "
    "identical) — with the pre/post means and the level shift at the "
    "break. Revenue is carried in integer CENTS (decimal sum * 100), "
    "prefix sums and the statistic are pure int64 arithmetic, and "
    "ties break to the earliest day, so both engines pick the "
    "identical row. Scale shape: one fact shuffle to day grain; the "
    "prefix-sum window and the argmax TopK run over the "
    "calendar-bounded series (~2.4k rows for 7 years, forever), "
    "never the fact table.",
)
def daily_revenue_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("rd_u")
    )
    wo = Window.orderBy("day")
    wall = Window.partitionBy()
    idx = rev.select(
        "day",
        F.row_number().over(wo).cast("bigint").alias("t"),
        F.sum("rd_u").over(wo).cast("bigint").alias("p"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum("rd_u").over(wall).cast("bigint").alias("g"),
    )
    t, n, p, g = F.col("t"), F.col("n"), F.col("p"), F.col("g")
    scored = idx.filter(t < n).select(
        "day", "t", "n", "p", "g", F.abs(n * p - t * g).alias("tstat")
    )
    pre = p / (t * F.lit(100.0))
    post = (g - p) / ((n - t) * F.lit(100.0))
    return (
        scored.orderBy(F.desc("tstat"), F.asc("day"))
        .limit(1)
        .select(
            F.col("day").alias("changepoint_day"),
            t.alias("t_index"),
            n.alias("n_days"),
            F.col("tstat").cast("bigint").alias("cusum_stat"),
            F.round(pre, 6).alias("pre_mean"),
            F.round(post, 6).alias("post_mean"),
            F.round(post - pre, 6).alias("shift"),
        )
    )


@register(
    "events_burstiness",
    sql="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), grid AS (
        SELECT t.event_type, d.day, COALESCE(daily.c, 0) AS c
        FROM (SELECT DISTINCT event_type FROM daily) t
        CROSS JOIN (SELECT DISTINCT day FROM daily) d
        LEFT JOIN daily ON daily.event_type = t.event_type
                       AND daily.day = d.day
    ), moments AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(c) AS BIGINT) AS total,
               CAST(sum(c * c) AS BIGINT) AS s2
        FROM grid GROUP BY event_type
    )
    SELECT event_type, n_days, total,
           round(CAST(total AS DOUBLE) / n_days, 6) AS mean_daily,
           round((CAST(s2 AS DOUBLE) * n_days
                  - CAST(total AS DOUBLE) * CAST(total AS DOUBLE))
                 / (CAST(n_days AS DOUBLE) * (n_days - 1.0)), 6) + 0.0
               AS var_daily,
           CASE WHEN total = 0 THEN NULL
                ELSE round(((CAST(s2 AS DOUBLE) * n_days
                       - CAST(total AS DOUBLE) * CAST(total AS DOUBLE))
                      / (CAST(n_days AS DOUBLE) * (n_days - 1.0)))
                     / (CAST(total AS DOUBLE) / n_days), 6) + 0.0
           END AS fano,
           CASE WHEN total = 0 THEN NULL
                ELSE round((sqrt((CAST(s2 AS DOUBLE) * n_days
                            - CAST(total AS DOUBLE) * CAST(total AS DOUBLE))
                           / (CAST(n_days AS DOUBLE) * (n_days - 1.0)))
                       - CAST(total AS DOUBLE) / n_days)
                      / (sqrt((CAST(s2 AS DOUBLE) * n_days
                            - CAST(total AS DOUBLE) * CAST(total AS DOUBLE))
                           / (CAST(n_days AS DOUBLE) * (n_days - 1.0)))
                       + CAST(total AS DOUBLE) / n_days), 6) + 0.0
           END AS burstiness
    FROM moments
    """,
    doc="Traffic burstiness per event type: Fano factor (variance-to-"
    "mean ratio of DAILY counts; 1 = Poisson, >1 = overdispersed/"
    "bursty) and the Goh-Barabasi burstiness coefficient "
    "B = (sigma - mu)/(sigma + mu) in [-1, 1] — the capacity-planning "
    "read that says whether an event stream needs peak-provisioning "
    "(and whether per-key salting will see hot days). Densified over "
    "the observed global calendar so zero-days count (a type absent "
    "half the month IS bursty). Float policy: cross-row reductions "
    "are exact BIGINT sums (count, sum c, sum c^2) on the bounded "
    "(|types| x |days|) grid; variance/mean/B are per-row IEEE on "
    "engine-identical integers (sqrt exempt); zero-total types yield "
    "NULL identically in both engines. Scale shape: one grouped "
    "count at (type, day) grain with map-side combine, then ALL math "
    "on the bounded grid (|types| x |days| rows, broadcast-joined).",
)
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import track_cache

    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select("event_type", F.col("ts").cast("date").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    types = daily.select("event_type").distinct()
    days = daily.select("day").distinct()
    grid = (
        types.crossJoin(F.broadcast(days))
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
        )
    )
    m = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    nd = F.col("n_days").cast("double")
    td = F.col("total").cast("double")
    s2d = F.col("s2").cast("double")
    var = (s2d * F.col("n_days") - td * td) / (nd * (F.col("n_days") - 1.0))
    mean = td / F.col("n_days")
    sigma = F.sqrt(var)
    out = m.select(
        "event_type",
        "n_days",
        "total",
        F.round(mean, 6).alias("mean_daily"),
        F.round(var, 6).alias("var_daily"),
        F.when(F.col("total") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(var / mean, 6))
        .alias("fano"),
        F.when(F.col("total") == 0, F.lit(None).cast("double"))
        .otherwise(F.round((sigma - mean) / (sigma + mean), 6))
        .alias("burstiness"),
    )
    return track_cache(out, daily)
