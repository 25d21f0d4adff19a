"""The reference's end-to-end pipeline, rebuilt Spark-first.

Reproduces the full basetable build of the reference notebook
(``Databricks Notebook.py``): six Yelp JSON tables -> per-business
feature aggregates -> star-join onto the covid label table -> null
repair. Every stage is a pure DataFrame -> DataFrame function; no
collects, no driver-side loops, no UDFs (SURVEY.md §4.3 fixes applied
throughout and noted per function).

Semantics intentionally preserved from the reference (pinned by
tests/test_yelp_pipeline.py):
- the two distinct timestamp patterns (``:129`` review 'yyyy-M-d
  H:mm:ss' vs ``:175`` checkin 'yyyy-M-dd H:mm:ss' + leading space);
- positive reviews = stars > 3, negative = stars < 4 (overlapping at
  3.x by design — that's what the reference computes at ``:154``);
- map-literal values filtered on the leading-space " True" (``:336``);
- close <= open means past-midnight closing: +24h (``:505-507``);
- label: 'delivery or takeout' "TRUE"/"FALSE" -> 1/0 (``:605-606``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.cleaning import recode_bulk
from ..operators.hours import parse_hours_range
from ..operators.maps import parse_dict_literal, pivot_dummies
from ..operators.scalar import with_global_agg, with_global_max
from ..operators.star import star_join

PIVOT_DATE = "2020-03-01"  # lockdown pivot (reference :132,178)

FOOD_PATTERNS = ("%Restaurants%", "%Food%", "%Cafes%", "%Bars%")  # :204

BOOL_ATTR_COLS = [  # :225-238 — 'True'/'False'/null string attributes
    "attributes_BikeParking",
    "attributes_BusinessAcceptsBitcoin",
    "attributes_BusinessAcceptsCreditCards",
    "attributes_Caters",
    "attributes_DriveThru",
    "attributes_Open24Hours",
    "attributes_OutdoorSeating",
    "attributes_RestaurantsDelivery",
    "attributes_RestaurantsTakeOut",
]

MAP_ATTR_COLS = [  # :284-289 — dict-literal string attributes
    "attributes_Ambience",
    "attributes_BusinessParking",
    "attributes_DietaryRestrictions",
    "attributes_GoodForMeal",
]

WEEKDAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday"]


# ------------------------------------------------------------------ review (:129-156)
def review_metrics(review: DataFrame, pivot_date: str = PIVOT_DATE) -> DataFrame:
    """Per-business review rollup (reference ``:129-156``).

    The reference collects max(recency) to the driver and re-embeds it
    as a literal (``:135-136``); here the scalar stays in the plan via
    a broadcast 1-row aggregate (§4.3), so the whole rollup is one job.
    """
    base = review.withColumn(
        "date", F.to_timestamp("date", "yyyy-M-d H:mm:ss")  # :129
    ).withColumn("recency", F.datediff(F.lit(pivot_date).cast("date"), F.col("date")))  # :132
    scored = (
        with_global_max(base, F.col("recency"), "maxdiff")  # :135 fixed
        .withColumn("discount_factor", F.lit(1) - F.col("recency") / F.col("maxdiff"))  # :136
        .withColumn("AdjustedRating", F.col("stars") * F.col("discount_factor"))  # :139
    )
    return scored.groupBy("business_ID").agg(  # :154
        F.sum("useful").alias("useful_sum"),
        # named n_reviews, not review_count: the business table already
        # has a review_count column and a duplicate name in the
        # basetable breaks every downstream consumer (RFormula etc.)
        F.count("review_id").alias("n_reviews"),
        F.avg("AdjustedRating").alias("avg_adjusted_rating"),
        F.count(F.when(F.col("stars") > 3, True)).alias("positive_reviews"),
        F.count(F.when(F.col("stars") < 4, True)).alias("negative_reviews"),
    )


# ----------------------------------------------------------------- checkin (:172-187)
def checkin_metrics(checkin: DataFrame, pivot_date: str = PIVOT_DATE) -> DataFrame:
    """Per-business checkin rollup (reference ``:172-187``): ltrim the
    leading-space date, parse with the checkin-specific pattern,
    count/min/max recency."""
    base = checkin.withColumn(
        "date", F.to_timestamp(F.ltrim(F.col("date")), "yyyy-M-dd H:mm:ss")  # :172-175
    ).withColumn("recency", F.datediff(F.lit(pivot_date).cast("date"), F.col("date")))  # :178
    return base.groupBy("business_ID").agg(  # :181
        F.count("date").alias("checkin_count"),
        F.min("recency").alias("min_checkin_recency"),
        F.max("recency").alias("max_checkin_recency"),
    )


# -------------------------------------------------------------------- tip (:552)
def tip_metrics(tip: DataFrame) -> DataFrame:
    """Tips per business (reference ``:552``)."""
    return tip.groupBy("business_id").agg(F.count(F.lit(1)).alias("tip_count"))


# ----------------------------------------------------------------- users (:563-588)
def user_fans_per_business(review: DataFrame, user: DataFrame) -> DataFrame:
    """Mean fan-count of a business's reviewers (reference ``:563-588``):
    review ⋈ user on user_id, two-level aggregation (per business+user
    sum, then per business mean). user is projected to (user_id, fans)
    before the join (column pruning the reference does at ``:563``)."""
    u = user.select("user_id", "fans")
    joined = review.select("business_ID", "user_id").join(u, on="user_id", how="inner")  # :569
    per_user = joined.groupBy("business_ID", "user_id").agg(F.sum("fans").alias("fans_sum"))  # :575
    return per_user.groupBy("business_ID").agg(F.avg("fans_sum").alias("avg_reviewer_fans"))  # :580


# --------------------------------------------------------------- business (:199-537)
def _flatten(business: DataFrame) -> DataFrame:
    """Nested attributes/hours structs -> flat columns named like the
    reference's dotted-name rename (``:199`` '.'->'_')."""
    cols = [F.col(f.name) for f in business.schema.fields if f.name not in ("attributes", "hours")]
    if "attributes" in business.columns:
        for f in business.schema["attributes"].dataType.fields:
            cols.append(F.col(f"attributes.{f.name}").alias(f"attributes_{f.name}"))
    if "hours" in business.columns:
        for f in business.schema["hours"].dataType.fields:
            cols.append(F.col(f"hours.{f.name}").alias(f"hours_{f.name}"))
    return business.select(cols)


def food_filter(df: DataFrame) -> DataFrame:
    """Keep food-industry businesses (reference ``:204``)."""
    cond = reduce(lambda a, p: a | F.col("categories").like(p), FOOD_PATTERNS[1:],
                  F.col("categories").like(FOOD_PATTERNS[0]))
    return df.filter(cond)


def _true_names(col: str) -> Column:
    """Dummy names (``Ambience_romantic``) of one row's " True" entries
    of a dict-literal attribute (reference ``:336``)."""
    prefix = col.rsplit("_", 1)[-1] + "_"
    entries = F.filter(F.map_entries(parse_dict_literal(F.col(col))),
                       lambda e: e["value"] == " True")
    return F.transform(entries, lambda e: F.concat(F.lit(prefix), F.trim(e["key"])))


def _map_dummy_blocks(df: DataFrame, cols: list[str]) -> list[DataFrame]:
    """Dict-literal attributes -> per-business 0/1 dummy blocks
    (reference's 4x repeated explode-pivot-join ``:310-347`` etc.;
    SURVEY.md §4.3). One aggregate finds every block's sorted dummy
    names, so each pivot gets its value list and runs no job of its
    own; a block with no " True" entry adds no column."""
    if not cols:
        return []
    names = df.agg(*[
        F.array_sort(F.array_distinct(F.flatten(F.collect_set(_true_names(c)))))
        for c in cols
    ]).first()
    return [
        pivot_dummies(df.select("business_id", F.explode(_true_names(c)).alias("key")),
                      "business_id", "key", list(values))
        for c, values in zip(cols, names) if values
    ]


def clean_business(business: DataFrame) -> DataFrame:
    """Business table -> model-ready encoded features (reference
    ``:199-537``): flatten, food filter, enum recodes, dict-literal
    dummy blocks, per-weekday hours with the +24 wraparound, weekly
    totals."""
    flat = food_filter(_flatten(business))

    # True/False/null string attrs -> 1/0/Missing (reference :233-238)
    flat = recode_bulk(flat, [c for c in BOOL_ATTR_COLS if c in flat.columns],
                       {"True": "1", "False": "0"}, default="Missing")

    # WiFi (:251-256) and Alcohol (:270-275): quote-variant enums
    wifi_map = {"'free'": "free", "u'free'": "free", "'paid'": "paid",
                "u'paid'": "paid", "'no'": "no", "u'no'": "no"}
    alcohol_map = {"'beer_and_wine'": "beer_and_wine", "u'beer_and_wine'": "beer_and_wine",
                   "'full_bar'": "full_bar", "u'full_bar'": "full_bar",
                   "'none'": "none", "u'none'": "none"}
    if "attributes_WiFi" in flat.columns:
        flat = recode_bulk(flat, ["attributes_WiFi"], wifi_map, default="Missing")
    if "attributes_Alcohol" in flat.columns:
        flat = recode_bulk(flat, ["attributes_Alcohol"], alcohol_map, default="Missing")

    # dict-literal attrs -> dummy blocks, left-joined back (:310-464)
    dummy_blocks = _map_dummy_blocks(flat, [c for c in MAP_ATTR_COLS if c in flat.columns])
    out = star_join(flat, [(b, "business_id", "left") for b in dummy_blocks])
    out = out.drop(*[c for c in MAP_ATTR_COLS if c in out.columns])

    # hours: open/close/avail per weekday in ONE withColumns (:479-512),
    # then weekly totals (:526-528)
    hour_cols = {d: f"hours_{d}" for d in WEEKDAYS if f"hours_{d}" in out.columns}
    if hour_cols:
        out = parse_hours_range(out, hour_cols)
        out = out.withColumn(
            "weekly_hours_open",
            reduce(lambda a, d: a + F.coalesce(F.col(f"{d}_avail"), F.lit(0)),
                   list(hour_cols)[1:],
                   F.coalesce(F.col(f"{list(hour_cols)[0]}_avail"), F.lit(0))),
        )
        out = out.drop(*hour_cols.values())
    # dummy gaps -> 0 (:342 fillna)
    dummy_cols = [c for c in out.columns if c.split("_", 1)[0] in
                  ("Ambience", "BusinessParking", "DietaryRestrictions", "GoodForMeal")]
    if dummy_cols:
        out = out.na.fill(0, subset=dummy_cols)
    return out


# ------------------------------------------------------------------- covid (:597-611)
def covid_labels(covid: DataFrame) -> DataFrame:
    """Label table (reference ``:597-611``): dedup exact rows, recode
    'delivery or takeout' "TRUE"/"FALSE" -> 1/0 int label."""
    deduped = covid.dropDuplicates()  # :611 — exact full-row dup drop is deterministic
    return deduped.select(
        "business_id",
        F.when(F.upper(F.col("delivery or takeout")) == "TRUE", 1).otherwise(0).alias("label"),  # :605
    )


# -------------------------------------------------------------- basetable (:620-691)
def build_basetable(
    business: DataFrame,
    review: DataFrame,
    checkin: DataFrame,
    tip: DataFrame,
    user: DataFrame,
    covid: DataFrame,
    check_grain: bool = False,
) -> DataFrame:
    """Full star-join basetable (reference ``:620-691``).

    Join shape preserved: covid ⋈inner business ⋈inner user-metrics,
    then left joins for tip/review/checkin (missing -> null -> repair).
    Null repair: checkin recencies filled with the computed max recency
    kept distributed (``:668-669`` collects; §4.3 fix), then global
    0-fill (``:677``) and "Missing" for string gaps.
    """
    b = clean_business(business)
    rm = review_metrics(review).withColumnRenamed("business_ID", "business_id")
    cm = checkin_metrics(checkin).withColumnRenamed("business_ID", "business_id")
    tm = tip_metrics(tip)
    uf = user_fans_per_business(review, user).withColumnRenamed("business_ID", "business_id")
    cv = covid_labels(covid)

    base = star_join(
        cv,
        [
            (b, "business_id", "inner"),  # :620
            (uf, "business_id", "inner"),  # :625
            (tm, "business_id", "left"),  # :630
            (rm, "business_id", "left"),  # :635
            (cm, "business_id", "left"),  # :641
        ],
        check_grain=check_grain,
    )

    # fill missing checkin recency with the observed max (=stalest) (:668-669)
    base = with_global_agg(base, max_checkin_recency_fill=F.max("max_checkin_recency"))
    base = base.withColumn(
        "min_checkin_recency",
        F.coalesce(F.col("min_checkin_recency"), F.col("max_checkin_recency_fill")),
    ).withColumn(
        "max_checkin_recency",
        F.coalesce(F.col("max_checkin_recency"), F.col("max_checkin_recency_fill")),
    ).drop("max_checkin_recency_fill")

    # global 0-fill for remaining numeric gaps (:677); string gaps (an
    # all-null attributes row leaves attributes_RestaurantsPriceRange2
    # null) take the bool attributes' "Missing", since a null string
    # stops RFormula's string indexing
    return base.na.fill(0).na.fill("Missing")
