"""Golden tests for the rebuilt reference pipeline (SURVEY.md §5.2.2).

Pins the reference's semantic quirks: timestamp patterns, leading-space
dates, ' True' map values, +24h hours wraparound, overlapping
positive/negative review counts, covid label recode, join grain.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_tools_spark.ml import featurize
from big_data_tools_spark.pipeline.fixtures import yelp_tables
from big_data_tools_spark.pipeline.yelp import (
    MAP_ATTR_COLS,
    build_basetable,
    checkin_metrics,
    clean_business,
    covid_labels,
    review_metrics,
    tip_metrics,
    user_fans_per_business,
)


@pytest.fixture(scope="module")
def tables(spark):
    return yelp_tables(spark)


def _by_id(rows, key="business_id"):
    return {r[key]: r for r in rows}


def test_review_metrics_semantics(tables):
    rows = _by_id(review_metrics(tables["review"]).collect(), "business_ID")
    b1 = rows["b1"]
    assert b1["n_reviews"] == 2
    assert b1["useful_sum"] == 3
    # reference quirk: stars>3 positive, stars<4 negative — r1 (5.0) is
    # positive, r2 (2.0) is negative
    assert b1["positive_reviews"] == 1
    assert b1["negative_reviews"] == 1
    # r4 stars=3.0 counts as negative only
    assert rows["b3"]["positive_reviews"] == 0
    assert rows["b3"]["negative_reviews"] == 1
    # adjusted rating is discounted by recency: most recent review in the
    # corpus (r5, 2020-02-20) has discount close to 1
    assert 0 < b1["avg_adjusted_rating"] < 5


def test_checkin_metrics_parses_leading_space_dates(tables):
    rows = _by_id(checkin_metrics(tables["checkin"]).collect(), "business_ID")
    assert rows["b1"]["checkin_count"] == 2
    # 2020-01-15 -> 46 days before 2020-03-01; 2019-11-20 -> 102 days
    assert rows["b1"]["min_checkin_recency"] == 46
    assert rows["b1"]["max_checkin_recency"] == 102
    assert rows["b2"]["min_checkin_recency"] == 2


def test_user_fans_two_level_agg(tables):
    rows = _by_id(
        user_fans_per_business(tables["review"], tables["user"]).collect(), "business_ID"
    )
    # b1 reviewers: u1 (10 fans), u2 (0 fans) -> mean 5.0
    assert rows["b1"]["avg_reviewer_fans"] == 5.0
    # b7 has no reviews -> absent
    assert "b7" not in rows


def test_covid_labels_dedup_and_recode(tables):
    rows = covid_labels(tables["covid"]).collect()
    ids = [r["business_id"] for r in rows]
    assert sorted(ids) == sorted(set(ids)), "duplicate covid rows must collapse"
    labels = _by_id(rows)
    assert labels["b1"]["label"] == 1
    assert labels["b2"]["label"] == 0


def test_clean_business_encoding(tables):
    df = clean_business(tables["business"])
    rows = _by_id(df.collect())
    # food filter: b5 (Automotive) gone, b1..b4,b6..b8 kept
    assert "b5" not in rows and len(rows) == 7
    b1 = rows["b1"]
    # quote-variant enum recodes (:251-256, :270-275)
    assert b1["attributes_WiFi"] == "free"
    assert rows["b2"]["attributes_WiFi"] == "paid"
    assert rows["b4"]["attributes_WiFi"] == "no"
    assert rows["b3"]["attributes_WiFi"] == "Missing"
    assert b1["attributes_Alcohol"] == "full_bar"
    assert rows["b4"]["attributes_Alcohol"] == "beer_and_wine"
    # bool attr recode (:233-238)
    assert b1["attributes_BikeParking"] == "1"
    assert rows["b2"]["attributes_BikeParking"] == "0"
    assert rows["b3"]["attributes_BikeParking"] == "Missing"
    # dict-literal dummies with ' True' filter (:336): b1 romantic, b2 casual
    assert b1["Ambience_romantic"] == 1 and b1["Ambience_casual"] == 0
    assert rows["b2"]["Ambience_casual"] == 1 and rows["b2"]["Ambience_romantic"] == 0
    assert b1["BusinessParking_garage"] == 1
    # hours: Monday 9-21 = 12h; Tuesday 22-2 wraps past midnight = 4h (:505-507)
    assert b1["Monday_avail"] == 12
    assert b1["Tuesday_avail"] == 4
    assert b1["weekly_hours_open"] == 16
    # close == open -> treated as wraparound full day (:502: close <= open)
    assert rows["b4"]["Monday_avail"] == 24


def _build_jobs(spark, group: str, business) -> list[int]:
    """Spark jobs submitted while clean_business plans (no action)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        clean_business(business)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_dummy_names_found_in_one_job(spark, tables):
    """One aggregate finds the dummy names of every dict-literal block:
    planning with all four blocks submits the same jobs as with one
    (a pivot without a value list ran its own job per block)."""
    business = tables["business"]
    others = [c.split("_", 1)[1] for c in MAP_ATTR_COLS[1:]]
    one_block = business.withColumn("attributes", F.col("attributes").dropFields(*others))
    every = _build_jobs(spark, "dummies-all", business)
    one = _build_jobs(spark, "dummies-one", one_block)
    assert len(every) == len(one) > 0


def test_basetable_grain_and_repair(tables):
    bt = build_basetable(**tables, check_grain=True)
    rows = bt.collect()
    ids = sorted(r["business_id"] for r in rows)
    # b5 non-food, b6 no covid row, b7 no reviews -> exactly these five
    assert ids == ["b1", "b2", "b3", "b4", "b8"]
    by = _by_id(rows)
    assert by["b1"]["label"] == 1 and by["b2"]["label"] == 0
    # left-join holes repaired: b4 has no tips/checkins
    assert by["b4"]["tip_count"] == 0
    assert by["b4"]["checkin_count"] == 0
    # checkin recency holes filled with the observed max (stalest) recency:
    # global max over checkin_metrics = 1025 (b3's 2018-05-10)
    assert by["b4"]["max_checkin_recency"] == by["b3"]["max_checkin_recency"]
    # one row per business (grain invariant, reference :296)
    assert len(ids) == len(set(ids))


def test_all_null_attribute_business_featurizes(spark, tables):
    """A food business whose attributes are all null (b3) keeps no null
    string in the basetable: its missing price range becomes "Missing"
    (the bool attributes' default), so RFormula's string indexing takes
    it. Four copies of the basetable rows, with b1 in a second price
    range, put both ranges and b3 on the train side of the split."""
    bt = build_basetable(**tables).select(
        "business_id", "label", "state", "attributes_RestaurantsPriceRange2", "n_reviews")
    rows = [r.asDict() for r in bt.collect()]
    assert _by_id(rows)["b3"]["attributes_RestaurantsPriceRange2"] == "Missing"
    copies = spark.createDataFrame([
        r | {"business_id": f"{r['business_id']}_{i}",
             "attributes_RestaurantsPriceRange2":
                 "1" if r["business_id"] == "b1" else r["attributes_RestaurantsPriceRange2"]}
        for r in rows for i in range(4)], bt.schema)
    train, test, _ = featurize(copies, select_percentile=None)
    assert len(train.collect()) + len(test.collect()) == len(rows) * 4
