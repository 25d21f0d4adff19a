"""ML pipeline smoke (SURVEY.md §5.2.4): featurize + fit + evaluate on a
seeded synthetic basetable; metrics must land in a sane band.

The synthetic basetable plants a signal (label correlates with
review_count and a dummy column) so AUC must beat chance by a wide
margin — reproducing the *shape* of the reference's result
(train/test AUC ~0.96-0.99, BASELINE.md) without its data.
"""

from __future__ import annotations

import pytest

from pyspark.ml.evaluation import (
    BinaryClassificationEvaluator,
    MulticlassClassificationEvaluator,
)
from pyspark.sql import functions as F

from big_data_tools_spark.ml import pipeline
from big_data_tools_spark.ml.pipeline import featurize, train_models


@pytest.fixture(scope="module")
def basetable(spark):
    # 400 businesses, deterministic columns; label = f(review_count, dummy) + noise
    df = spark.range(400).select(
        F.concat(F.lit("b"), F.col("id")).alias("business_id"),
        (F.col("id") % 7).cast("double").alias("review_count"),
        (F.col("id") % 2).cast("int").alias("has_delivery_dummy"),
        ((F.col("id") * 37) % 100).cast("double").alias("tip_count"),
        F.when(F.col("id") % 3 == 0, "Springfield")
        .when(F.col("id") % 3 == 1, "Shelbyville")
        .otherwise("Capital City")
        .alias("city"),
        F.when(F.col("id") % 2 == 0, "IL").otherwise("IN").alias("state"),
    )
    signal = (F.col("review_count") >= 4) | (F.col("has_delivery_dummy") == 1)
    noise = (F.xxhash64("business_id") % 10) == 0  # ~10% flips
    return df.withColumn("label", (signal != noise).cast("int"))


def test_featurize_and_train(basetable):
    train, test, feat_model = featurize(basetable, select_percentile=0.9)
    assert train.columns == ["features", "label"]
    n_train, n_test = train.count(), test.count()
    assert n_train + n_test == 400
    assert 0.6 < n_train / 400 < 0.8  # 70/30 split, seed 7

    results = train_models(train, test)
    names = [r.name for r in results]
    assert names == ["logistic_regression", "random_forest", "gbt"]
    for r in results:
        assert 0.8 < r.metrics["train_auc"] <= 1.0, (r.name, r.metrics)
        assert 0.75 < r.metrics["test_auc"] <= 1.0, (r.name, r.metrics)
        assert 0.0 < r.metrics["test_f1"] <= 1.0


def test_featurize_without_selector(basetable):
    train, test, _ = featurize(basetable, select_percentile=None)
    assert "features" in train.columns
    assert train.count() > 0


@pytest.fixture(scope="module")
def parity_basetable(spark):
    """The PARITY.md fixture: 2000 businesses, linear-ish planted signal,
    ~3% label flips — calibrated so a correctly-wired pipeline lands in
    the same metric regime the reference reports on real Yelp data
    (test AUC ~0.96-0.98, BASELINE.md rows 18-23)."""
    df = spark.range(2000).select(
        F.concat(F.lit("b"), F.col("id")).alias("business_id"),
        (F.col("id") % 11).cast("double").alias("review_count"),
        (F.col("id") % 2).cast("int").alias("has_delivery_dummy"),
        ((F.col("id") * 37) % 100).cast("double").alias("tip_count"),
        F.when(F.col("id") % 3 == 0, "Springfield")
        .when(F.col("id") % 3 == 1, "Shelbyville")
        .otherwise("Capital City")
        .alias("city"),
        F.when(F.col("id") % 2 == 0, "IL").otherwise("IN").alias("state"),
    )
    score = F.col("review_count") + 3 * F.col("has_delivery_dummy") + F.col("tip_count") / 50
    noise = (F.xxhash64("business_id") % 33) == 0
    return df.withColumn("label", ((score >= 8) != noise).cast("int"))


def test_parity_table_bands(parity_basetable):
    """The band assertion PARITY.md cites: on the planted-signal parity
    fixture every model must reproduce the reference's high-signal
    regime (reference: LR test AUC 0.962 / F1 0.973, RF 0.965 / 0.977 —
    real Yelp data, unavailable here)."""
    train, test, _ = featurize(parity_basetable, select_percentile=0.9)
    results = {r.name: r.metrics for r in train_models(train, test)}
    for name in ("logistic_regression", "random_forest", "gbt"):
        assert results[name]["test_auc"] >= 0.93, (name, results[name])
        assert results[name]["test_f1"] >= 0.93, (name, results[name])


@pytest.fixture(scope="module")
def middle_class_fits(spark):
    """``train_models`` run under the job group "g" on a table whose
    positives (1 in 13) sit in the middle of ``review_count``: no linear
    model separates them, so logistic regression predicts one class
    only, while the trees predict both. Returns (train, test, results,
    job ids in "g", job ids started outside any group)."""
    df = spark.range(390).select(
        F.concat(F.lit("b"), F.col("id")).alias("business_id"),
        (F.col("id") % 13).cast("double").alias("review_count"),
        ((F.col("id") * 37) % 100).cast("double").alias("tip_count"),
        F.when(F.col("id") % 2 == 0, "IL").otherwise("IN").alias("state"),
        (F.col("id") % 13 == 6).cast("int").alias("label"),
    )
    train, test, _ = featurize(df, select_percentile=None)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "train_models job attribution")
    try:
        results = train_models(train, test)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    ungrouped = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    return train, test, results, set(tracker.getJobIdsForGroup("g")), ungrouped


def test_metrics_equal_spark_evaluators(middle_class_fits):
    """Every metric equals Spark's own evaluators on the same
    predictions, including a model that never predicts the positive
    class (its precision for that class has a zero denominator)."""
    train, test, results, _, _ = middle_class_fits
    assert [r.name for r in results] == ["logistic_regression", "random_forest", "gbt"]
    auc = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="rawPrediction", metricName="areaUnderROC")
    multi = MulticlassClassificationEvaluator(labelCol="label", predictionCol="prediction")
    one_class = []
    for r in results:
        for prefix, df in (("train", train), ("test", test)):
            preds = r.model.transform(df)
            want = {"auc": auc.evaluate(preds)} | {
                m: multi.setMetricName(m).evaluate(preds)
                for m in ("accuracy", "weightedPrecision", "weightedRecall", "f1")}
            assert set(r.metrics) >= {f"{prefix}_{m}" for m in want}
            for m, v in want.items():
                assert abs(r.metrics[f"{prefix}_{m}"] - v) <= 1e-9, (r.name, prefix, m)
            if preds.select("prediction").distinct().count() == 1:
                one_class.append((r.name, prefix))
    assert ("logistic_regression", "test") in one_class, one_class
    assert len(one_class) < 6, "the trees must predict both classes"


def test_concurrent_fits_keep_callers_job_group(middle_class_fits):
    """The fit threads inherit the caller's local properties: every job
    ``train_models`` starts is listed under the caller's job group (the
    attribution per-fit job counts rely on), none outside it."""
    *_, grouped, ungrouped = middle_class_fits
    assert len(grouped) > 3 * 2, "each fit and each evaluation runs jobs"
    assert not ungrouped, sorted(ungrouped)


def test_failed_fit_propagates(basetable, monkeypatch):
    """An exception in one estimator's fit thread is raised by
    ``train_models``, not swallowed by the thread pool."""

    class FailingGBT(pipeline.GBTClassifier):
        def _fit(self, dataset):
            raise RuntimeError("gbt fit failed")

    monkeypatch.setattr(pipeline, "GBTClassifier", FailingGBT)
    train, test, _ = featurize(basetable, select_percentile=None)
    with pytest.raises(RuntimeError, match="gbt fit failed"):
        train_models(train, test)


def test_feature_importance_query(spark, sf_smoke):
    """ExtractFeatureImp parity (reference :885-893): named, ranked,
    importance-summing-to-1 table from the RF model."""
    from big_data_tools_spark.queries.registry import get

    rows = get("ml_feature_importance").fn(spark, sf_smoke).collect()
    assert rows, "no importances returned"
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    vals = [r["importance"] for r in rows]
    assert vals == sorted(vals, reverse=True), "must be ranked by importance"
    assert abs(sum(vals) - 1.0) < 1e-3
    names = {r["feature"] for r in rows}
    # real metadata names, not f<idx> fallbacks, for the numeric features
    assert {"n_orders", "sum_price", "avg_price"} <= names, names


def test_cv_select_properties(spark, sf_oracle):
    """3-fold CV grid: one row per grid point, exactly one selected,
    and the selected row attains the maximum mean AUC."""
    from big_data_tools_spark.queries import get

    rows = get("ml_cv_select").fn(spark, sf_oracle).collect()
    assert len(rows) == 3
    assert sorted(r.reg_param for r in rows) == [0.001, 0.01, 0.1]
    sel = [r for r in rows if r.selected]
    assert len(sel) == 1
    assert sel[0].mean_auc == max(r.mean_auc for r in rows)
    assert all(0.0 <= r.mean_auc <= 1.0 for r in rows)


def test_calibration_bins_cover_test_set_and_rates_in_range(spark, sf_smoke):
    from big_data_tools_spark.queries import get

    rows = get("ml_calibration_bins").fn(spark, sf_smoke).collect()
    assert rows, "at least one probability bin"
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0.0 <= r["mean_predicted"] <= 1.0
        assert 0.0 <= r["observed_rate"] <= 1.0
        # mean predicted prob must lie inside its own bin's bounds
        assert r["bin"] / 10 - 1e-9 <= r["mean_predicted"] <= r["bin"] / 10 + 0.1 + 1e-9


def test_confusion_matrix_consistent_with_accuracy(spark, sf_smoke):
    from big_data_tools_spark.queries import get

    cm = get("ml_confusion_matrix").fn(spark, sf_smoke).collect()[0]
    total = cm["tp"] + cm["fp"] + cm["fn"] + cm["tn"]
    assert total > 0
    acc_from_cm = (cm["tp"] + cm["tn"]) / total
    metrics = {
        r["metric"]: r["value"]
        for r in get("ml_train_eval").fn(spark, sf_smoke).collect()
    }
    assert abs(acc_from_cm - metrics["test_accuracy"]) < 1e-4
    if cm["tp"] > 0:
        assert 0.0 < cm["precision"] <= 1.0 and 0.0 < cm["recall"] <= 1.0


def test_embedding_pca_variance_spectrum(spark, sf_smoke):
    """k rows, ratios in (0,1], non-increasing, cumulative consistent
    and <= 1; deterministic across runs (covariance eigensolve)."""
    from big_data_tools_spark.queries import get

    rows = get("embedding_pca_variance").fn(spark, sf_smoke).collect()
    assert [r["component"] for r in rows] == list(range(1, 9))
    ratios = [r["variance_ratio"] for r in rows]
    assert all(0 < v <= 1 for v in ratios)
    assert all(a >= b - 1e-9 for a, b in zip(ratios, ratios[1:]))
    assert abs(rows[-1]["cumulative"] - sum(ratios)) < 1e-4
    assert rows[-1]["cumulative"] <= 1.0 + 1e-6
    again = get("embedding_pca_variance").fn(spark, sf_smoke).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_embedding_cluster_silhouette_sweep(spark, sf_smoke):
    from big_data_tools_spark.queries import get

    rows = get("embedding_cluster_silhouette").fn(spark, sf_smoke).collect()
    assert [r["k"] for r in rows] == [4, 8, 16]
    assert all(-1.0 <= r["silhouette"] <= 1.0 for r in rows)
    again = get("embedding_cluster_silhouette").fn(spark, sf_smoke).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_learning_curve_properties(spark, sf_smoke):
    from big_data_tools_spark.queries import get

    rows = sorted(
        (tuple(r) for r in get("ml_learning_curve").fn(spark, sf_smoke).collect())
    )
    assert [r[0] for r in rows] == [0.1, 0.25, 0.5, 1.0]
    ns = [r[1] for r in rows]
    assert ns == sorted(ns) and ns[0] > 0  # sample sizes grow with frac
    assert ns[-1] > 2 * ns[0]
    for _, _, auc_train, auc_test in rows:
        assert 0.0 <= auc_train <= 1.0 and 0.0 <= auc_test <= 1.0
    # the full-data model must not be catastrophically worse than the
    # smallest-sample model on the SAME held-out frame (loose band —
    # tiny samples are noisy)
    assert rows[-1][3] >= rows[0][3] - 0.15
