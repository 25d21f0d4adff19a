"""ML feature/train/eval pipeline (SURVEY.md §2.9 M1-M12, modernized).

Reference parity with the deliberate fixes SURVEY.md §2.9/§4.3 calls out:
- ``RFormula`` fit once on TRAIN only (the reference refits on full/
  train/test at ``Databricks Notebook.py:747-756`` — leakage-prone);
- ``UnivariateFeatureSelector`` replaces the deprecated ChiSqSelector
  (``:773-787``, percentile 0.9);
- DataFrame-native evaluators replace the mllib RDD adapters
  (``:836-862`` maps rows through Python lambdas per partition — the
  only executor-side Python in the reference; these stay in the JVM).

Models and hyperparameters mirror the reference exactly:
LogisticRegression(maxIter=10, regParam=0.01) ``:805``,
RandomForestClassifier(numTrees=50) ``:873``, GBTClassifier() ``:941``,
randomSplit([0.7, 0.3], seed=7) ``:737``.
"""

from __future__ import annotations

from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import (
    GBTClassifier,
    LogisticRegression,
    RandomForestClassifier,
)
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import (
    OneHotEncoder,
    RFormula,
    StringIndexer,
    UnivariateFeatureSelector,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEED = 7  # reference :737


@dataclass
class FitResult:
    name: str
    model: object
    metrics: dict[str, float] = field(default_factory=dict)


def featurize(
    basetable: DataFrame,
    label_col: str = "label",
    id_col: str = "business_id",
    categorical_cols: tuple[str, ...] = ("city", "state"),
    select_percentile: float | None = 0.9,
) -> tuple[DataFrame, DataFrame, PipelineModel]:
    """Index+one-hot categoricals (M1-M3), RFormula-assemble (M5),
    chi2-select top percentile (M6), 70/30 split (M4).

    Returns (train, test, fitted feature PipelineModel); both outputs
    carry ``features`` + ``label`` ready for any classifier.
    """
    base = basetable.withColumn(label_col, F.col(label_col).cast("double"))
    train_raw, test_raw = base.randomSplit([0.7, 0.3], seed=SEED)  # :737

    # drop string columns that are single-valued ON TRAIN: they carry no
    # signal and RFormula's internal StringIndexer rejects them (the
    # stats must come from the split the formula is fit on). One
    # aggregation job; approx_count_distinct is exact enough for a
    # ">= 2 distinct" decision and cheap at any scale.
    str_cols = [f.name for f in base.schema.fields
                if f.dataType.typeName() == "string" and f.name != id_col]
    if str_cols:
        counts = train_raw.agg(
            *[F.approx_count_distinct(c).alias(c) for c in str_cols]
        ).first()
        degenerate = [c for c in str_cols if counts[c] < 2]
        if degenerate:
            train_raw = train_raw.drop(*degenerate)
            test_raw = test_raw.drop(*degenerate)

    cats = [c for c in categorical_cols if c in train_raw.columns]
    stages = []
    for c in cats:
        stages.append(StringIndexer(inputCol=c, outputCol=f"{c}Ind", handleInvalid="keep"))
    if cats:
        stages.append(
            OneHotEncoder(
                inputCols=[f"{c}Ind" for c in cats],
                outputCols=[f"{c}Vec" for c in cats],
            )
        )
    # RFormula over everything except id + raw categorical originals
    formula = f"{label_col} ~ . - {id_col}" + "".join(f" - {c} - {c}Ind" for c in cats)
    stages.append(
        RFormula(formula=formula, featuresCol="rawFeatures", labelCol="labelCol")
    )
    if select_percentile is not None:
        sel = UnivariateFeatureSelector(
            featuresCol="rawFeatures",
            outputCol="features",
            labelCol="labelCol",
            selectionMode="percentile",
        )
        sel.setFeatureType("categorical").setLabelType("categorical")
        sel.setSelectionThreshold(select_percentile)
        stages.append(sel)

    pipe = Pipeline(stages=stages)
    model = pipe.fit(train_raw)  # fit ONCE on train (leakage fix)
    feat_col = "features" if select_percentile is not None else "rawFeatures"

    def finalize(df: DataFrame) -> DataFrame:
        return model.transform(df).select(
            F.col(feat_col).alias("features"), F.col("labelCol").alias("label")
        )

    return finalize(train_raw), finalize(test_raw), model


def evaluate_model(model, df: DataFrame, prefix: str) -> dict[str, float]:
    """AUC + accuracy + weighted precision/recall/F1, DataFrame-native
    (replaces mllib BinaryClassificationMetrics/MulticlassMetrics,
    reference :836-862).

    ``df`` is transformed once and the prediction frame is cached for
    the two reads below: ``BinaryClassificationEvaluator`` for AUC, and
    one ``(label, prediction)`` count aggregate (at most k² rows) for
    the multiclass metrics. The aggregate applies the formulas of
    Spark's ``MulticlassMetrics`` (a class never predicted has
    precision 0), so every value equals ``MulticlassClassificationEvaluator``
    on the same predictions to within float rounding (1e-9).
    """
    preds = model.transform(df).select("label", "rawPrediction", "prediction").cache()
    try:
        counts = preds.groupBy("label", "prediction").count().collect()
        auc = BinaryClassificationEvaluator(
            labelCol="label", rawPredictionCol="rawPrediction", metricName="areaUnderROC"
        ).evaluate(preds)
    finally:
        preds.unpersist()
    return {f"{prefix}_auc": auc} | {
        f"{prefix}_{k}": v for k, v in _multiclass_metrics(counts).items()
    }


def _multiclass_metrics(counts) -> dict[str, float]:
    """Accuracy and label-weighted precision/recall/F1 from
    ``(label, prediction, count)`` rows, in the order of operations of
    Spark's ``MulticlassMetrics``."""
    n_label, n_pred, tp = defaultdict(float), defaultdict(float), defaultdict(float)
    for r in counts:
        label, pred, n = float(r["label"]), float(r["prediction"]), float(r["count"])
        n_label[label] += n
        n_pred[pred] += n
        tp[label] += n if label == pred else 0.0
    total = sum(n_label.values())

    def precision(c: float) -> float:
        return tp[c] / n_pred[c] if n_pred[c] else 0.0

    def recall(c: float) -> float:
        return tp[c] / n_label[c]

    def f1(c: float) -> float:
        p, r = precision(c), recall(c)
        return 0.0 if p + r == 0 else 2.0 * p * r / (p + r)

    def weighted(metric) -> float:
        return sum(metric(c) * n / total for c, n in n_label.items())

    return {
        "accuracy": sum(tp.values()) / total,
        "weightedPrecision": weighted(precision),
        "weightedRecall": weighted(recall),
        "f1": weighted(f1),
    }


def train_models(train: DataFrame, test: DataFrame) -> list[FitResult]:
    """Fit the reference's three classifiers (M7-M9) and evaluate on
    train and test (M10-M12).

    The three fits run concurrently, one thread per estimator, as Spark
    ML tuning's ``parallelism`` does. They are independent and seeded,
    so models and metrics equal those of sequential fits, while the
    LR/RF fits and every evaluation overlap GBT's long chain of small
    jobs. Each thread inherits the caller's Spark local properties (job
    group, scheduler pool, span tags) and session job tags, so every
    job is attributed as if the caller had run it. Results keep the
    order ``[logistic_regression, random_forest, gbt]``; an exception
    from any fit is raised here once all three threads have finished.
    Metrics are those of :func:`evaluate_model`.
    """
    specs = [
        ("logistic_regression", LogisticRegression(maxIter=10, regParam=0.01)),  # :805
        ("random_forest", RandomForestClassifier(numTrees=50, seed=SEED)),  # :873
        ("gbt", GBTClassifier(seed=SEED)),  # :941
    ]

    def fit(name: str, est) -> FitResult:
        model = est.fit(train)
        metrics = evaluate_model(model, train, "train") | evaluate_model(model, test, "test")
        return FitResult(name=name, model=model, metrics=metrics)

    in_caller_context = inheritable_thread_target(train.sparkSession)(fit)
    with ThreadPoolExecutor(max_workers=len(specs)) as pool:
        futures = [pool.submit(in_caller_context, name, est) for name, est in specs]
    return [f.result() for f in futures]


def feature_importances(model, feature_names: list[str]) -> list[tuple[str, float]]:
    """Sorted (name, importance) pairs for tree models (reference
    ExtractFeatureImp ``:885-893`` — driver-side prettifier)."""
    imp = model.featureImportances
    pairs = [(feature_names[i] if i < len(feature_names) else f"f{i}", float(v))
             for i, v in zip(imp.indices, imp.values)]
    return sorted(pairs, key=lambda p: -p[1])


def feature_names_from_metadata(df: DataFrame, features_col: str = "features") -> list[str]:
    """Feature names in vector-slot order, read from the ``ml_attr``
    column metadata Spark's feature stages attach — the same source the
    reference's ExtractFeatureImp walks (``Databricks Notebook.py:
    885-893``). Slots without a name fall back to ``f<idx>``."""
    meta = df.schema[features_col].metadata
    attrs = meta.get("ml_attr", {}).get("attrs", {})
    by_idx: dict[int, str] = {}
    n = meta.get("ml_attr", {}).get("num_attrs", 0)
    for group in attrs.values():
        for a in group:
            by_idx[a["idx"]] = a.get("name", f"f{a['idx']}")
            n = max(n, a["idx"] + 1)
    return [by_idx.get(i, f"f{i}") for i in range(n)]
