"""Evaluation operators (SURVEY §2.9 E1-E4), DataFrame-native.

The reference computes its confusion matrix through the legacy RDD
``MulticlassMetrics`` API (random_forest.py:144-164) — a
DataFrame→RDD→Python round-trip per metric. Here everything is one
``groupBy(label, prediction).count()`` aggregate plus driver-side
arithmetic on the (tiny) k×k matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def evaluate_classifier(predictions: DataFrame) -> dict[str, float]:
    """accuracy / weighted precision / weighted recall / weighted F1
    (MulticlassClassificationEvaluator parity, random_forest.py:132-141)
    computed from one confusion-matrix aggregate."""
    cm = confusion_matrix(predictions)
    per_class, total, correct = _per_class_stats(cm)
    if total == 0:
        return {"accuracy": 0.0, "precision": 0.0, "recall": 0.0, "f1": 0.0}
    acc = correct / total
    wp = sum(s["support"] * s["precision"] for s in per_class.values()) / total
    wr = sum(s["support"] * s["recall"] for s in per_class.values()) / total
    wf = sum(s["support"] * s["f1"] for s in per_class.values()) / total
    return {"accuracy": acc, "precision": wp, "recall": wr, "f1": wf}


def confusion_matrix(predictions: DataFrame) -> DataFrame:
    """(label, prediction, n) — the k×k matrix as a DataFrame
    (replaces MulticlassMetrics.confusionMatrix, SURVEY E2)."""
    return (
        predictions.groupBy(
            F.col("label").cast("double").alias("label"),
            F.col("prediction").cast("double").alias("prediction"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _per_class_stats(cm: DataFrame):
    rows = cm.collect()
    # drop null label/prediction cells (e.g. a missed label join):
    # they cannot be attributed to a class, and None is unorderable
    rows = [r for r in rows if r.label is not None and r.prediction is not None]
    labels = sorted({r.label for r in rows} | {r.prediction for r in rows})
    tp = {c: 0 for c in labels}
    pred_n = {c: 0 for c in labels}
    true_n = {c: 0 for c in labels}
    total = correct = 0
    for r in rows:
        total += r.n
        pred_n[r.prediction] += r.n
        true_n[r.label] += r.n
        if r.label == r.prediction:
            tp[r.label] += r.n
            correct += r.n
    out = {}
    for c in labels:
        p = tp[c] / pred_n[c] if pred_n[c] else 0.0
        r_ = tp[c] / true_n[c] if true_n[c] else 0.0
        f1 = 2 * p * r_ / (p + r_) if (p + r_) else 0.0
        out[c] = {"precision": p, "recall": r_, "f1": f1, "support": true_n[c]}
    return out, total, correct


def per_class_report(predictions: DataFrame) -> DataFrame:
    """Per-class precision/recall/F1/support as a DataFrame
    (classification_report parity, SURVEY E2/E6)."""
    cm = confusion_matrix(predictions)
    per_class, _, _ = _per_class_stats(cm)
    spark = predictions.sparkSession
    rows = [
        (float(c), s["precision"], s["recall"], s["f1"], int(s["support"]))
        for c, s in sorted(per_class.items())
    ]
    return spark.createDataFrame(
        rows, "class double, precision double, recall double, f1 double, support long"
    )


def _validate_dense_labels(classes, vec_size: int, label_col: str) -> None:
    """The probability vector of MLlib classifiers is indexed by the
    0-based label index; scoring ``probability[label_value]`` is only
    correct when labels ARE dense 0..k-1 (the engine's convention,
    SURVEY §7.4.5: labels shifted to 0-based at the edges). With raw
    Severity 1-4 the lookup would silently read the wrong class (or
    null) — fail loudly instead."""
    bad = [
        c
        for c in classes
        if c is None or float(c) != int(c) or not (0 <= int(c) < vec_size)
    ]
    if bad:
        # key=repr: the offender list can mix None with floats, which
        # plain sorted() cannot order
        raise ValueError(
            f"labels in '{label_col}' must be dense integers 0..{vec_size - 1} "
            f"to index the probability vector; found {sorted(bad, key=repr)}. "
            "Shift labels to 0-based (e.g. Severity - 1) before evaluating."
        )


def one_vs_rest_auc(
    predictions: DataFrame,
    label_col: str = "label",
    probability_col: str = "probability",
) -> dict[float, float]:
    """Per-class one-vs-rest AUC-ROC (the canonical multi-class AUC,
    SURVEY §7.4.6 — replaces the reference's binarized-label-vs-raw-
    prediction shortcut, random_forest.py:166-188).

    Each class's AUC uses BinaryClassificationEvaluator on the class
    probability vs the binarized label. Labels must be dense 0-based
    class indices (validated — a raw 1-based label would silently score
    the wrong probability column).
    """
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.functions import vector_to_array

    classes = [
        r[0]
        for r in predictions.select(F.col(label_col).cast("double"))
        .distinct()
        .collect()
    ]
    head = predictions.select(
        F.size(vector_to_array(probability_col)).alias("n")
    ).head()
    if head is None:
        raise ValueError("one_vs_rest_auc: empty predictions frame")
    _validate_dense_labels(classes, head["n"], label_col)
    probs = predictions.withColumn("_parr", vector_to_array(probability_col))
    aucs = {}
    for c in sorted(classes):
        scored = probs.select(
            F.when(F.col(label_col).cast("double") == c, 1.0)
            .otherwise(0.0)
            .alias("_bin_label"),
            F.col("_parr")[int(c)].alias("_score"),
        )
        ev = BinaryClassificationEvaluator(
            rawPredictionCol="_score",
            labelCol="_bin_label",
            metricName="areaUnderROC",
        )
        aucs[c] = ev.evaluate(scored)
    return aucs


def result_documents(
    spark,
    model_name: str,
    metrics: dict[str, float],
    parameters: str = "",
    run_timestamp: str = "",
):
    """FIXTURES.md §4 ``model_results`` sink shape (the reference's
    Mongo/Hive result documents, knn_classification.py:253-262): one
    row per metric."""
    rows = [
        (model_name, k, float(v), run_timestamp, parameters)
        for k, v in metrics.items()
    ]
    return spark.createDataFrame(
        rows,
        "model_name string, metric_name string, metric_value double, "
        "run_timestamp string, parameters string",
    )


def cluster_centers_document(spark, stats_rows: list):
    """FIXTURES.md §4 ``cluster_centers`` sink shape
    (create_tables.hql:131-138): (cluster_id, center_lat, center_lng,
    point_count, avg_severity).

    Centers come from the per-cluster RAW lat/lng means
    (``cluster_stats(..., stat_cols=["Severity", "Start_Lat",
    "Start_Lng"])``) — NOT from ``model.clusterCenters()``, which live
    in StandardScaler space (z-scores ≈ [-2, 2]) and would silently
    corrupt the geographic sink.
    """
    rows = []
    for s in stats_rows:
        rows.append(
            (
                int(s["cluster"]),
                float(s.get("avg_Start_Lat") or 0.0),
                float(s.get("avg_Start_Lng") or 0.0),
                int(s.get("n") or 0),
                float(s.get("avg_Severity") or 0.0),
            )
        )
    return spark.createDataFrame(
        rows,
        "cluster_id int, center_lat double, center_lng double, "
        "point_count long, avg_severity double",
    )


def binary_auc_severe(
    predictions,
    label_col: str = "label",
    probability_col: str = "probability",
    severe_from: float = 2.0,
) -> float:
    """The reference's binarized AUC (E3, random_forest.py:166-188:
    Severity>=3 vs rest) done soundly: score = summed probability of
    the severe classes (the reference scored the binarized label
    against the 4-class rawPrediction — SURVEY §7.4.6). Kept for
    metric-name parity; one_vs_rest_auc is the canonical form."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    parr = vector_to_array(probability_col)
    head = predictions.select(F.size(parr).alias("n")).head()
    if head is None:
        raise ValueError("binary_auc_severe: empty predictions frame")
    n = head["n"]
    classes = [
        r[0]
        for r in predictions.select(F.col(label_col).cast("double"))
        .distinct()
        .collect()
    ]
    _validate_dense_labels(classes, n, label_col)
    severe_score = sum(
        (parr[i] for i in range(int(severe_from), n)), F.lit(0.0)
    )
    scored = predictions.select(
        F.when(F.col(label_col) >= severe_from, 1.0).otherwise(0.0).alias("_bl"),
        severe_score.alias("_score"),
    )
    return BinaryClassificationEvaluator(
        rawPredictionCol="_score", labelCol="_bl", metricName="areaUnderROC"
    ).evaluate(scored)
