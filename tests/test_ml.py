"""ML operator tests: reference-parity pipeline on synthetic accidents
(golden-tolerance idiom, SURVEY §5.2) + kNN formulation equivalence +
metric parity with MLlib evaluators."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from us_accidents_bigdata_pipeline_spark.ml.features import (
    array_to_features,
    assemble_and_scale,
    index_categoricals,
)
from us_accidents_bigdata_pipeline_spark.ml.kmeans import (
    assign_clusters,
    cluster_stats,
    fit_kmeans,
    k_sweep,
    lloyd,
    silhouette,
    squared_euclidean_silhouette,
)
from us_accidents_bigdata_pipeline_spark.ml.knn import (
    knn_predict,
    knn_predict_exact,
    optimal_k_sweep,
)
from us_accidents_bigdata_pipeline_spark.ml.metrics import (
    confusion_matrix,
    evaluate_classifier,
    one_vs_rest_auc,
    per_class_report,
)
from us_accidents_bigdata_pipeline_spark.ml.rf import (
    RFParams,
    feature_importance,
    train_rf,
    train_with_retry,
)
from us_accidents_bigdata_pipeline_spark.operators.clean import clean
from us_accidents_bigdata_pipeline_spark.operators.sample import deterministic_split
from us_accidents_bigdata_pipeline_spark.sources.accidents import generate_accidents_raw_distributed

from .conftest import SF_ORACLE

FEATURES = [
    "Distance_mi",
    "Temperature_F",
    "Humidity_Percent",
    "Visibility_mi",
    "Wind_Speed_mph",
    "Traffic_Signal",
]


@pytest.fixture(scope="module")
def accidents_cleaned(spark):
    raw = generate_accidents_raw_distributed(spark, n_rows=4000, seed=42)
    return clean(raw).cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")


def test_rf_severity_pipeline(accidents_cleaned):
    df = accidents_cleaned.withColumn(
        "label", (F.col("Severity") - 1).cast("double")
    )
    feat, _ = assemble_and_scale(df, FEATURES, with_mean=False)
    train, test = deterministic_split(feat, "ID", 0.25)
    model = train_with_retry(train, RFParams.notebook_tuned())[0]
    preds = model.transform(test)
    m = evaluate_classifier(preds)
    # golden floor: the planted signal is learnable well above the
    # majority-class rate (~0.66 on this synthetic mix)
    assert m["accuracy"] > 0.70, m
    assert 0 < m["f1"] <= 1
    imp = feature_importance(model, FEATURES)
    assert imp[0][0] in ("Distance_mi", "Visibility_mi"), imp
    aucs = one_vs_rest_auc(preds)
    assert all(0.5 <= v <= 1.0 for v in aucs.values()), aucs


class _Train:
    """Stands in for the train frame: the retry ladder only samples it."""

    def sample(self, *args):
        return self


def test_rf_retry_propagates_non_oom_errors(monkeypatch):
    calls = []

    def broken(train, params=None):
        calls.append(train)
        raise ValueError("no such column: featurez")

    monkeypatch.setattr("us_accidents_bigdata_pipeline_spark.ml.rf.train_rf", broken)
    with pytest.raises(ValueError, match="featurez"):
        train_with_retry(_Train())
    assert len(calls) == 1


@pytest.mark.parametrize(
    "oom",
    [
        "An error occurred while calling o412.fit.\n"
        ": java.lang.OutOfMemoryError: Java heap space",
        "Job aborted due to stage failure: Task 3 in stage 41.0 failed 1 times"
        ": org.apache.spark.memory.SparkOutOfMemoryError:"
        " Unable to acquire 65536 bytes of memory, got 0",
    ],
    ids=["java-heap", "spark-execution-memory"],
)
def test_rf_retry_falls_back_to_half_sample_on_oom(monkeypatch, oom):
    calls = []

    def oom_once(train, params=None):
        calls.append(train)
        if len(calls) == 1:
            raise RuntimeError(oom)
        return "model"

    monkeypatch.setattr("us_accidents_bigdata_pipeline_spark.ml.rf.train_rf", oom_once)
    assert train_with_retry(_Train()) == ("model", 0.5)


def test_metrics_match_mllib_evaluator(accidents_cleaned):
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    df = accidents_cleaned.withColumn(
        "label", (F.col("Severity") - 1).cast("double")
    )
    feat, _ = assemble_and_scale(df, FEATURES, with_mean=False)
    train, test = deterministic_split(feat, "ID", 0.25)
    preds = train_rf(train, RFParams(num_trees=20, max_depth=6)).transform(test)
    ours = evaluate_classifier(preds)
    for metric, key in [
        ("accuracy", "accuracy"),
        ("weightedPrecision", "precision"),
        ("weightedRecall", "recall"),
        ("f1", "f1"),
    ]:
        ref = MulticlassClassificationEvaluator(
            labelCol="label", predictionCol="prediction", metricName=metric
        ).evaluate(preds)
        assert abs(ours[key] - ref) < 1e-9, (metric, ours[key], ref)
    cm = confusion_matrix(preds)
    assert cm.agg(F.sum("n")).head()[0] == preds.count()
    rep = per_class_report(preds)
    assert set(rep.columns) == {"class", "precision", "recall", "f1", "support"}


def test_knn_pandas_udf_matches_exact(spark, embeddings):
    train = embeddings.filter(F.col("vec_id") >= 100)
    test = embeddings.filter(F.col("vec_id") < 100)
    fast = knn_predict(
        test, train, k=5, features_col="embedding", label_col="label"
    ).select("vec_id", "prediction")
    exact = knn_predict_exact(
        test,
        train,
        k=5,
        id_col="vec_id",
        features_col="embedding",
        label_col="label",
    ).select("vec_id", "prediction")
    f = {r.vec_id: r.prediction for r in fast.collect()}
    e = {r.vec_id: r.prediction for r in exact.collect()}
    agree = sum(1 for vid in f if f[vid] == e[vid]) / len(f)
    # identical semantics; tolerate rare float-tie divergence at the
    # k-th neighbor boundary between the two distance formulations
    assert agree >= 0.99, f"agreement {agree}"


def test_knn_learns_separable_blobs(spark):
    # testdata embeddings have geometry-independent labels (measured 1-NN
    # label agreement = chance), so accuracy is asserted on synthetic
    # separable blobs instead; the real table covers formulation parity.
    import numpy as np

    rng = np.random.default_rng(42)
    rows = []
    for cls, center in enumerate([(0.0, 0.0), (5.0, 5.0), (-5.0, 5.0)]):
        pts = rng.normal(center, 0.7, size=(60, 2))
        rows += [
            (cls * 60 + i, [float(x), float(y)], cls)
            for i, (x, y) in enumerate(pts)
        ]
    df = spark.createDataFrame(rows, "id long, embedding array<double>, label int")
    train = df.filter(F.col("id") % 3 != 0)
    test = df.filter(F.col("id") % 3 == 0)
    best_k, accs = optimal_k_sweep(
        train, test, ks=(3, 5), features_col="embedding", label_col="label"
    )
    assert best_k in (3, 5)
    assert max(accs.values()) > 0.95, accs


def test_kmeans_sweep_and_stats(accidents_cleaned):
    geo = accidents_cleaned.select("Start_Lat", "Start_Lng", "Severity")
    feat, _ = assemble_and_scale(geo, ["Start_Lat", "Start_Lng"])
    best_k, results, centers = k_sweep(feat, [2, 3, 4], max_iter=20)
    assert best_k in (2, 3, 4)
    assert all(-1 <= s <= 1 for _, s, _ in results)
    # the returned winner is what a refit of best_k would give
    refit = fit_kmeans(feat, best_k, max_iter=20)
    np.testing.assert_allclose(
        centers, np.array(refit.clusterCenters()), rtol=0, atol=1e-9
    )
    pred = assign_clusters(feat, centers)
    sil = silhouette(pred)
    assert sil == pytest.approx({k: s for k, s, _ in results}[best_k], abs=1e-9)
    assert sil > 0.3  # uniform geo data still separates under kmeans
    stats = cluster_stats(pred, stat_cols=["Severity"])
    rows = stats.collect()
    assert len(rows) == best_k
    assert sum(r.n for r in rows) == feat.count()
    assert len(centers) == best_k


@pytest.fixture(scope="module")
def pipeline_geo(spark):
    """The 3,000-row pipeline fixture's geo frame, built as the
    pipeline's K-Means branch builds it."""
    from us_accidents_bigdata_pipeline_spark.pipeline import GEO_FEATURES

    raw = generate_accidents_raw_distributed(spark, n_rows=3000, seed=42)
    geo, _ = assemble_and_scale(
        clean(raw).select("ID", "Severity", *GEO_FEATURES), GEO_FEATURES
    )
    geo = geo.cache()
    yield geo
    geo.unpersist()


def test_kmeans_driver_path_matches_mllib(pipeline_geo):
    """Dual-path equality (the ``assert_gpu_and_cpu_are_equal_collect``
    idea): the sweep's driver-side Lloyd iterations, silhouette and
    Catalyst assignment give what MLlib's own fit, ClusteringEvaluator
    and ``KMeansModel.transform`` give, for every candidate k."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import vector_to_array

    from us_accidents_bigdata_pipeline_spark.pipeline import (
        KMEANS_KS,
        KMEANS_MAX_ITER,
        SEED,
    )
    from us_accidents_bigdata_pipeline_spark.tuning import arrow_to_pandas

    _, sweep, _ = k_sweep(pipeline_geo, KMEANS_KS, max_iter=KMEANS_MAX_ITER, seed=SEED)
    for k, sweep_sil, sweep_wssse in sweep:
        model = fit_kmeans(pipeline_geo, k, max_iter=KMEANS_MAX_ITER, seed=SEED)
        init = fit_kmeans(pipeline_geo, k, max_iter=0, seed=SEED)
        # one collect holds each row's features, MLlib's assignment and
        # the expression's assignment from the driver-side centres
        mllib = model.transform(pipeline_geo).withColumnRenamed("cluster", "mllib")
        x = np.stack(
            arrow_to_pandas(
                pipeline_geo.select(vector_to_array("features").alias("x"))
            )["x"]
        )
        centers, cost, n_iter = lloyd(
            x, np.array(init.clusterCenters()), KMEANS_MAX_ITER, KMeans().getTol()
        )
        rows = arrow_to_pandas(
            assign_clusters(mllib, centers).select(
                vector_to_array("features").alias("x"), "mllib", "cluster"
            )
        )
        np.testing.assert_allclose(
            centers, np.array(model.clusterCenters()), rtol=0, atol=1e-9
        )
        assert n_iter == model.summary.numIter
        assert cost == pytest.approx(model.summary.trainingCost, rel=1e-9)
        assert sweep_wssse == pytest.approx(model.summary.trainingCost, rel=1e-9)
        assert (rows["cluster"] == rows["mllib"]).all(), k
        sil = silhouette(model.transform(pipeline_geo))
        local = squared_euclidean_silhouette(
            np.stack(rows["x"]), rows["cluster"].to_numpy()
        )
        assert local == pytest.approx(sil, abs=1e-9)
        assert sweep_sil == pytest.approx(sil, abs=1e-9)


def test_driver_silhouette_singleton_matches_evaluator(spark):
    """A singleton cluster scores 0 and a point nearer another cluster
    than its own scores below 0, as in ClusteringEvaluator."""
    from pyspark.ml.linalg import Vectors

    pts = [
        ((0.0, 0.0), 0), ((0.0, 1.0), 0), ((1.0, 0.0), 0), ((9.0, 9.0), 0),
        ((10.0, 10.0), 1), ((10.0, 11.0), 1), ((11.0, 10.0), 1),
        ((50.0, 50.0), 2),
    ]
    df = spark.createDataFrame(
        [(Vectors.dense(p), c) for p, c in pts], ["features", "cluster"]
    )
    local = squared_euclidean_silhouette(
        np.array([p for p, _ in pts]), np.array([c for _, c in pts])
    )
    assert local == pytest.approx(silhouette(df), abs=1e-12)


def test_string_indexer_frequency_order(spark):
    df = spark.createDataFrame(
        [("a",), ("b",), ("b",), ("c",), ("b",), ("c",)], ["cat"]
    )
    out, _ = index_categoricals(df, ["cat"])
    m = {r.cat: r.cat_idx for r in out.distinct().collect()}
    assert m == {"b": 0.0, "c": 1.0, "a": 2.0}


def test_array_to_features_roundtrip(embeddings):
    out = array_to_features(embeddings, "embedding")
    row = out.select("features").head()
    assert len(row.features) == 64


def test_model_save_load_roundtrip(accidents_cleaned, tmp_path):
    """Model persistence: a trained model must survive save/load with
    IDENTICAL predictions — retraining on a 100 TB corpus because the
    model object died with its driver is not a recovery plan."""
    from pyspark.ml.classification import RandomForestClassificationModel

    df = accidents_cleaned.withColumn(
        "label", (F.col("Severity") - 1).cast("double")
    )
    feat, _ = assemble_and_scale(df, FEATURES, with_mean=False)
    train, test = deterministic_split(feat, "ID", 0.25)
    model = train_rf(train, RFParams(num_trees=10, max_depth=4))

    sample = test.limit(200)
    before = {
        r.ID: r.prediction for r in model.transform(sample).collect()
    }
    path = str(tmp_path / "rf_model")
    model.write().overwrite().save(path)
    loaded = RandomForestClassificationModel.load(path)
    after = {
        r.ID: r.prediction for r in loaded.transform(sample).collect()
    }
    assert before == after


def test_cross_validator_tuning_selects_from_grid(accidents_cleaned):
    """MLlib hyperparameter tuning surface (CrossValidator): 3-fold CV
    over a small RF grid must pick a grid member and beat the majority
    class — the idiomatic Spark form of the reference's manual k-sweep
    loops (knn_classification.py's find-optimal-k; kmeans elbow)."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    df = accidents_cleaned.withColumn(
        "label", (F.col("Severity") - 1).cast("double")
    )
    feat, _ = assemble_and_scale(df, FEATURES, with_mean=False)
    train, test = deterministic_split(feat, "ID", 0.25)
    rf = RandomForestClassifier(
        featuresCol="features", labelCol="label", seed=42, maxDepth=5
    )
    grid = (
        ParamGridBuilder()
        .addGrid(rf.numTrees, [5, 20])
        .build()
    )
    cv = CrossValidator(
        estimator=rf,
        estimatorParamMaps=grid,
        evaluator=MulticlassClassificationEvaluator(
            labelCol="label", metricName="accuracy"
        ),
        numFolds=3,
        seed=42,
        parallelism=2,
    )
    model = cv.fit(train)
    assert model.bestModel.getNumTrees in (5, 20)
    assert len(model.avgMetrics) == 2
    acc = MulticlassClassificationEvaluator(
        labelCol="label", metricName="accuracy"
    ).evaluate(model.bestModel.transform(test))
    assert acc > 0.66, acc
    # CV's selection is consistent with its own fold metrics
    best_idx = max(range(len(model.avgMetrics)),
                   key=lambda i: model.avgMetrics[i])
    assert grid[best_idx][rf.numTrees] == model.bestModel.getNumTrees


def test_fpgrowth_small_itemsets_match_sql(spark):
    """FP-Growth's size-1 and size-2 frequent itemsets must equal the
    exact SQL counts (distinct per-order baskets, pair counts by
    co-occurrence) — an in-Spark twin of the catalog entry's Apriori
    DuckDB oracle (sizes 1-3)."""
    from us_accidents_bigdata_pipeline_spark.plans.queries import REGISTRY
    from .conftest import SF_ORACLE

    rows = REGISTRY["fpgrowth_itemsets"].builder(spark, SF_ORACLE).collect()
    import json

    got1 = {
        tuple(json.loads(r["itemset"])): r["freq"]
        for r in rows
        if r["n_items"] == 1
    }
    got2 = {
        tuple(json.loads(r["itemset"])): r["freq"]
        for r in rows
        if r["n_items"] == 2
    }

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    min_freq = 5  # absolute support, matching the catalog entry
    exact1 = {
        (r["l_partkey"],): r["n"]
        for r in baskets.groupBy("l_partkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_freq)
        .collect()
    }
    a = baskets.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa")
    )
    b = baskets.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb")
    )
    exact2 = {
        (min(r["pa"], r["pb"]), max(r["pa"], r["pb"])): r["n"]
        for r in a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_freq)
        .collect()
    }
    got2 = {(min(k), max(k)): v for k, v in got2.items()}
    assert got1 == exact1
    assert got2 == exact2
    assert exact1, "size-1 tier must be non-empty at this support"


def test_pca_matches_numpy_eig(spark):
    """MLlib PCA must agree with numpy's eigendecomposition of the
    exact sample covariance: explained-variance ratios to 1e-6, and
    each projection column equal up to the eigenvector sign."""
    import numpy as np
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from .conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("a")
    )
    feat = emb.select(
        "vec_id", array_to_vector("a").alias("features")
    )
    model = PCA(k=2, inputCol="features", outputCol="pc").fit(feat)
    got = {
        r["vec_id"]: np.array(r["p"])
        for r in model.transform(feat)
        .select("vec_id", vector_to_array("pc").alias("p"))
        .collect()
    }

    rows = emb.orderBy("vec_id").collect()
    ids = [r["vec_id"] for r in rows]
    X = np.array([r["a"] for r in rows])
    Xc = X - X.mean(axis=0)
    cov = Xc.T @ Xc / (len(X) - 1)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]

    ratios_np = (w / w.sum())[:2]
    ratios_ml = np.array(model.explainedVariance.toArray())
    assert np.allclose(ratios_ml, ratios_np, atol=1e-6), (
        ratios_ml, ratios_np,
    )
    # MLlib projects the UNCENTERED data; compare per-component up to
    # sign after removing each column's mean offset
    proj_np = X @ v[:, :2]
    proj_ml = np.array([got[i] for i in ids])
    for j in range(2):
        a, b = proj_ml[:, j], proj_np[:, j]
        same = np.allclose(a, b, atol=1e-6)
        flipped = np.allclose(a, -b, atol=1e-6)
        assert same or flipped, f"component {j} mismatch beyond sign"


def test_pca2_exact_matches_numpy(spark):
    """pca2_exact's projection must match numpy's eigendecomposition
    of the same 2x2 covariance (up to the documented sign convention)."""
    import numpy as np

    from us_accidents_bigdata_pipeline_spark.ml.pca import pca2_exact
    from .conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    got = {
        r["vec_id"]: (r["pc1"], r["pc2"])
        for r in pca2_exact(emb).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    xy = np.array([[r["embedding"][0], r["embedding"][1]] for r in rows],
                  dtype=np.float64)
    c = np.cov(xy, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(c)
    order = np.argsort(vals)[::-1]
    vecs = vecs[:, order]
    for j in range(2):
        if vecs[0, j] < 0 or (vecs[0, j] == 0 and vecs[1, j] < 0):
            vecs[:, j] = -vecs[:, j]
    proj = (xy - xy.mean(axis=0)) @ vecs
    for i, vid in enumerate(ids):
        assert abs(got[vid][0] - proj[i, 0]) < 2e-4, vid
        assert abs(got[vid][1] - proj[i, 1]) < 2e-4, vid


def test_pca_projection_signed_deterministic(spark):
    """Two independent fits must produce identical signed projections
    (the raw MLlib sign is an eigensolver accident; the convention
    removes it)."""
    from us_accidents_bigdata_pipeline_spark.ml.pca import (
        pca_projection_signed,
    )
    from .conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    a = sorted(map(tuple, pca_projection_signed(emb, k=2).collect()))
    b = sorted(map(tuple, pca_projection_signed(emb, k=2).collect()))
    assert a == b
    # the dominant-loading entry per axis is positive by construction:
    # projections are not all-negative mirror images
    assert a and any(abs(v) > 1e-3 for _, v, _ in a)
