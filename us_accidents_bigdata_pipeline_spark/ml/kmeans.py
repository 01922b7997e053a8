"""K-Means geographic clustering (SURVEY §2.8 M7/M10, §2.9 E5/E7).

Reference parity: KMeans(k, seed=42, maxIter) with the silhouette-based
"elbow" sweep (kmeans_clustering.py:107-137 — argmax silhouette, not a
true elbow; kept with the same semantics), cluster centers + WSSSE
(M10), per-cluster stats aggregate (A2, kmeans_clustering.py:202-208),
squaredEuclidean silhouette (v2:cell48; SURVEY §7.4.8 records this as
the engine's canonical definition).
"""

from __future__ import annotations

from pyspark.ml.clustering import KMeans, KMeansModel
from pyspark.ml.evaluation import ClusteringEvaluator
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fit_kmeans(
    df: DataFrame, k: int, max_iter: int = 50, seed: int = 42
) -> KMeansModel:
    km = KMeans(
        k=k,
        seed=seed,
        maxIter=max_iter,
        featuresCol="features",
        predictionCol="cluster",
    )
    return km.fit(df)


def silhouette(predictions: DataFrame) -> float:
    """ClusteringEvaluator silhouette — squaredEuclidean to match the
    reference's Spark-side numbers (0.73-range, not sklearn's 0.11)."""
    ev = ClusteringEvaluator(
        featuresCol="features",
        predictionCol="cluster",
        metricName="silhouette",
        distanceMeasure="squaredEuclidean",
    )
    return ev.evaluate(predictions)


def k_sweep(
    df: DataFrame, ks: list[int], max_iter: int = 30, seed: int = 42
) -> tuple[int, list[tuple[int, float, float]]]:
    """Silhouette sweep over candidate k (E7). Returns
    (best_k, [(k, silhouette, wssse), ...]); best = argmax silhouette
    (the reference's 'elbow', kmeans_clustering.py:133-137).

    The per-k fits are INDEPENDENT Spark jobs, so they run from
    concurrent driver threads (Spark's scheduler interleaves their
    stages): each small-k fit leaves most of the cluster idle between
    its iteration barriers, and overlapping the candidates fills those
    gaps — measured ~2x on the pipeline's 3-candidate sweep at the
    200K tier. Results are deterministic per k (seeded); the thread
    pool only changes scheduling, never the math."""
    from concurrent.futures import ThreadPoolExecutor

    def one(k: int) -> tuple[int, float, float]:
        model = fit_kmeans(df, k, max_iter=max_iter, seed=seed)
        pred = model.transform(df)
        sil = silhouette(pred)
        wssse = model.summary.trainingCost
        return (k, sil, wssse)

    with ThreadPoolExecutor(max_workers=min(len(ks), 4)) as pool:
        results = list(pool.map(one, ks))
    best_k = max(results, key=lambda t: t[1])[0]
    return best_k, results


def cluster_stats(
    predictions: DataFrame, stat_cols: list[str] | None = None
) -> DataFrame:
    """Per-cluster count / avg / stddev multi-agg
    (kmeans_clustering.py:202-208) — plain SQL-expressible (A2)."""
    stat_cols = stat_cols or []
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in stat_cols:
        aggs += [
            F.round(F.avg(c), 4).alias(f"avg_{c}"),
            F.round(F.stddev(c), 4).alias(f"std_{c}"),
        ]
    return predictions.groupBy("cluster").agg(*aggs)


def cluster_centers(model: KMeansModel) -> list[list[float]]:
    """M10: model.clusterCenters() as plain lists."""
    return [c.tolist() for c in model.clusterCenters()]
