"""K-Means geographic clustering (SURVEY §2.8 M7/M10, §2.9 E5/E7).

Reference parity: KMeans(k, seed=42, maxIter) with the silhouette-based
"elbow" sweep (kmeans_clustering.py:107-137 — argmax silhouette, not a
true elbow; kept with the same semantics), cluster centers + WSSSE
(M10), per-cluster stats aggregate (A2, kmeans_clustering.py:202-208),
squaredEuclidean silhouette (v2:cell48; SURVEY §7.4.8 records this as
the engine's canonical definition).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from functools import reduce

import numpy as np
from pyspark.ml.clustering import KMeans, KMeansModel
from pyspark.ml.evaluation import ClusteringEvaluator
from pyspark.ml.functions import vector_to_array
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..tuning import arrow_to_pandas


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
) -> tuple[int, list[tuple[int, float, float]], np.ndarray]:
    """Silhouette sweep over candidate k (E7). Returns
    (best_k, [(k, silhouette, wssse), ...], the winner's centres); best
    = argmax silhouette (the reference's 'elbow',
    kmeans_clustering.py:133-137). The winner's centres are returned so
    that a caller that sweeps its full data at its final iteration
    budget need not fit it again.

    MLlib runs only each candidate's k-means|| initialisation
    (``max_iter=0``); the Lloyd iterations and the silhouette run on the
    driver (``lloyd``, ``squared_euclidean_silhouette``), over ``df``'s
    features collected once. Every Lloyd iteration in MLlib is one Spark
    job, so on a sweep-sized input (the pipeline's is at most its
    200,000-row sample) the sweep was bound by job latency, not data;
    the driver-side port mirrors MLlib's rules, so the results are the
    same. The init fits are independent Spark jobs and run from
    concurrent driver threads, beside the collect: each small job
    leaves most of the cluster idle, and overlapping them fills those
    gaps (measured ~2x for the three MLlib fits, when they still ran
    their iterations too)."""
    with ThreadPoolExecutor(max_workers=min(len(ks), 4)) as pool:
        inits = pool.map(lambda k: fit_kmeans(df, k, max_iter=0, seed=seed), ks)
        x = np.stack(arrow_to_pandas(df.select(vector_to_array("features").alias("x")))["x"])
        inits = list(inits)
    tol = KMeans().getTol()
    fits = []
    for k, init in zip(ks, inits):
        centers, wssse, _ = lloyd(x, np.array(init.clusterCenters()), max_iter, tol)
        sil = squared_euclidean_silhouette(x, _sq_dists(x, centers).argmin(axis=1))
        fits.append(((k, sil, wssse), centers))
    (best_k, _, _), best_centers = max(fits, key=lambda f: f[0][1])
    return best_k, [r for r, _ in fits], best_centers


def _sq_dists(x: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """Squared Euclidean distance of every row to every centre; its
    ``argmin`` is the nearest centre, the lowest index on a tie (MLlib's
    ``findClosest``)."""
    return ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)


def lloyd(
    x: np.ndarray, centers: np.ndarray, max_iter: int, tol: float
) -> tuple[np.ndarray, float, int]:
    """MLlib's Lloyd iterations (``mllib.clustering.KMeans``) on the
    driver. Returns (centres, cost, iterations), where cost is the
    squared-distance sum of the last iteration's assignment, taken
    before its centre update (MLlib's ``trainingCost``). A centre with
    no points stays where it is; the loop stops once every updated
    centre moved by at most ``tol`` (squared distance <= tol²) or after
    ``max_iter`` iterations."""
    centers = centers.copy()
    cost, it, converged = 0.0, 0, False
    while it < max_iter and not converged:
        d2 = _sq_dists(x, centers)
        cost = float(d2.min(axis=1).sum())
        member = np.eye(len(centers))[d2.argmin(axis=1)]  # one-hot, n × k
        n = member.sum(axis=0)
        hit = n > 0
        old = centers[hit]
        centers[hit] = (member.T @ x)[hit] * (1.0 / n[hit])[:, None]
        converged = bool((((centers[hit] - old) ** 2).sum(axis=1) <= tol * tol).all())
        it += 1
    return centers, cost, it


def squared_euclidean_silhouette(x: np.ndarray, assign: np.ndarray) -> float:
    """Spark's ``SquaredEuclideanSilhouette`` (what ``silhouette``
    computes) in O(n·k): a point's mean squared distance to cluster c is
    |x|² + Ψ_c/n_c − 2·x·Y_c/n_c, from each cluster's count n_c, feature
    sum Y_c and squared-norm sum Ψ_c. The own-cluster distance is scaled
    by n_c/(n_c−1) to leave the point out; a singleton scores 0."""
    _, pos = np.unique(assign, return_inverse=True)
    member = np.eye(pos.max() + 1)[pos]
    n = member.sum(axis=0)
    sq = (x * x).sum(axis=1)
    d = sq[:, None] + (member.T @ sq) / n - 2 * (x @ (member.T @ x).T) / n
    rows = np.arange(len(x))
    own_n = n[pos]
    single = own_n == 1
    own = d[rows, pos] * own_n / np.where(single, 1.0, own_n - 1)
    d[rows, pos] = np.inf
    other = d.min(axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        s = np.where(own < other, 1 - own / other,
                     np.where(own > other, other / own - 1, 0.0))
    return float(np.where(single, 0.0, s).mean())


def assign_clusters(df: DataFrame, centers) -> DataFrame:
    """``df`` with a ``cluster`` column: each row's nearest centre, as a
    Catalyst expression over ``vector_to_array(features)`` (the argmin
    of ``least`` over (squared distance, index) structs, so a tie goes
    to the lowest index, as in ``KMeansModel.transform``). The column
    carries the nominal-attribute metadata MLlib attaches to its
    prediction."""
    x = F.col("_x")

    def dist(c) -> Column:
        return reduce(
            lambda a, b: a + b,
            [(x[j] - float(v)) * (x[j] - float(v)) for j, v in enumerate(c)],
        )

    best = F.least(
        *[F.struct(dist(c).alias("d"), F.lit(i).alias("i")) for i, c in enumerate(centers)]
    )
    meta = {"ml_attr": {"num_vals": len(centers), "type": "nominal"}}
    return (
        df.withColumn("_x", vector_to_array("features"))
        .withColumn("cluster", best["i"].alias("cluster", metadata=meta))
        .drop("_x")
    )


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

