"""Similarity search over embedding columns (LLM-pipeline extension).

Three tiers:

- **Brute-force cosine top-k** (`cosine_topk`, `cosine_topk_batch`):
  exact; the query side is broadcast, every partition scores its slice
  of the corpus, per-query top-k via ranking window (or
  TakeOrderedAndProject for a single query). The correctness baseline.
  Dot products run as JVM higher-order functions — no Python in the
  scan loop.
- **LSH-bucketed** (`lsh_topk_candidates`): BucketedRandomProjectionLSH;
  candidates come from same-bucket joins — the at-scale path where
  brute force would be O(|queries|·|corpus|).
- **IVF-style** (`ivf_fit_assign`, `ivf_search`): KMeans coarse
  quantizer; search only the nearest `nprobe` cells. Model fit is a
  sampled batch job; the assignment is one broadcast-join of centroids.

This generalizes the reference's one custom operator — the broadcast
kNN over tabular features (knn_classification.py:124-164) — to
embedding space; ml/knn.py holds the tabular version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import cosine_similarity, dot_product, l2_norm
from ..tuning import arrow_to_pandas, safe_to_pandas


def cosine_topk(
    df: DataFrame,
    query_id: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of one corpus vector.

    One-row query side is crossJoin(broadcast(...)) — at any corpus
    size this is a map-only scan followed by TakeOrderedAndProject
    (per-partition heap, driver merge); no shuffle of the corpus.

    The query norm is LET-BOUND on the (1-row) broadcast side, so the
    per-row score pays one dot fold + one corpus-norm fold instead of
    three O(d) folds (the inline ``cosine_similarity`` re-derived the
    query norm per corpus row). Same IEEE ops — values unchanged.
    """
    q = df.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qv"), l2_norm(vec_col).alias("_qn")
    )
    return (
        df.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != query_id)
        .select(
            F.col(id_col),
            F.round(
                dot_product(vec_col, "_qv")
                / (l2_norm(vec_col) * F.col("_qn")),
                4,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for a batch of query vectors.

    ``queries`` (query_id, query vec) is broadcast; the corpus scan
    scores |queries| dots per row; the per-query top-k runs as a rank
    window whose Partial ``WindowGroupLimit`` prunes to k rows per
    query ON THE MAP SIDE (Spark 4 rank-limit pushdown), so the
    exchange carries tasks×|queries|×k rows, not |corpus|·|queries|.

    Norms are LET-BOUND below the join — corpus norm once per corpus
    row (a Project under the join, which CollapseProject cannot merge
    into the per-pair projection), query norms once per query on the
    broadcast side — so each scored pair pays ONE O(d) fold (the dot)
    instead of three. Same IEEE division/multiply — values unchanged.
    """
    qs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(vec_col).alias("_qn"),
    )
    corpus = df.select(
        F.col(id_col), F.col(vec_col), l2_norm(vec_col).alias("_n")
    )
    scored = (
        corpus.crossJoin(F.broadcast(qs))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                dot_product(vec_col, "_qv") / (F.col("_n") * F.col("_qn")),
                4,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _to_ml_vector(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """array<float> → ml Vector column (required by MLlib LSH/KMeans)."""
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(out_col, array_to_vector(F.col(vec_col).cast("array<double>")))


def _unit_normalized(
    df: DataFrame, vec_col: str, out_col: str = "_unit"
) -> DataFrame:
    """L2-normalize an array column with the norm LET-BOUND in a
    temporary column. The previous inline form
    ``transform(v, x -> x / l2_norm(v))`` re-evaluated the O(d) norm
    fold inside the per-element lambda — O(d²) work per row (measured
    in round 12; at d=768 that is 590k ops/row instead of 1.5k). The
    division itself is the identical IEEE op, so values are unchanged.
    """
    from ..functions import l2_norm

    return df.withColumn("_n", l2_norm(vec_col)).withColumn(
        out_col,
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: x / F.col("_n"),
        ),
    ).drop("_n")


def _brp_bucket_udf(
    num_hash_tables: int, bucket_length: float, seed: int
):
    """Arrow pandas_udf assigning each vector its BRP-LSH bucket per
    hash table: bucket_i = floor(dot(v/||v||, r_i) / w) with r_i a
    seeded random UNIT direction (unit directions keep the projection
    of unit-norm data in [-1, 1], preserving the per-table collision
    analysis documented on the callers). The direction matrix depends
    only on (seed, dim) — every task regenerates the same R, so bucket
    ids are deterministic and partition-layout independent. One BLAS
    matmul per Arrow batch replaces MLlib's per-row Scala UDF hashing."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    L, w, sd = int(num_hash_tables), float(bucket_length), int(seed)

    @pandas_udf("array<long>")
    def _buckets(col):
        if len(col) == 0:
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in col])
        rng = np.random.RandomState(sd)
        R = rng.standard_normal((L, V.shape[1]))
        R /= np.linalg.norm(R, axis=1, keepdims=True)
        n = np.linalg.norm(V, axis=1, keepdims=True)
        n[n == 0.0] = 1.0
        B = np.floor((V / n) @ R.T / w).astype(np.int64)
        return pd.Series(list(B))

    return _buckets


def _nearest_centroid_udf(cells, centroids):
    """Arrow pandas_udf: nearest-centroid assignment, bit-identical to
    the expression form ``array_min(array_k(struct(sq_dist(v, c_k),
    id_k))).c``. Each squared distance replays the same strict
    LEFT-TO-RIGHT double fold (``np.cumsum`` sums sequentially, exactly
    matching ``F.aggregate``'s acc ordering and DuckDB's ``list_sum``;
    every (x−y)² term is one exactly-rounded IEEE op in both), and the
    argmin replays Spark's struct ordering: double NaN-last, NULL/NaN
    rows and exact ties resolve to the smallest cell id (``cells`` must
    be ascending, as the callers' ordered collect guarantees).

    Why (guide §4): the expression form is a k·d-term HOF tree per row
    — measured 3 ms/row at k=8, d=64 in ``ivf_assignment_drift`` (6.4 s
    for 2000 rows at sf0.1). One vectorized numpy pass per Arrow batch
    does the same math; only the vector column crosses the boundary,
    and the centroid matrix is built once per task from the closure.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ids = [int(c) for c in cells]
    cmat = [np.asarray(c, dtype=np.float64) for c in centroids]

    @pandas_udf("int")
    def _assign(col):
        if len(col) == 0:
            return pd.Series([], dtype="int32")
        dim = len(cmat[0])
        rows = [
            np.full(dim, np.nan)
            if v is None
            else np.asarray(v, dtype=np.float64)
            for v in col
        ]
        vmat = np.stack(rows)
        best_d = best_c = None
        for cid, c in zip(ids, cmat):
            diff = vmat - c
            d = np.cumsum(diff * diff, axis=1)[:, -1]
            if best_d is None:
                best_d = d
                best_c = np.full(len(d), cid, dtype=np.int64)
            else:
                better = ~np.isnan(d) & (np.isnan(best_d) | (d < best_d))
                best_d = np.where(better, d, best_d)
                best_c = np.where(better, cid, best_c)
        return pd.Series(best_c.astype("int32"))

    return _assign


def _sq_dist_pair_udf():
    """Arrow pandas_udf: exact pairwise squared L2 of two array
    columns — the same strict left-to-right fold as
    ``functions.sq_dist`` (see ``_nearest_centroid_udf`` for the
    cumsum-equivalence argument), one vectorized pass per Arrow batch
    instead of a d-term interpreted HOF tree per row."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _d2(a, b):
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        amat = np.stack([np.asarray(v, dtype=np.float64) for v in a])
        bmat = np.stack([np.asarray(v, dtype=np.float64) for v in b])
        diff = amat - bmat
        return pd.Series(np.cumsum(diff * diff, axis=1)[:, -1])

    return _d2


def lsh_topk_candidates(
    df: DataFrame,
    query_id: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 8,
) -> DataFrame:
    """Approximate top-k via BucketedRandomProjectionLSH (Euclidean).

    Returns (vec_id, dist) for the k nearest candidates. Bucketed
    candidate generation keeps the at-scale cost ~O(corpus) instead of
    O(corpus·queries). Approximate → rows-only check; `cosine_topk`
    is the exact reference.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    feat = _to_ml_vector(df, vec_col, "_features")
    lsh = BucketedRandomProjectionLSH(
        inputCol="_features",
        outputCol="_hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    )
    model = lsh.fit(feat)
    key = feat.filter(F.col(id_col) == query_id).head()
    if key is None:
        return df.select(F.col(id_col), F.lit(0.0).alias("dist")).limit(0)
    res = model.approxNearestNeighbors(
        feat.filter(F.col(id_col) != query_id), key["_features"], k, distCol="dist"
    )
    return res.select(F.col(id_col), F.round("dist", 4).alias("dist"))


def lsh_ann_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 8,
    max_distance: float = 1e9,
) -> DataFrame:
    """Approximate top-k for a whole QUERY SET via
    ``approxSimilarityJoin`` — the batch form ``lsh_topk_candidates``
    lacks (that one collects a single key row to the driver; a pipeline
    linking millions of embeddings needs set-vs-corpus).

    Candidates come from same-bucket joins between the hashed query set
    and the hashed corpus (cost ~ bucket collisions, never
    |queries|·|corpus|); a ranking window per query takes the k nearest
    by Euclidean distance. Mirrors ``cosine_topk_batch``'s output shape
    (query_id, neighbor_id, dist). ``max_distance`` is the LSH join
    threshold — candidates farther than it are never produced; on
    L2-normalized embeddings Euclidean rank equals cosine rank, making
    ``cosine_topk_batch`` the exact reference for recall tests.
    Approximate (bucket misses bound recall) → rows-only checks.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    corpus = _to_ml_vector(df, vec_col, "_features")
    qs = _to_ml_vector(queries, vec_col, "_features")
    lsh = BucketedRandomProjectionLSH(
        inputCol="_features",
        outputCol="_hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    )
    model = lsh.fit(corpus)
    joined = model.approxSimilarityJoin(qs, corpus, max_distance, distCol="_dist")
    pairs = joined.select(
        F.col(f"datasetA.{id_col}").alias("query_id"),
        F.col(f"datasetB.{id_col}").alias("neighbor_id"),
        F.round("_dist", 4).alias("dist"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(F.col("dist"), F.col("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def lsh_ann_batch_verified(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 1.0,
    num_hash_tables: int = 16,
) -> DataFrame:
    """Batch ANN with an exact re-rank, the serving pattern every vector
    store runs, for a query SET: LSH on L2-NORMALIZED vectors generates
    same-bucket candidate pairs, then EXACT cosine on the RAW vectors
    re-ranks each query's candidates and keeps the top k.

    Output (query_id, neighbor_id, cosine) equals the brute-force
    ``cosine_topk_batch`` whenever every true top-k neighbor collides
    with its query in at least one of the 16 OR-amplified hash tables.
    The per-table collision probability is ~0.58 at unit-sphere
    distance 1.13 with w=1.0, so the combined per-neighbor miss is
    ~1e-6 — which makes this the rare APPROXIMATE operator that is
    still oracle-checkable: the exact-batch oracle doubles as a
    standing recall assertion, and a bucket miss surfaces as a hash
    mismatch instead of being assumed away.

    At scale: hashing is one map pass over corpus+queries, candidate
    generation is a bucket equi-join (cost ~ collisions, never
    |queries|·|corpus|), and the exact re-rank touches candidate pairs
    only. The normalization matters: Euclidean LSH ranks by distance,
    and on unnormalized embeddings a cosine-near but long vector is
    Euclidean-far — no amount of overfetch recovers it (measured:
    single-query recall stuck at 4/5 on sf0.01 at any k). On the unit
    sphere ||a-b||^2 = 2(1-cos), so Euclidean candidates ARE cosine
    candidates.

    The candidate stage is NATIVE BRP-LSH (seeded unit projections via
    one Arrow-BLAS matmul per batch, posexplode to (table, bucket),
    slim integer equi-join + distinct) instead of MLlib
    ``approxSimilarityJoin``, which shuffled and DISTINCTed fat rows
    (raw + unit + ml-vector + 16 hash vectors per side) and ran a
    per-pair Scala distance UDF it then threw away — measured 6.9 s of
    this query's 10.5 s at sf0.1. Same table count, same bucket width,
    same unit-direction geometry ⇒ the miss analysis above holds, and
    the exact re-rank on raw vectors is expression-identical, so the
    output still equals brute force (verified against the exact oracle
    at sf0.001/0.01/0.1).
    """
    cand_bkts = _brp_bucket_udf(num_hash_tables, bucket_length, seed=42)
    c_e = df.select(
        F.col(id_col).alias("neighbor_id"),
        cand_bkts(F.col(vec_col).cast("array<double>")).alias("_b"),
    ).select("neighbor_id", F.posexplode("_b").alias("_t", "_h"))
    q_e = queries.select(
        F.col(id_col).alias("query_id"),
        cand_bkts(F.col(vec_col).cast("array<double>")).alias("_b"),
    ).select("query_id", F.posexplode("_b").alias("_t", "_h"))
    cand = (
        q_e.join(c_e, ["_t", "_h"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # norms let-bound below the joins (one O(d) fold per corpus row /
    # per query row instead of three per scored pair) — same IEEE ops
    scored = (
        cand.join(
            df.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("_nv"),
                l2_norm(vec_col).alias("_nn"),
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("_qv"),
                    l2_norm(vec_col).alias("_qn"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot_product("_nv", "_qv") / (F.col("_nn") * F.col("_qn")),
                4,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _nearest_cells_expr(centers, vec_col: str, m: int):
    """Column expression: the ``m`` nearest centroid ids for a vector —
    an array of struct(d2, cell) sorted by distance, sliced to m.

    Centroids ride the plan as literals (n_cells × dim doubles), so the
    assignment is MAP-ONLY: no join, no shuffle, whole-stage codegen.
    Fine for the coarse-quantizer regime (n_cells ≲ 1K); for very large
    n_cells × dim, a crossJoin(broadcast(centroids)) + per-id window is
    the fallback shape."""
    structs = [
        F.struct(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col).cast("array<double>"),
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d2"),
            F.lit(i).alias("cell"),
        )
        for i, c in enumerate(centers)
    ]
    return F.slice(F.array_sort(F.array(*structs)), 1, m)


class _LocalCentroids:
    """Driver-side centroid holder for the local numpy fit, exposing the
    one method the IVF callers use (``clusterCenters``, the MLlib
    KMeansModel name)."""

    def __init__(self, centers):
        self._centers = centers

    def clusterCenters(self):
        return self._centers


def ivf_fit_assign(
    df: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_rows: int = 100_000,
    seed: int = 42,
    m_assign: int = 1,
):
    """IVF coarse quantization, returning (assignments, model).

    The KMeans fit runs on a seeded count-capped SAMPLE
    (``count_targeted_sample``) — centroid quality converges long
    before 100K points, and a full-corpus fit is an iterative
    full-scan-per-iteration job that does not survive 100 TB. The
    assignment pass is a single map-only projection (centroids ride
    the plan as literals — see ``_nearest_cells_expr``).

    The fit follows the ``pq_train`` discipline: the count-capped
    sample — driver-sized by construction — is collected
    once, sorted lexicographically, and the coarse quantizer is fit
    with seeded numpy k-means++ + Lloyd, then the centroids are
    themselves lex-sorted. Whenever the sample IS the whole corpus
    (n ≤ ``fit_sample_rows`` — the regime every catalog fixture and
    recall pin runs in), the fit is BYTE-IDENTICAL on any
    cluster/partition layout; beyond the cap, sample MEMBERSHIP is
    partition-layout-dependent like any seeded Bernoulli sample (the
    lex-sort normalizes order, not membership), so the fit is
    deterministic per layout but can drift across layouts — still
    strictly better than MLlib's k-means|| init, which drifts even at
    fixed membership.

    ``m_assign`` is cell REPLICATION: each vector is stored in its m
    nearest cells (m rows per vector), trading m× index size for
    recall — the standard fix for neighbors that straddle a cell
    boundary (measured on the sf0.01 corpus: nprobe=2 recall@5 goes
    0.78 → 0.95 at n_cells=4 with m=2).
    """
    import numpy as np

    from .sample import count_targeted_sample

    # lean job chain (round 13, the pq_train treatment): the sample is
    # bounded at fit_sample_rows BY CONSTRUCTION (limit), so a guard
    # count would be a redundant third driver job — sizing count + one
    # Arrow collect suffice.
    slim = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
    sample = count_targeted_sample(
        slim, fit_sample_rows, total=slim.count(), seed=seed
    )
    pdf = arrow_to_pandas(sample)
    X = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
    X = X[np.lexsort(X.T[::-1])]
    centers = _kmeanspp_lloyd(X, n_cells, seed)
    centers = centers[np.lexsort(centers.T[::-1])]
    model = _LocalCentroids([np.asarray(c) for c in centers])
    cells = _nearest_cells_expr(model.clusterCenters(), vec_col, m_assign)
    assigned = df.select(
        F.col(id_col), F.explode(cells).alias("_dc")
    ).select(F.col(id_col), F.col("_dc.cell").alias("cell"))
    return assigned, model


def ivf_search(
    df: DataFrame,
    query_id: int,
    k: int = 5,
    nprobe: int = 2,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_rows: int = 100_000,
    m_assign: int = 1,
    index=None,
) -> DataFrame:
    """IVF probe search: score the query ONLY against vectors whose
    cell is among the ``nprobe`` centroids nearest the query (Euclidean
    — the metric the quantizer optimizes). Returns (vec_id, dist), the
    k nearest by exact distance within the probed cells.

    ``index``: an ``(assignments, model)`` pair from ``ivf_fit_assign``
    — pass it when issuing MANY queries so the quantizer fit and the
    corpus assignment are built once, not per query (persist the
    assignment frame caller-side for full reuse). Default None builds
    a fresh index (the one-off-query convenience path).

    Scale shape: centroid ranking is driver-side over n_cells rows
    (tiny); the probe filter is a semi-join against the probed slice of
    the assignment table, so the corpus scan reads ~nprobe·m/n_cells of
    the data and nothing else shuffles. Recall is bounded by cell
    spill-over (neighbors living in unprobed cells) — ``m_assign``
    replication is the lever against it; the exact scan is the
    correctness reference.
    """
    import numpy as np

    if index is not None:
        assigned, model = index
    else:
        assigned, model = ivf_fit_assign(
            df, n_cells, id_col, vec_col, fit_sample_rows, m_assign=m_assign
        )
    qrow = df.filter(F.col(id_col) == query_id).select(vec_col).head()
    if qrow is None:
        return df.select(F.col(id_col), F.lit(0.0).alias("dist")).limit(0)
    q = np.asarray(qrow[0], dtype=np.float64)
    centers = model.clusterCenters()
    order = np.argsort([float(np.linalg.norm(q - c)) for c in centers])
    probe_cells = [int(c) for c in order[:nprobe]]

    spark = df.sparkSession
    cells_df = spark.createDataFrame([(c,) for c in probe_cells], "cell int")
    probed_ids = assigned.join(F.broadcast(cells_df), "cell", "semi")
    # semi-join (not inner) so a vector stored in several probed cells
    # (m_assign > 1) scores exactly once
    candidates = df.join(probed_ids, id_col, "semi").filter(
        F.col(id_col) != query_id
    )
    qlit = F.array(*[F.lit(float(x)) for x in q])
    d2 = F.aggregate(
        F.zip_with(F.col(vec_col).cast("array<double>"), qlit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        candidates.select(F.col(id_col), F.round(F.sqrt(d2), 4).alias("dist"))
        .orderBy(F.col("dist"), F.col(id_col))
        .limit(k)
    )


def ivf_cell_radii(
    df: DataFrame,
    assigned: DataFrame,
    centers,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Cell radius metadata for the pruning certificate: max member-to-
    centroid Euclidean distance per cell — ONE groupBy over the
    assignment join, n_cells rows collected. Build-time metadata in a
    real serving index; pass it in ``ivf_search_exact_pruned``'s
    3-tuple index so repeated queries never re-aggregate the corpus."""
    centers_arr = {
        int(i): F.array(*[F.lit(float(x)) for x in c])
        for i, c in enumerate(centers)
    }
    member_d = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.element_at(
                    F.map_from_arrays(
                        F.array(*[F.lit(i) for i in centers_arr]),
                        F.array(*centers_arr.values()),
                    ),
                    F.col("cell"),
                ),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return {
        int(r["cell"]): float(r["r"])
        for r in assigned.join(df, id_col)
        .select("cell", member_d.alias("_d"))
        .groupBy("cell")
        .agg(F.max("_d").alias("r"))
        .collect()
    }


def _certified_probe_cells(cdist, radii: dict, d_k: float) -> list:
    """Cells that COULD hold a vector within the certified search
    radius: keep cell ``c`` iff ``|q-c| - r_c <= d_k + 1e-4 + 1e-9``.
    The +1e-4 covers the output's round(dist, 4)+id ordering (a row
    one rounding bin beyond d_k can round-TIE the kth row and win the
    id tiebreak — the certificate must include it); the +1e-9 absorbs
    float noise between the numpy bound math and the Spark-side fold.
    Every excluded cell provably (triangle inequality) holds nothing
    that the exact top-k under that ordering could select."""
    bound = d_k + 1e-4 + 1e-9
    return [
        int(c)
        for c in range(len(cdist))
        if float(cdist[c]) - radii.get(int(c), 0.0) <= bound
    ]


def ivf_search_exact_pruned(
    df: DataFrame,
    query_id: int,
    k: int = 5,
    nprobe_initial: int = 2,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_rows: int = 100_000,
    index=None,
) -> DataFrame:
    """IVF search with a triangle-inequality certificate: PROVABLY the
    exact Euclidean top-k, yet it only scans cells that could matter.

    ``ivf_search``'s fixed-nprobe probe trades recall for speed — fine
    when misses are acceptable, but un-oracle-able (a miss is silent).
    This variant makes the index a PRUNER, never an approximator:

    1. scan the ``nprobe_initial`` cells nearest the query; the kth
       candidate distance there is an upper bound ``d_k`` on the true
       kth distance;
    2. a vector in an unscanned cell ``c`` (centroid dist ``|q-c|``,
       cell radius ``r_c`` = max member-to-centroid distance, computed
       once at build) is at least ``|q-c| - r_c`` away; every cell
       with ``|q-c| - r_c <= d_k`` (+1e-9 float slack) joins the probe
       set, the rest are CERTIFIED to hold nothing closer;
    3. one second scan over the expanded probe set returns the top-k,
       now exact by the bound.

    Exactly two candidate scans, each a broadcast-semi-join-pruned
    slice of the corpus — the 100 TB shape. On clustered corpora
    (r_c << inter-centroid distance) step 2 keeps a handful of cells;
    on uniform data it honestly degrades toward a full scan, because
    NO exact index can prune uniform data — the certificate is the
    point, the pruning is the bonus. The DuckDB oracle is the plain
    exact top-k: any bound bug surfaces as a hash mismatch.

    ``index``: optional ``(assignments, model)`` or ``(assignments,
    model, radii)`` — the 3-tuple form (radii from
    ``ivf_cell_radii``) skips the per-call radius aggregate, the way
    a real serving index carries its cell metadata (m_assign=1 or
    replicated — the bound holds either way: any assigned cell of a
    vector witnesses it).
    """
    import numpy as np

    radii = None
    if index is not None:
        if len(index) == 3:
            assigned, model, radii = index
        else:
            assigned, model = index
    else:
        assigned, model = ivf_fit_assign(
            df, n_cells, id_col, vec_col, fit_sample_rows, m_assign=1
        )
    qrow = df.filter(F.col(id_col) == query_id).select(vec_col).head()
    if qrow is None:
        return df.select(F.col(id_col), F.lit(0.0).alias("dist")).limit(0)
    q = np.asarray(qrow[0], dtype=np.float64)
    centers = model.clusterCenters()
    cdist = np.asarray([float(np.linalg.norm(q - c)) for c in centers])
    order = np.argsort(cdist)

    if radii is None:
        radii = ivf_cell_radii(
            df, assigned, centers, id_col=id_col, vec_col=vec_col
        )

    spark = df.sparkSession

    def _scan(cells: list) -> DataFrame:
        cells_df = spark.createDataFrame([(c,) for c in cells], "cell int")
        probed_ids = assigned.join(F.broadcast(cells_df), "cell", "semi")
        qlit = F.array(*[F.lit(float(x)) for x in q])
        d2 = F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                qlit,
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return (
            df.join(probed_ids, id_col, "semi")
            .filter(F.col(id_col) != query_id)
            .select(F.col(id_col), F.sqrt(d2).alias("_dist"))
        )

    first = [int(c) for c in order[:nprobe_initial]]
    head = (
        _scan(first)
        .orderBy(F.col("_dist"), F.col(id_col))
        .limit(k)
        .collect()
    )
    if len(head) >= k:
        expanded = _certified_probe_cells(
            cdist, radii, float(head[-1]["_dist"])
        )
    else:
        # fewer than k candidates in the initial probe: no bound yet —
        # fall back to every non-empty cell (still exact)
        expanded = sorted(radii)
    return (
        _scan(expanded)
        .select(
            F.col(id_col), F.round(F.col("_dist"), 4).alias("dist")
        )
        .orderBy(F.col("dist"), F.col(id_col))
        .limit(k)
    )


def ivf_probe_containment_check(
    df: DataFrame,
    query_id: int,
    k: int = 5,
    nprobe_initial: int = 2,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_rows: int = 100_000,
    index=None,
) -> DataFrame:
    """The IVF pruning certificate, checked against an INDEPENDENT
    brute-force scan: the exact Euclidean top-k (computed by scanning
    EVERY vector, no index involvement) annotated with whether each
    true neighbor lies inside the triangle-inequality-certified probe
    set that ``ivf_search_exact_pruned`` would scan.

    By the certificate (see ``_certified_probe_cells``), every true
    top-k member MUST be in the certified set — ``in_certified_probe``
    is provably TRUE for all k rows, fit-independent, so the value
    oracle asserts TRUE constants (the ``lsh_ann_candidates`` pattern,
    but backed by a proof instead of a collision probability). A
    FALSE row is a certificate bug — a cell wrongly excluded while
    holding a true neighbor — surfacing as a value mismatch instead
    of hiding behind a rows-only check.

    Scale shape: the independent exact scan is the brute-force
    reference (one pass, map-side top-k); the certificate side reuses
    the pruned search's machinery — initial nprobe scan for the d_k
    bound (broadcast-semi slice), one n_cells-row driver-side bound
    pass, and a broadcast membership join of the certified assignment
    slice onto k rows.
    """
    import numpy as np

    if index is not None:
        if len(index) == 3:
            assigned, model, radii = index
        else:
            assigned, model = index
            radii = None
    else:
        assigned, model = ivf_fit_assign(
            df, n_cells, id_col, vec_col, fit_sample_rows, m_assign=1
        )
        radii = None
    qrow = df.filter(F.col(id_col) == query_id).select(vec_col).head()
    if qrow is None:
        return df.select(
            F.col(id_col),
            F.lit(0.0).alias("dist"),
            F.lit(False).alias("in_certified_probe"),
        ).limit(0)
    q = np.asarray(qrow[0], dtype=np.float64)
    centers = model.clusterCenters()
    cdist = np.asarray([float(np.linalg.norm(q - c)) for c in centers])
    if radii is None:
        radii = ivf_cell_radii(
            df, assigned, centers, id_col=id_col, vec_col=vec_col
        )
    qlit = F.array(*[F.lit(float(x)) for x in q])
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            qlit,
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    spark = df.sparkSession
    order = np.argsort(cdist)
    first_cells = spark.createDataFrame(
        [(int(c),) for c in order[:nprobe_initial]], "cell int"
    )
    head = (
        df.join(
            assigned.join(F.broadcast(first_cells), "cell", "semi"),
            id_col,
            "semi",
        )
        .filter(F.col(id_col) != query_id)
        .select(F.sqrt(d2).alias("_dist"))
        .orderBy("_dist")
        .limit(k)
        .collect()
    )
    if len(head) >= k:
        cells = _certified_probe_cells(
            cdist, radii, float(head[-1]["_dist"])
        )
    else:
        cells = sorted(radii)
    cells_df = spark.createDataFrame([(c,) for c in cells], "cell int")
    certified_ids = (
        assigned.join(F.broadcast(cells_df), "cell", "semi")
        .select(id_col)
        .distinct()
        .withColumn("_in", F.lit(True))
    )
    exact = (
        df.filter(F.col(id_col) != query_id)
        .select(F.col(id_col), F.round(F.sqrt(d2), 4).alias("dist"))
        .orderBy(F.col("dist"), F.col(id_col))
        .limit(k)
    )
    return exact.join(F.broadcast(certified_ids), id_col, "left").select(
        F.col(id_col),
        "dist",
        F.coalesce(F.col("_in"), F.lit(False)).alias(
            "in_certified_probe"
        ),
    )


def _kmeanspp_lloyd(
    X, k: int, seed: int, max_iter: int = 25, tol: float = 1e-9
):
    """Seeded k-means++ init + Lloyd iterations over an in-memory
    sample (numpy, vectorized via the ||x||²+||c||²−2x·c expansion —
    the n×k distance matrix is the only intermediate). Codebook
    quality matches MLlib's k-means|| on driver-sized samples; the
    point of doing it here is latency: an iterative MLlib fit on a
    cached kilobyte-scale sample is pure job-scheduling overhead."""
    import numpy as np

    rng = np.random.RandomState(seed)
    n = X.shape[0]
    if n == 0:
        raise ValueError(
            "_kmeanspp_lloyd: empty sample — pq_train's local fit got "
            "no vectors (empty input df or all-NULL vector column)"
        )
    if n <= k:
        # fewer points than centroids: every point is its own centroid
        if n == k:
            return X
        pad = np.repeat(X[-1:], k - n, axis=0)
        return np.concatenate([X, pad], axis=0)
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.randint(n)]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        tot = d2.sum()
        if tot <= 0.0:
            centers[i:] = centers[0]
            break
        centers[i] = X[rng.choice(n, p=d2 / tot)]
        d2 = np.minimum(d2, ((X - centers[i]) ** 2).sum(axis=1))
    x2 = (X**2).sum(axis=1, keepdims=True)
    for _ in range(max_iter):
        dists = x2 + (centers**2).sum(axis=1) - 2.0 * (X @ centers.T)
        assign = dists.argmin(axis=1)
        new = centers.copy()
        for c in range(k):
            members = X[assign == c]
            if len(members):
                new[c] = members.mean(axis=0)
        shift = ((new - centers) ** 2).sum()
        centers = new
        if shift < tol:
            break
    return centers


def pq_train(
    df: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    vec_col: str = "embedding",
    fit_sample_rows: int = 100_000,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the vector into ``m``
    contiguous subspaces and fit a ``k_codes``-centroid KMeans per
    subspace on a seeded count-capped SAMPLE (like ``ivf_fit_assign``
    — quantizer quality converges long before 100K points; a
    full-corpus iterative fit does not survive 100 TB).

    Returns m codebooks of k_codes centroids each (dim/m floats per
    centroid) — m·k_codes·(dim/m) = k_codes·dim doubles total, a
    driver-sized object that rides query plans as literals.

    The count-capped sample — already a driver-sized object by
    construction — is collected once, sorted lexicographically
    (layout-independent determinism), and the m
    codebooks are fit with seeded numpy k-means++ + Lloyd. This is the
    FAISS idiom: PQ training data is always a bounded sample; running
    an iterative distributed fit over it buys nothing but per-job
    scheduler latency (measured 8× wall at sf0.1).

    PQ is THE memory-bounded ANN shape: each vector compresses to m
    small codes (m bytes at k_codes ≤ 256), so a 100 TB float corpus
    becomes a ~1.5 TB code table that fits hot storage, and
    asymmetric-distance search never touches the original vectors
    until the re-rank."""
    import numpy as np

    from .sample import count_targeted_sample

    slim = df.select(F.col(vec_col).cast("array<double>").alias("_v"))

    # Lean job chain (round 13): the old path ran FOUR sequential
    # driver jobs — count_targeted_sample's count, a head() for the
    # dim, safe_to_pandas' guard count, the collect. The sample is
    # bounded at fit_sample_rows BY CONSTRUCTION (limit), so the
    # guard count is redundant, and the dim reads off the collected
    # frame. Two jobs: the sizing count + one Arrow collect. Same
    # sample rows, same seed, same sort → codebooks bit-identical.
    n = slim.count()
    sample = count_targeted_sample(
        slim, fit_sample_rows, total=n, seed=seed
    )
    pdf = arrow_to_pandas(sample)
    if len(pdf) == 0:
        raise ValueError("pq_train: empty input")
    dim = len(pdf["_v"].iloc[0])
    if dim % m != 0:
        raise ValueError(
            f"pq_train: dim {dim} not divisible by m={m}"
        )
    sub = dim // m
    X = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
    # collect order depends on partition layout — sort rows so the
    # codebooks are byte-identical on any cluster/partitioning
    X = X[np.lexsort(X.T[::-1])]
    books = []
    for j in range(m):
        centers = _kmeanspp_lloyd(
            X[:, j * sub : (j + 1) * sub], k_codes, seed + j
        )
        centers = centers[np.lexsort(centers.T[::-1])]
        books.append([[float(x) for x in c] for c in centers])
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only PQ encoding: (id, codes array<int>, _qe2 double) — per
    subspace the argmin-distance centroid id, plus the vector's total
    squared reconstruction error Σ_j min_c‖x_j − c‖² (a byproduct of
    the argmin the encode already computes). ``_qe2`` is what makes
    the search tier CERTIFIABLY exact: by the triangle inequality the
    true distance of x to any query lies within ±√_qe2 of the ADC
    distance, so ``pq_ann_verified_topk`` can bound its candidate set
    instead of gambling on a fixed overfetch. No join, no shuffle;
    encoding 100 TB is a pure scan.

    One Arrow-batched pandas_udf computes all m argmins per batch as a
    single ``einsum`` against the codebook tensor (B×m×k distance block
    via the ‖c‖²−2x·c expansion) — BLAS does the m·k·sub flops per row
    at memory bandwidth. Ties break to the lowest code (numpy argmin).
    A JVM expression form (m·k_codes literal ``aggregate(zip_with(...))``
    lambdas, 128 at the defaults) measured ~5× slower even at sf0.1:
    per-row interpreted evaluation plus plan-compile cost.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(codebooks, dtype=np.float64)  # m × k × sub
    m_, _, sub_ = C.shape
    c2 = (C**2).sum(axis=2)  # m × k

    # no type hints: `from __future__ import annotations` turns them
    # into strings, which pandas_udf's inference rejects — the bare
    # signature selects the scalar eval type directly
    @pandas_udf("struct<codes:array<int>,qe2:double>")
    def _codes(v):
        X = np.asarray(v.tolist(), dtype=np.float64)
        if X.size == 0:
            return pd.DataFrame({"codes": [], "qe2": []})
        Xs = X.reshape(X.shape[0], m_, sub_)
        dots = np.einsum("bms,mks->bmk", Xs, C)
        part = c2[None, :, :] - 2.0 * dots  # ‖c‖²−2x·c per (b,m,k)
        codes = part.argmin(axis=2)
        # add the omitted ‖x_j‖² back to get the true min distance per
        # subspace; clamp tiny FP negatives at 0
        x2 = (Xs**2).sum(axis=2)  # b × m
        qe2 = np.maximum(part.min(axis=2) + x2, 0.0).sum(axis=1)
        return pd.DataFrame({"codes": list(codes.astype(np.int32)), "qe2": qe2})

    # single-aliased struct then field projection: the UDF runs once
    # per row (two direct _codes(...) calls would be two ArrowEvalPython
    # columns)
    return df.select(
        F.col(id_col),
        _codes(F.col(vec_col).cast("array<double>")).alias("_pq"),
    ).select(
        F.col(id_col),
        F.col("_pq.codes").alias("codes"),
        F.col("_pq.qe2").alias("_qe2"),
    )


def pq_ann_verified_topk(
    df: DataFrame,
    query_id: int,
    k: int = 5,
    m: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_rows: int = 100_000,
    index=None,
) -> DataFrame:
    """PQ asymmetric-distance search with an exact re-rank — the third
    verified ANN tier next to LSH (``lsh_ann_batch_verified``) and IVF
    (``ivf_search``): encode the L2-NORMALIZED corpus to m-code words,
    prune by the query's per-subspace lookup table (ADC), then EXACT
    cosine re-rank on the RAW vectors picks the top k.

    The candidate set is CERTIFIED (optimization round 13; the
    ``ivf_search_exact_pruned`` discipline brought to PQ): with
    ``_qe2`` — the per-vector squared reconstruction error
    ``pq_encode`` emits as a byproduct of its argmin — the triangle
    inequality bounds every vector's true unit-space distance to the
    query within ``√adc ± √_qe2``. Keep every vector whose LOWER
    bound is ≤ the k-th smallest UPPER bound (padded for the
    4-decimal display rounding of the final cosine, which can shift
    tie-breaks by up to 1.5e-4 in cosine = 3e-4 in squared distance),
    and the true top-k provably survive at ANY corpus/scale — the
    former fixed ``k*overfetch`` cut missed a true neighbor at sf0.1
    (ADC rank 523 vs the 200-row cut). The exact-top-k oracle is now
    an identity, not a standing bet. On this synthetic near-uniform
    corpus (max cosine ~0.39, reconstruction error ~0.76 vs pair
    distances ~1.19 — the WORST case for quantization) the certified
    bound honestly keeps ~the whole corpus, pricing what exact search
    on unclusterable data costs; clustered production embeddings have
    small ``_qe2`` and prune hard. An ``index`` whose codes lack
    ``_qe2`` raises ``ValueError``: without it no bound can be certified.

    Scale: codes are m bytes/vector + one error double (the 100 TB
    corpus becomes a code table); ADC and the bounds are map-only
    expressions over the codes (the m·k_codes LUT rides the plan as
    literals); only certified candidates ever touch raw vectors
    again. On unit-norm vectors Euclidean-ADC order is cosine order
    (||a-b||² = 2(1-cos))."""
    import numpy as np

    from .dedup import _shared

    unit = _unit_normalized(df, vec_col)
    if index is not None:
        # (codebooks, codes) from pq_train/pq_encode — build once,
        # search many (persist the codes caller-side for full reuse);
        # mirrors ivf_search's index parameter
        books, codes = index
        if "_qe2" not in codes.columns:
            raise ValueError(
                "pq_ann_verified_topk: index codes lack the '_qe2' "
                "reconstruction-error column that pq_encode emits; "
                "re-encode the corpus with pq_encode"
            )
    else:
        books = pq_train(
            unit, m=m, k_codes=k_codes, vec_col="_unit",
            fit_sample_rows=fit_sample_rows,
        )
        codes = pq_encode(unit, books, id_col=id_col, vec_col="_unit")

    qrow = unit.filter(F.col(id_col) == query_id).select("_unit").head()
    if qrow is None:
        return df.select(
            F.col(id_col), F.lit(0.0).alias("cosine")
        ).limit(0)
    q = np.asarray(qrow[0], dtype=np.float64)
    sub = len(books[0][0])
    # per-subspace lookup table: distance from the query's subvector
    # to every centroid — m arrays of k_codes literals in the plan
    adc = None
    for j, book in enumerate(books):
        qs = q[j * sub : (j + 1) * sub]
        lut = F.array(
            *[
                F.lit(float(np.sum((qs - np.asarray(c)) ** 2)))
                for c in book
            ]
        )
        term = F.element_at(lut, F.col("codes").getItem(j) + 1)
        adc = term if adc is None else adc + term
    # certified candidates: τ = k-th smallest upper bound √adc + √_qe2;
    # keep L = max(√adc − √_qe2, 0) ≤ √(τ² + pad). Every vector the
    # rounded final ordering can place in the top-k has exact distance
    # ≤ √(τ² + 3e-4) (see docstring), so this set provably contains the
    # answer. The slim (id, _da, _e) frame feeds both the τ readout and
    # the filter — materialized once (`_shared`) so the ADC scan runs
    # once.
    bnd = _shared(
        codes.filter(F.col(id_col) != query_id).select(
            F.col(id_col),
            F.sqrt(adc).alias("_da"),
            F.sqrt(F.greatest(F.col("_qe2"), F.lit(0.0))).alias("_e"),
        )
    )
    tau = (
        bnd.select((F.col("_da") + F.col("_e")).alias("_u"))
        .orderBy("_u")
        .limit(k)
        .agg(F.max("_u").alias("_tau"))
    )
    cand = (
        bnd.crossJoin(F.broadcast(tau))
        .filter(
            F.greatest(F.col("_da") - F.col("_e"), F.lit(0.0))
            <= F.sqrt(F.col("_tau") * F.col("_tau") + F.lit(4.0e-4))
        )
        .select(id_col)
    )
    # query norm let-bound on the 1-row broadcast side (was re-folded
    # per candidate row) — same IEEE ops, values unchanged
    qv = df.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qv"), l2_norm(vec_col).alias("_qn")
    )
    return (
        df.join(F.broadcast(cand), id_col, "left_semi")
        .crossJoin(F.broadcast(qv))
        .select(
            F.col(id_col),
            F.round(
                dot_product(vec_col, "_qv")
                / (l2_norm(vec_col) * F.col("_qn")),
                4,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column with
    per-vector reconstruction-error audit — the storage/serving
    compression step (8 bytes/dim → 1) an embedding corpus goes
    through before ANN serving.

    Per vector: ``scale = max(|v|)/127``, ``q_i = round(v_i/scale)``
    (so every ``q_i`` ∈ [-127, 127] by construction — no clipping
    branch needed), plus audit columns: the L1 mass of the quantized
    code (integer-exact across engines) and the max absolute
    reconstruction error (order-independent max over exact double ops,
    so engine-exact after rounding, unlike a sum-of-squares MSE whose
    accumulation order differs per engine).

    Map-only JVM higher-order functions (``transform``/``zip_with``/
    ``array_max``) — no shuffle, no UDF; quantizing 100 TB of vectors
    is a pure scan.
    """
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = df.select(
        F.col(id_col),
        vd.alias("_v"),
        (F.array_max(F.transform(vd, lambda x: F.abs(x))) / F.lit(127.0)).alias(
            "_scale"
        ),
    )
    q = F.transform(
        F.col("_v"),
        lambda x: F.when(F.col("_scale") == 0.0, F.lit(0.0)).otherwise(
            F.round(x / F.col("_scale"), 0)
        ),
    )
    out = out.select(F.col(id_col), F.col("_v"), F.col("_scale"), q.alias("_q"))
    err = F.zip_with(
        F.col("_v"), F.col("_q"), lambda v, qq: F.abs(v - qq * F.col("_scale"))
    )
    q_l1 = F.aggregate(
        F.col("_q"),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + F.abs(x).cast("bigint"),
    )
    return out.select(
        F.col(id_col),
        F.round(F.col("_scale"), 6).alias("scale"),
        q_l1.alias("q_l1"),
        F.round(F.array_max(err), 6).alias("max_abs_err"),
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tile_mem_bytes: int = 32 << 20,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (doc_a, doc_b, cosine)
    with cosine ≥ threshold and doc_a < doc_b — the embedding-space
    member of the dedup tier (exact text / n-gram Jaccard / MinHash /
    SimHash are the lexical members). Exact all-pairs semantics,
    executed as a broadcast matrix product.

    The (id, vector) corpus is collected through ``safe_to_pandas`` and
    broadcast once; each ``mapInPandas`` batch of corpus rows computes
    ``chunk @ corpusᵀ`` (dgemm — BLAS does n·d flops at memory
    bandwidth instead of one Catalyst lambda-chain per pair, ~50×
    fewer per-flop overheads than a self-join expression form) and
    emits the above-threshold upper-triangle pairs. Map-only: no
    shuffle at all; the only data movement is the one broadcast.

    Memory bounds, explicitly: the DENSE cosine block for a batch of B
    rows against the full corpus is 8·B·n bytes — at B≈10K Arrow rows
    and n=10M that is ~800 GB, a scale-killer no broadcast guard
    catches. The product is therefore TILED over corpus column blocks:
    each tile's intermediate is capped at ``tile_mem_bytes`` (default
    32 MB — small enough that the threshold/triangle scan passes over
    the tile run from LLC rather than re-streaming DRAM, and that a
    cold python worker never stalls zeroing hundreds of fresh MB; the
    same sizing lesson ml/knn.py's distance block learned, where 256 MB
    blocks cost 22x on the first call) and hits are emitted per tile,
    so peak executor memory is broadcast + one tile regardless of
    corpus size. The remaining ceiling is the broadcast itself: 2M
    rows (2M × 64 dims × 8 B = 1 GB); above it the collect guard
    raises instead of running.

    LSH candidates do not replace this path on embeddings: at the
    registered threshold the candidate radius approaches the typical
    random-pair distance, and BRP buckets on isotropic 64-dim data
    collide for most far pairs at any recall-preserving bucket width
    (measured per-row fanout 227-1000 across bucket_length 0.05-2.0).
    """
    import numpy as np
    import pandas as pd

    # Arrow-batched driver transfer (guide §6) — ~5x faster than the
    # pickled-row collect of the same frame, values bit-identical
    # (float32→float64 widening is exact on both paths)
    pdf0 = safe_to_pandas(
        df.select(F.col(id_col), F.col(vec_col)), max_rows=2_000_000
    )
    ids = np.array(pdf0[id_col].to_numpy(), dtype=np.int64)
    mat = np.array(pdf0[vec_col].tolist(), dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0

    # the corpus matrix rides the mapInPandas CLOSURE, not an explicit
    # sc.broadcast: PySpark auto-broadcasts large serialized commands
    # and — unlike a handle this lazy-returning function could never
    # safely destroy() — the ContextCleaner releases that broadcast as
    # soon as the returned frame is garbage collected
    def score(batches):
        for pdf in batches:
            chunk_ids = pdf[id_col].to_numpy(dtype=np.int64)
            chunk = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cnorm = np.linalg.norm(chunk, axis=1)
            cnorm[cnorm == 0.0] = 1.0
            # tile over corpus columns so the dense intermediate never
            # exceeds tile_mem_bytes (8 bytes per cell); column tiling
            # leaves every dot product (and the division order) bitwise
            # identical to the untiled form
            tile = max(1, tile_mem_bytes // (8 * max(len(chunk), 1)))
            for j0 in range(0, len(ids), tile):
                j1 = min(j0 + tile, len(ids))
                cos = (chunk @ mat[j0:j1].T) / cnorm[:, None] / norms[None, j0:j1]
                # upper triangle (doc_a < doc_b) and threshold
                hit_r, hit_c = np.nonzero(
                    (cos >= threshold)
                    & (chunk_ids[:, None] < ids[None, j0:j1])
                )
                yield pd.DataFrame(
                    {
                        "doc_a": chunk_ids[hit_r],
                        "doc_b": ids[j0 + hit_c],
                        "cosine": cos[hit_r, hit_c],
                    }
                )

    out_schema = "doc_a long, doc_b long, cosine double"
    # rounding happens in a Spark projection (F.round, HALF_UP, the
    # oracle's rounding) — np.round's half-to-even would diverge at
    # .xxxx5 boundaries
    return (
        df.select(F.col(id_col), F.col(vec_col))
        .mapInPandas(score, out_schema)
        .select("doc_a", "doc_b", F.round("cosine", 4).alias("cosine"))
    )


def embedding_near_dup_resolve(
    df: DataFrame,
    threshold: float = 0.42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Keep/drop decision over embedding near-dup pairs: connected
    components → one deterministic survivor (min id) per cluster.
    Returns (id, canonical_id, keep) like the lexical
    ``near_dup_resolve``."""
    from .dedup import resolve_components

    pairs = embedding_near_dup_pairs(df, threshold, id_col, vec_col)
    return resolve_components(
        df.select(id_col), pairs, id_col=id_col, src_col="doc_a", dst_col="doc_b"
    )


def knn_label_vote(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN classification over embeddings: top-k cosine neighbors vote on
    the label (majority; ties → smaller label — deterministic).

    The embedding-space analog of the reference's tabular kNN
    (knn_classification.py:124-164), expressed as relational ops.
    """
    neigh = cosine_topk_batch(df, queries, k, id_col, vec_col)
    labels = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("neighbor_label")
    )
    votes = (
        neigh.join(labels, "neighbor_id")
        .groupBy("query_id", "neighbor_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("neighbor_label")
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_label").alias("predicted_label"), "n_votes")
    )


def semantic_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.42,
    n_cells: int = 8,
    m_assign: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space with a sampled-fit
    coarse quantizer, then compare pairs ONLY within a cluster —
    exact cosine on candidates, never an all-pairs join.

    Relationship to the other embedding-dedup tiers: `exact`/`blas`
    score all O(n²) pairs (correctness reference), `lsh` buckets by
    random projections (data-independent), and this one buckets by
    LEARNED cluster structure — the published-at-scale recipe (SemDeDup
    ran on LAION/CommonCrawl embeddings with k-means shards exactly
    like this; the sample-collect local k-means fit in
    ``ivf_fit_assign`` IS that recipe, and is layout-independent).
    With ``m_assign`` > 1 each vector joins its m nearest cells, so
    pairs straddling cell boundaries are still compared; measured on
    the sf0.01 corpus under the local fit: recall vs the exact tier
    0.47 / 0.74 / 0.97 at m = 1 / 2 / 3 (near-uniform embeddings —
    the hard regime), pinned in tests/test_dedup_ann.py. Default
    m=3: pair work scales with m²/k, so the recall buy costs ~2×
    over m=2 — the right default when dedup misses cost training
    tokens.

    Plan shape: sampled KMeans fit (bounded), map-only cell
    assignment (centroids ride the plan as literals), then ONE
    Arrow-batched BLAS kernel per cell (applyInPandas: unit-normalize,
    C @ Cᵀ, upper-triangle threshold) — the published SemDeDup kernel.
    Per-cell work is |cell|², so total flops scale with Σ|cell|² ≈
    n²/k, and the matrix form pays ~10ns/pair where the per-pair
    HOF-expression form pays ~15µs (measured 22.8s → 3s at sf0.1).
    Stragglers are bounded by the largest cell; a pathological
    mega-cell would need the embedding_near_dup_pairs tiling.

    Output: (doc_a, doc_b, cosine) with doc_a < doc_b, distinct
    (a pair found in two shared cells emits once).
    """
    import numpy as np
    import pandas as pd

    assigned, _ = ivf_fit_assign(
        df,
        n_cells=n_cells,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        m_assign=m_assign,
    )
    side = assigned.join(df.select(id_col, vec_col), id_col).select(
        "cell", F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )

    thr = float(threshold)

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        # one BLAS product per cell — the published SemDeDup kernel.
        # |cell| is bounded (~n/k by construction); a pathological
        # mega-cell would need tiling like embedding_near_dup_pairs, but
        # the quantizer's whole job is to prevent that.
        ids = pdf["_id"].to_numpy()
        mat = np.array(pdf["_v"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        unit = mat / norms[:, None]
        sims = unit @ unit.T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sims[iu, ju] >= thr
        ia, jb = ids[iu[keep]], ids[ju[keep]]
        lo = np.minimum(ia, jb)
        hi = np.maximum(ia, jb)
        return pd.DataFrame(
            {
                "doc_a": lo,
                "doc_b": hi,
                "cosine": np.round(sims[iu, ju][keep], 4),
            }
        )

    pairs = side.groupBy("cell").applyInPandas(
        _cell_pairs, schema="doc_a long, doc_b long, cosine double"
    )
    return pairs.distinct()


def label_centroid_distances(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    outlier_cos: float = 0.0,
) -> DataFrame:
    """Per-label centroid cosine — the SemDeDup/D4-style prototype
    readout: how close each vector sits to its class prototype, with a
    fixed-threshold outlier flag (candidates for pruning or relabel
    audit in a curation pass; the default 0.0 cut flags vectors
    anti-correlated with their prototype — ~10% of this corpus).

    Emits EVERY row ((label, vec_id, cos_centroid, is_outlier)) rather
    than a top-k cut: the flag compares the ROUNDED cosine against the
    threshold, so engine agreement reduces to rounded-value agreement
    — no selection boundary that a last-ulp centroid difference could
    flip (the discipline embedding_dim_profile uses for its means).

    Plan shape at 100 TB: posexplode → (label, dim) partial-agg mean
    (shuffle is |labels|·|dims| rows after map-side combine), centroid
    table rebuilt as an ordered array and BROADCAST back — the corpus
    is scanned twice but shuffled never; the scoring pass is a
    map-only broadcast join + codegen'd dot product.
    """
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    exploded = df.select(
        F.col(label_col), F.posexplode(dvec).alias("dim", "x")
    )
    dim_means = exploded.groupBy(label_col, "dim").agg(
        F.avg("x").alias("m")
    )
    centroids = dim_means.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda s: s["m"],
        ).alias("_cv")
    ).withColumn("_cn", l2_norm("_cv"))
    # let-bind the cast vector and the ROUNDED cosine as multi-
    # referenced aliases: the centroid norm folds once per LABEL (on
    # the broadcast side, was once per row), the vector cast runs once
    # per row (was inlined into each HOF), and the whole cosine
    # evaluates once per row (the `cos`/`is_outlier` pair previously
    # duplicated the full 3-fold expression). Same IEEE ops.
    scored = (
        df.join(F.broadcast(centroids), label_col)
        .withColumn("_dv", dvec)
        .withColumn(
            "_cos",
            F.round(
                dot_product("_dv", "_cv") / (l2_norm("_dv") * F.col("_cn")),
                4,
            ),
        )
    )
    return scored.select(
        F.col(label_col),
        F.col(id_col),
        F.col("_cos").alias("cos_centroid"),
        (F.col("_cos") < F.lit(outlier_cos)).alias("is_outlier"),
    )


def _prefix_scored(
    df: DataFrame,
    n_queries: int,
    prefix_dims: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared scored frame for the prefix-retrieval evals
    (``truncated_topk_overlap`` / ``prefix_ndcg`` /
    ``rrf_fuse_rankings``): per (query, neighbor) pair the ROUNDED
    full-dim and prefix cosines.

    The cast vector, both norms and the prefix slice are LET-BOUND
    once per VECTOR in a Project below the broadcast cross join — the
    previous inline form re-folded both norms and re-sliced per PAIR,
    so 4 of the 6 O(d) folds per scored pair were redundant. The
    division/multiply order is unchanged, so values are bit-identical.
    """
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    e = (
        df.select(F.col(id_col), dvec.alias("_v"))
        .select(
            F.col(id_col),
            "_v",
            l2_norm("_v").alias("_nf"),
            F.slice("_v", 1, prefix_dims).alias("_vp"),
        )
        .withColumn("_np", l2_norm("_vp"))
    )
    q = e.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_nf").alias("_qnf"),
        F.col("_vp").alias("_qvp"),
        F.col("_np").alias("_qnp"),
    )
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                dot_product("_v", "_qv") / (F.col("_nf") * F.col("_qnf")),
                4,
            ).alias("cos_full"),
            F.round(
                dot_product("_vp", "_qvp") / (F.col("_np") * F.col("_qnp")),
                4,
            ).alias("cos_prefix"),
        )
    )


def truncated_topk_overlap(
    df: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    prefix_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style retrieval fidelity: for each query vector, the
    overlap between the top-``k`` neighbor set under FULL-dimension
    cosine and under the first-``prefix_dims`` PREFIX cosine — the
    recall@k readout that tells whether truncated embeddings (the 4×
    cheaper index) are good enough to serve retrieval.

    Per query: (query_id, n_overlap, recall). Both rankings order by
    (rounded cosine DESC, neighbor id) — per-row dot products of raw
    floats are engine-exact, and the tie-break makes each top-k SET
    deterministic, so the intersection size is oracle-checkable.

    Plan shape: queries (id < n_queries) broadcast; ONE corpus scan
    computes both scores (the prefix dot is a slice of the same
    array); two ranking windows partitioned by query — shuffle keyed
    on query_id only, corpus never shuffles its payload. The
    intersection is a conjunctive FILTER on the ranked frame (each
    (query, neighbor) row is unique, so "in both top-k sets" is
    exactly ``rf <= k AND rp <= k``) — the former
    top_full ⋈ top_prefix self-join re-derived the whole scored+window
    subtree per side and paid a join shuffle for a row-local
    predicate.
    """
    scored = _prefix_scored(df, n_queries, prefix_dims, id_col, vec_col)
    wf = W.partitionBy("query_id").orderBy(
        F.col("cos_full").desc(), F.col("neighbor_id")
    )
    wp = W.partitionBy("query_id").orderBy(
        F.col("cos_prefix").desc(), F.col("neighbor_id")
    )
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wp).alias("rp"),
    )
    inter = (
        ranked.filter((F.col("rf") <= k) & (F.col("rp") <= k))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    qids = df.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id")
    )
    return (
        qids
        .join(inter, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).cast("int").alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0)) / F.lit(float(k)), 2
            ).alias("recall_at_k"),
        )
    )


def prefix_ndcg(
    df: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    prefix_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """NDCG@k of the truncated-prefix ranking against the full-dim
    ranking — the position-aware companion to ``truncated_topk_overlap``
    (recall counts hits; NDCG also penalizes the prefix index for
    burying them low). Relevance is binary membership in the full-dim
    top-k; DCG discounts by 1/log2(prefix_rank+1); IDCG is the perfect
    prefix ordering's value, a constant Σ_{p=1..k} 1/log2(p+1).

    Both rankings cut on (rounded cosine, id) — engine-exact sets; the
    log2 discount terms differ across libms only in the last ulp, which
    the round-4 output absorbs. Same single-scan plan shape as
    ``truncated_topk_overlap``.
    """
    import math

    scored = _prefix_scored(df, n_queries, prefix_dims, id_col, vec_col)
    wf = W.partitionBy("query_id").orderBy(
        F.col("cos_full").desc(), F.col("neighbor_id")
    )
    wp = W.partitionBy("query_id").orderBy(
        F.col("cos_prefix").desc(), F.col("neighbor_id")
    )
    ranked = scored.select(
        "query_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wp).alias("rp"),
    )
    idcg = sum(1.0 / math.log2(p + 1) for p in range(1, k + 1))
    dcg = F.sum(
        F.when(
            (F.col("rp") <= k) & (F.col("rf") <= k),
            F.lit(1.0) / F.log2(F.col("rp") + 1),
        ).otherwise(F.lit(0.0))
    )
    return (
        ranked.groupBy("query_id")
        .agg(F.round(dcg / F.lit(idcg), 4).alias("ndcg_at_k"))
    )


def rrf_fuse_rankings(
    df: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    prefix_dims: int = 16,
    rrf_k: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reciprocal-rank fusion of the full-dim and truncated-prefix
    cosine rankings (Cormack et al. 2009): score(d) = Σ_r 1/(rrf_k +
    rank_r(d)) — the standard way to combine heterogeneous retrievers
    (here: the expensive exact ranking and the cheap prefix index)
    without score calibration. Returns the fused top-``k`` per query.

    Engine-exact: each RRF term is one IEEE division of exact integers
    and the sum has two terms — bit-identical across engines — so
    ordering by (score DESC, id) gives deterministic sets with no
    rounding cut needed; the emitted score rounds to 6.

    Same one-scan/broadcast-query plan shape as the other prefix evals.
    """
    scored = _prefix_scored(df, n_queries, prefix_dims, id_col, vec_col)
    wf = W.partitionBy("query_id").orderBy(
        F.col("cos_full").desc(), F.col("neighbor_id")
    )
    wp = W.partitionBy("query_id").orderBy(
        F.col("cos_prefix").desc(), F.col("neighbor_id")
    )
    fused = scored.select(
        "query_id",
        "neighbor_id",
        (
            F.lit(1.0) / (F.lit(rrf_k) + F.row_number().over(wf))
            + F.lit(1.0) / (F.lit(rrf_k) + F.row_number().over(wp))
        ).alias("_s"),
    )
    wr = W.partitionBy("query_id").orderBy(
        F.col("_s").desc(), F.col("neighbor_id")
    )
    return (
        fused.withColumn("_r", F.row_number().over(wr))
        .filter(F.col("_r") <= k)
        .select(
            "query_id",
            F.col("_r").alias("fused_rank"),
            "neighbor_id",
            F.round("_s", 6).alias("rrf_score"),
        )
    )


def ivf_assignment_drift(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> DataFrame:
    """IVF index assignment drift between two corpus snapshots — the
    index-maintenance signal a 100 TB ANN deployment re-clusters on:
    when new data stops landing where the trained centroids expect,
    recall decays and cells skew. Snapshot A/B here are the even/odd
    ``id_col`` halves (a deterministic stand-in for before/after
    ingest batches); centroids are the first ``k`` vectors by id (a
    fixed, engine-reproducible codebook — the drift READOUT is the
    same whatever codebook a production fit supplies).

    Each row is assigned to its nearest centroid by the same exact
    (a−b)² fold both engines run, ties broken by smallest cell id;
    per-cell occupancy histograms of the two snapshots are
    Laplace-smoothed ((n+1)/(N+k) — no empty-cell log poles) and
    compared by PSI terms (pa−pb)·ln(pa/pb), the population-stability
    drift score. Σ psi_term ≳ 0.2 is the classic "re-fit the index"
    alarm.

    Scale shape: centroids ride the plan as ≤k literal arrays (one
    driver-side bounded collect); assignment is one map-only pass —
    a k-struct array_min per row, NO join, NO shuffle of payloads;
    the cell histogram is one k-row aggregate; the share/PSI windows
    run over that ≤k-row frame (audit-whitelisted). Output: one row
    per occupied cell (cell, n_a, n_b, share_a, share_b, psi_term).
    """
    crows = (
        df.filter(F.col(id_col) < k)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    if not crows:
        raise ValueError("ivf_assignment_drift: no centroid rows found")
    # r12 (guide §4): Arrow-vectorized nearest-centroid assignment —
    # bit-identical to the k-struct array_min expression form it
    # replaces (see _nearest_centroid_udf), 6.4 s → sub-second at
    # sf0.1 where the interpreted k·d-term HOF tree dominated.
    assign = _nearest_centroid_udf(
        [r[id_col] for r in crows], [r[vec_col] for r in crows]
    )
    assigned = df.select(
        assign(F.col(vec_col)).alias("cell"),
        (F.col(id_col) % 2 == 0).alias("_is_a"),
    )
    cells = assigned.groupBy("cell").agg(
        F.sum(F.when(F.col("_is_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("_is_a"), 1).otherwise(0)).alias("n_b"),
    )
    wall = W.partitionBy()
    kk = F.lit(int(k))
    pa = (F.col("n_a") + 1) / (F.sum("n_a").over(wall) + kk)
    pb = (F.col("n_b") + 1) / (F.sum("n_b").over(wall) + kk)
    return cells.select(
        F.col("cell").cast("int").alias("cell"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(pa, 6).alias("share_a"),
        F.round(pb, 6).alias("share_b"),
        F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
    )


def k_center_greedy(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    start_id: int = 0,
) -> DataFrame:
    """Gonzalez k-center greedy selection — the classic 2-approximate
    diverse-coreset picker (Gonzalez 1985; the "farthest-point
    sampling" used for diverse training-subset selection and seeding):
    start from ``start_id``, then repeatedly take the point FARTHEST
    from its nearest already-chosen center. Returns the k selections
    with their selection order and the distance that won them (the
    non-increasing radius sequence — reading it tells you when extra
    centers stop buying coverage).

    Deterministic end to end: distances are the same elementwise
    (a−b)² fold both engines run, and each argmax breaks ties by
    smallest id — so a fixed start point gives a FIXED selection,
    which is what makes the whole greedy trajectory value-oracle-able
    (k chained CTE rounds in SQL).

    Scale shape: k−1 rounds, each ONE map-only pass over the corpus
    (chosen centers ride the plan as literals — n_centers ≤ k tiny)
    into a TakeOrderedAndProject(1); nothing shuffles, the driver
    holds k vectors. The k-job sequential structure is inherent to
    the greedy (each pick depends on the last) — at 100 TB each pass
    is an embarrassingly-parallel scan.
    """
    import numpy as np

    qrow = (
        df.filter(F.col(id_col) == start_id).select(vec_col).head()
    )
    if qrow is None:
        raise ValueError(f"k_center_greedy: start id {start_id} not found")
    centers = [np.asarray(qrow[0], dtype=np.float64)]
    chosen = [(0, int(start_id), 0.0)]
    chosen_ids = {int(start_id)}
    for i in range(1, k):
        dists = [
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col).cast("array<double>"),
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
            for c in centers
        ]
        dmin = dists[0] if len(dists) == 1 else F.least(*dists)
        # the round happens IN SPARK (F.round, HALF_UP — matching the
        # oracle's round) while the argmax orders by the UNROUNDED
        # distance; Python's round() is half-even and would break the
        # rounding discipline on exact binary ties
        pick = (
            df.filter(~F.col(id_col).isin(*chosen_ids))
            .select(
                F.col(id_col),
                F.col(vec_col),
                dmin.alias("_dm"),
                F.round(dmin, 4).alias("_dm_r"),
            )
            .orderBy(F.desc("_dm"), F.col(id_col))
            .limit(1)
            .head()
        )
        if pick is None:
            # corpus exhausted before k selections: return what exists
            break
        centers.append(np.asarray(pick[vec_col], dtype=np.float64))
        chosen.append((i, int(pick[id_col]), float(pick["_dm_r"])))
        chosen_ids.add(int(pick[id_col]))
    # schema follows id_col — a caller passing id_col="doc_id" gets a
    # doc_id output column, not a mislabeled vec_id. Ids are coerced to
    # Python int above, so long is the one supported id type (documented).
    return df.sparkSession.createDataFrame(
        chosen, f"sel_order int, {id_col} long, d_min double"
    )


def mmr_rerank_topk(
    df: DataFrame,
    query_id: int = 0,
    k: int = 5,
    pool: int = 12,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity-aware top-k every RAG retrieval stack runs
    after ANN: greedily pick the item maximizing
    ``lam*rel(d) − (1−lam)*max_{s∈S} sim(d, s)`` where rel is cosine
    similarity to the query and S the already-selected set; ties break
    by smallest id. Returns (sel_order, id, mmr_score) with the raw
    (unrounded, engine-exact) objective value at pick time.

    Scale shape: the DISTRIBUTED stage is the pool retrieval — a
    map-side partial top-``pool`` by relevance (TakeOrderedAndProject,
    no global sort); the greedy then runs driver-local over the
    collected ≤``pool`` rows (bounded by construction — MMR is a
    post-retrieval re-ranker, its input is never corpus-sized).
    Every dot/norm is the same sequential left fold both engines run
    (k_center discipline), so the whole greedy trajectory is
    value-oracle-able via chained SQL CTEs.
    """
    from ..functions import dot_product, l2_norm

    qrow = df.filter(F.col(id_col) == query_id).select(vec_col).head()
    if qrow is None:
        raise ValueError(f"mmr_rerank_topk: query id {query_id} not found")
    qv = [float(x) for x in qrow[0]]
    qn = _seq_norm(qv)
    if qn == 0.0:
        raise ValueError("mmr_rerank_topk: query vector has zero norm")
    v = F.col(vec_col).cast("array<double>")
    qlit = F.array(*[F.lit(x) for x in qv])
    # zero-norm vectors (padding / failed encodes) would make rel
    # NaN — and NaN sorts ABOVE all real values under desc, so they
    # would hijack the pool and then divide-by-zero in the greedy;
    # drop them before ranking (the oracle pool applies the same
    # norm > 0 predicate). The norm is let-bound as a multi-referenced
    # alias (was re-folded for the guard filter AND inside rel) — same
    # IEEE ops, one O(d) fold saved per row.
    cands = (
        df.filter(F.col(id_col) != query_id)
        .select(F.col(id_col), v.alias("_v"))
        .withColumn("_n", l2_norm("_v"))
        .filter(F.col("_n") > F.lit(0.0))
        .select(
            F.col(id_col),
            "_v",
            (
                dot_product("_v", qlit) / (F.col("_n") * F.lit(qn))
            ).alias("_rel"),
        )
        .orderBy(F.desc("_rel"), F.col(id_col))
        .limit(int(pool))
        .collect()
    )

    def _dot(a: list, b: list) -> float:
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    pool_rows = [
        (int(r[id_col]), [float(x) for x in r["_v"]], float(r["_rel"]))
        for r in cands
    ]
    norms = {i: _seq_norm(vec) for i, vec, _ in pool_rows}
    chosen: list = []
    chosen_ids: set = set()
    rows: list = []
    for order in range(min(int(k), len(pool_rows))):
        best = None
        for i, vec, r in pool_rows:
            if i in chosen_ids:
                continue
            if chosen:
                msim = max(
                    _dot(vec, svec) / (norms[i] * norms[si])
                    for si, svec in chosen
                )
                score = lam * r - (1.0 - lam) * msim
            else:
                score = lam * r
            if best is None or score > best[0] or (
                score == best[0] and i < best[1]
            ):
                best = (score, i, vec)
        chosen_ids.add(best[1])
        chosen.append((best[1], best[2]))
        rows.append((order, best[1], best[0]))
    return df.sparkSession.createDataFrame(
        rows, f"sel_order int, {id_col} long, mmr_score double"
    )


def _seq_norm(vec: list) -> float:
    """Euclidean norm via the sequential left fold (matches the
    engines' list_sum / F.aggregate order exactly)."""
    import math

    s = 0.0
    for x in vec:
        s += x * x
    return math.sqrt(s)


def ivf_recall_curve(
    df: DataFrame,
    n_cells: int = 8,
    n_queries: int = 3,
    k: int = 10,
    nprobes: tuple = (1, 2, 4, 8),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF recall-vs-nprobe curve — the accuracy/cost trade-off readout
    every ANN deployment tunes: for each query and each probe budget,
    the recall@k of IVF search (scan only the ``nprobe`` cells whose
    centroids sit nearest the query) against the exact top-k. Read
    with ``ivf_probe_containment_check`` (the per-query certificate)
    and ``ivf_assignment_drift`` (the when-to-refit alarm); the
    codebook here is the same fixed first-``n_cells`` convention, so
    every distance is the engines' shared exact (a−b)² fold and the
    whole curve is value-oracle-able.

    Queries are ids ``n_cells .. n_cells+n_queries-1`` (disjoint from
    the codebook). Ties break by id everywhere, so the top-k SETS are
    deterministic and the overlap count exact.

    Scale shape: one map-only assignment pass (centroids as literals,
    k-struct array_min); queries broadcast (≤n_queries fanout of slim
    (id, cell, d2) rows — payload vectors never shuffle); the top-k
    rank filters compile to WindowGroupLimit (plan-pinned), so each
    map partition pre-prunes to k rows per (query[, nprobe]) group
    BEFORE the exchange — the per-query reduce task sees ≤ k·n_map
    rows, never the corpus; the nprobe grid is a |nprobes|-row
    literal explode. Output: (query_id, nprobe, n_retrieved,
    n_overlap, recall).
    """
    crows = (
        df.filter(F.col(id_col) < n_cells)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    if not crows:
        raise ValueError("ivf_recall_curve: no codebook rows found")
    from ..functions import sq_dist

    v = F.col(vec_col).cast("array<double>")
    # r12 (guide §4): same Arrow-vectorized assignment as
    # ivf_assignment_drift — bit-identical to the k-struct array_min
    # expression form (see _nearest_centroid_udf).
    assign = _nearest_centroid_udf(
        [r[id_col] for r in crows], [r[vec_col] for r in crows]
    )
    assigned = df.select(
        F.col(id_col),
        v.alias("_v"),
        assign(F.col(vec_col)).alias("_cell"),
    )
    q = assigned.filter(
        (F.col(id_col) >= n_cells) & (F.col(id_col) < n_cells + n_queries)
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("_v").alias("_qv"),
    )
    # probe order of each cell for each query: centroid-to-query
    # distances over the (n_queries x n_cells) literal-sized frame
    probe_cands = [
        F.struct(
            sq_dist(
                F.col("_qv"),
                F.array(*[F.lit(float(x)) for x in r[vec_col]]),
            ).alias("d"),
            F.lit(int(r[id_col])).alias("c"),
        )
        for r in crows
    ]
    probes = q.select(
        "query_id",
        F.posexplode(
            F.transform(
                F.array_sort(F.array(*probe_cands)),
                lambda s: s.getField("c"),
            )
        ).alias("_probe_pos", "cell"),
    ).select(
        "query_id", "cell", (F.col("_probe_pos") + 1).alias("probe_rank")
    )
    from .dedup import _shared

    # r12: `scored` feeds exact, cand->retrieved, cand->approx and
    # overlap — without sharing, each consumer branch re-derives the
    # corpus scan + per-row n_cells-centroid assignment (16 parquet
    # scans in the baseline plan). One lazy localCheckpoint of the
    # slim (query_id, neighbor_id, cell, _d2) frame — the payload
    # vectors never materialize — computes it once.
    pair_d2 = _sq_dist_pair_udf()
    scored = _shared(
        assigned.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.col("_cell").alias("cell"),
            pair_d2(F.col("_v"), F.col("_qv")).alias("_d2"),
        )
    )
    wq = W.partitionBy("query_id").orderBy(
        F.col("_d2"), F.col("neighbor_id")
    )
    exact = (
        scored.select(
            "query_id", "neighbor_id", F.row_number().over(wq).alias("_r")
        )
        .filter(F.col("_r") <= k)
        .select("query_id", "neighbor_id")
    )
    grid = F.explode(
        F.array(*[F.lit(int(p)) for p in nprobes])
    ).alias("nprobe")
    # shared as well: retrieved and approx both consume cand; the
    # explode-by-nprobe fanout is |nprobes|x the scored rows, still
    # slim ints+double.
    cand = _shared(
        scored.join(probes, ["query_id", "cell"])
        .select("query_id", "neighbor_id", "_d2", "probe_rank", grid)
        .filter(F.col("probe_rank") <= F.col("nprobe"))
    )
    wqp = W.partitionBy("query_id", "nprobe").orderBy(
        F.col("_d2"), F.col("neighbor_id")
    )
    retrieved = cand.groupBy("query_id", "nprobe").agg(
        F.count(F.lit(1)).cast("long").alias("n_retrieved")
    )
    approx = cand.select(
        "query_id",
        "nprobe",
        "neighbor_id",
        F.row_number().over(wqp).alias("_r"),
    ).filter(F.col("_r") <= k)
    overlap = approx.join(exact, ["query_id", "neighbor_id"]).groupBy(
        "query_id", "nprobe"
    ).agg(F.count(F.lit(1)).alias("_n_overlap"))
    # left join so a zero-overlap probe budget still reports its row
    return (
        retrieved.join(overlap, ["query_id", "nprobe"], "left")
        .select(
            "query_id",
            F.col("nprobe").cast("int").alias("nprobe"),
            "n_retrieved",
            F.coalesce("_n_overlap", F.lit(0)).cast("long").alias(
                "n_overlap"
            ),
            F.round(
                F.coalesce("_n_overlap", F.lit(0)) / F.lit(float(k)), 2
            ).alias("recall"),
        )
        .orderBy("query_id", "nprobe")
    )


def _label_dim_moments(
    df: DataFrame, vec_col: str, label_col: str
) -> DataFrame:
    """Per-(label, dim) count/Σx/Σx² moment frame under the
    ``pca_2d_exact`` DECIMAL discipline — float32 components are exact
    in double and in DECIMAL(13,10), so ``_s1``/``_s2`` are EXACT
    decimal aggregates (one correctly-rounded double conversion each
    downstream). Shared base of ``calinski_harabasz`` and
    ``davies_bouldin``: the precision/scale choices here are
    load-bearing for oracle parity in BOTH indices."""
    d = df.select(
        F.col(label_col).alias("_l"),
        F.posexplode(F.col(vec_col)).alias("dim", "_xf"),
    ).select("_l", "dim", F.col("_xf").cast("double").alias("_xd"))
    x = F.col("_xd").cast("decimal(13,10)")
    return d.groupBy("_l", "dim").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x).alias("_s1"),
        F.sum((x * x).cast("decimal(26,20)")).alias("_s2"),
    )


def calinski_harabasz(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Calinski–Harabasz index (variance-ratio criterion) of a labeled
    embedding set: CH = [B/(k−1)] / [W/(n−k)], B the between-cluster
    and W the within-cluster sum of squares. The O(n·d) clustering /
    class-separability readout that — unlike silhouette's O(n²)
    pairwise distances — reduces entirely to per-(label, dim) moment
    aggregates, making it THE cluster-quality metric you can afford on
    a 100 TB embedding corpus.

    Exactness: per-(label, dim) Σx and Σx² use the ``pca_2d_exact``
    DECIMAL(13,10) discipline (float32 components are exact in double
    and in decimal(13,10)); per-dim global sums stay decimal-exact via
    a second decimal aggregate. W = ΣΣ (S2 − S1²/n_l) and
    B = ΣΣ n_l·(μ_ld − μ_d)² are then sums of k·d engine-identical
    doubles (the zipf float class — noise ~1e−12, far inside round 4).

    Scale shape: one posexplode pass → (label, dim) hash aggregate
    with map-side combine (k·d output rows), a per-dim decimal
    rollup broadcast back onto it, and two 1-row reductions — no
    window, no pairwise join, nothing fact-sized past the first agg.

    Output: 1 row — (n_vectors, n_clusters, between_ss, within_ss,
    ch_index).
    """
    from .dedup import _shared

    # the k·d-row moment frame feeds the per-dim rollup AND the W/B
    # reduction join — checkpointed so the corpus posexplode +
    # decimal aggregate runs once, not once per consumer
    a = _shared(_label_dim_moments(df, vec_col, label_col))
    g = a.groupBy("dim").agg(
        F.sum("_s1").alias("_gs1"), F.sum("_n").alias("_gn")
    )
    n_l = F.col("_n").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    gmu = F.col("_gs1").cast("double") / F.col("_gn").cast("double")
    lmu = s1 / n_l
    sums = a.join(F.broadcast(g), "dim").agg(
        F.sum(s2 - s1 * s1 / n_l).alias("_w"),
        F.sum(n_l * (lmu - gmu) * (lmu - gmu)).alias("_b"),
    )
    meta = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.countDistinct(label_col).cast("int").alias("n_clusters"),
    )
    nv = F.col("n_vectors").cast("double")
    k = F.col("n_clusters").cast("double")
    ch = (F.col("_b") / (k - F.lit(1.0))) / (
        F.col("_w") / (nv - k)
    )
    return sums.crossJoin(F.broadcast(meta)).select(
        "n_vectors",
        "n_clusters",
        F.round("_b", 4).alias("between_ss"),
        F.round("_w", 4).alias("within_ss"),
        F.round(
            F.when(
                (F.col("n_clusters") > 1)
                & (F.col("_w") > 0.0)
                & (F.col("n_vectors") > F.col("n_clusters")),
                ch,
            ),
            4,
        ).alias("ch_index"),
    )


def davies_bouldin(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Davies–Bouldin index of a labeled embedding set: for each
    cluster the worst-case similarity ratio R_ij = (σ_i + σ_j) /
    d(μ_i, μ_j) against every other cluster, averaged — lower is
    better-separated. σ_i is the RMS distance of cluster members to
    their centroid, d the Euclidean centroid distance. The companion
    to ``calinski_harabasz``: CH rewards global variance ratio, DB
    exposes the single worst cluster pair.

    Like CH, everything reduces to per-(label, dim) moment aggregates
    (DECIMAL-exact Σx/Σx², one conversion to double each): σ_i² =
    Σ_dims (S2/n − (S1/n)²), centroid distances are a k²·d
    aggregate-sized self-join on dim, and the max/avg run over the
    k²-row ratio frame. Sums over ≤ d doubles per term are the zipf
    float class (round-4 safe). No pairwise row join anywhere — the
    fact table is touched once.

    Output: 1 row — (n_vectors, n_clusters, db_index).
    """
    from .dedup import _shared

    a = _label_dim_moments(df, vec_col, label_col)
    n_l = F.col("_n").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    # the k·d-row per-(label, dim) frame feeds the spread aggregate
    # and BOTH sides of the centroid-distance self-join —
    # checkpointed so the corpus posexplode + decimal aggregate runs
    # once, not three times
    mom = _shared(a.select(
        "_l",
        "dim",
        (s1 / n_l).alias("_mu"),
        (s2 / n_l - (s1 / n_l) * (s1 / n_l)).alias("_var_d"),
    ))
    sig = mom.groupBy("_l").agg(
        F.sqrt(F.greatest(F.sum("_var_d"), F.lit(0.0))).alias("_sigma"),
    )
    ci = mom.select(
        F.col("_l").alias("_i"), "dim", F.col("_mu").alias("_mi")
    )
    cj = mom.select(
        F.col("_l").alias("_j"), "dim", F.col("_mu").alias("_mj")
    )
    dist = (
        # explicit broadcast: cj is k·d rows (aggregate-sized); the
        # checkpoint hides that from the planner's size estimate
        ci.join(F.broadcast(cj), "dim")
        .filter(F.col("_i") != F.col("_j"))
        .groupBy("_i", "_j")
        .agg(
            F.sqrt(
                F.sum(
                    (F.col("_mi") - F.col("_mj"))
                    * (F.col("_mi") - F.col("_mj"))
                )
            ).alias("_dij")
        )
    )
    si = sig.select(F.col("_l").alias("_i"), F.col("_sigma").alias("_si"))
    sj = sig.select(F.col("_l").alias("_j"), F.col("_sigma").alias("_sj"))
    r = (
        dist.join(F.broadcast(si), "_i")
        .join(F.broadcast(sj), "_j")
        .select(
            "_i",
            F.when(
                F.col("_dij") > 0.0,
                (F.col("_si") + F.col("_sj")) / F.col("_dij"),
            ).alias("_r"),
        )
        .groupBy("_i")
        .agg(F.max("_r").alias("_rmax"))
    )
    agg = r.agg(F.avg("_rmax").alias("_db"), F.count(F.lit(1)).alias("_k"))
    meta = df.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    return agg.crossJoin(F.broadcast(meta)).select(
        "n_vectors",
        F.col("_k").cast("int").alias("n_clusters"),
        F.round("_db", 4).alias("db_index"),
    )


def rank_biased_overlap(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "neighbor_id",
    rank_col: str = "rank",
    p: float = 0.9,
    k: int = 10,
) -> DataFrame:
    """Truncated rank-biased overlap (Webber, Moffat & Zobel 2010)
    between two top-k rankings: RBO@k = (1−p)·Σ_{d=1..k} p^{d−1}·A_d,
    A_d the overlap fraction of the two depth-d prefixes. The
    top-weighted ranking-agreement metric retrieval stacks use where
    Kendall/Spearman over-weight the tail — e.g. quantized-vs-float
    serving (``int8_vs_float_topk``), pre-vs-post index rebuild, or
    two fusion policies (``rrf_fused_topk``).

    Formulation without per-depth recomputation: an id appearing at
    ranks (r_a, r_b) is inside both depth-d prefixes for every
    d ≥ m = max(r_a, r_b), so Σ_d p^{d−1}·A_d = Σ_ids S_m with the
    suffix sums S_m = Σ_{d=m..k} p^{d−1}/d taken over the k-row depth
    frame — one equi-join of the matched-id frame against k rows.

    Exactness: ranks are deterministic integers (callers tie-break);
    p^{d−1}/d and the ≤k-term sums are the zipf float class.

    Truncation contract: inputs are DENSE rankings (ranks 1..n per
    list, the row_number discipline every caller uses). When either
    list is shorter than ``k`` the effective depth clamps to
    k_eff = min(k, |a|, |b|) — overlap is divided by k_eff and the
    depth weights stop at k_eff, so a truncated list reads as a
    shallower comparison, not as ranking disagreement (without the
    clamp, missing depths silently counted as disagreement and biased
    overlap_at_k/rbo downward). The output ``k`` column reports k_eff.

    Scale shape: everything is k-row-sized — the matched join, the
    depth frame, its suffix window, the final 1-row aggregate. The
    expensive part is building the rankings, which callers do with
    map-side partial top-k.

    Output: 1 row — (k = k_eff, p, n_common, overlap_at_k, rbo).
    """
    spark = ranked_a.sparkSession
    a = ranked_a.filter(F.col(rank_col) <= int(k)).select(
        F.col(id_col).alias("_id"), F.col(rank_col).alias("_ra")
    )
    b = ranked_b.filter(F.col(rank_col) <= int(k)).select(
        F.col(id_col).alias("_id"), F.col(rank_col).alias("_rb")
    )
    keff = (
        a.agg(F.count(F.lit(1)).alias("_na"))
        .crossJoin(F.broadcast(b.agg(F.count(F.lit(1)).alias("_nb"))))
        .select(
            F.least(F.lit(int(k)), F.col("_na"), F.col("_nb"))
            .cast("int")
            .alias("_keff")
        )
    )
    # explicit broadcast: b is ≤k rows by the truncation filter
    matched = a.join(F.broadcast(b), "_id").select(
        F.greatest("_ra", "_rb").alias("_m")
    )
    depths = (
        spark.range(1, int(k) + 1)
        .crossJoin(F.broadcast(keff))
        .filter(F.col("id") <= F.col("_keff"))
        .select(
            F.col("id").alias("_d"),
            (F.pow(F.lit(float(p)), F.col("id") - 1) / F.col("id")).alias(
                "_w"
            ),
        )
    )
    suffix = depths.select(
        "_d",
        F.sum("_w")
        .over(
            W.orderBy(F.desc("_d")).rowsBetween(W.unboundedPreceding, 0)
        )
        .alias("_s"),
    )
    t = matched.join(
        F.broadcast(suffix), matched["_m"] == suffix["_d"]
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.coalesce(F.sum("_s"), F.lit(0.0)).alias("_ssum"),
    )
    return t.crossJoin(F.broadcast(keff)).select(
        F.col("_keff").alias("k"),
        F.lit(float(p)).alias("p"),
        "n_common",
        F.round(
            F.when(
                F.col("_keff") > 0,
                F.col("n_common") / F.col("_keff").cast("double"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("overlap_at_k"),
        F.round(F.lit(1.0 - float(p)) * F.col("_ssum"), 4).alias("rbo"),
    )


def hubness_profile(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Hubness profile of an embedding set (Radovanović et al. 2010):
    the distribution of the k-OCCURRENCE N_k(x) — how many other
    points list x in their cosine top-k — summarized as a histogram
    with its skewness. High positive skew means a few "hub" vectors
    dominate every neighbor list (the high-dimensional pathology that
    silently wrecks kNN labeling, ANN recall and dedup verify
    stages); antihubs (N_k = 0) are the unreachable tail. The
    E[N_k] = k invariant makes the readout self-checking.

    This is the documented QUADRATIC audit tier (the exact
    upper-triangle discipline of ``embedding_near_dup_pairs``): score
    every ordered pair, rank per query with a keyed window, count
    top-k membership per neighbor. At 100 TB you run it on a SAMPLE —
    ``max_rows`` enforces that contract up front (same eager-guard
    style as the ``max_distinct`` window contracts); the banded/LSH
    tiers are the production ANN paths.

    Exactness: dot products are fixed-order folds over the dimension
    axis (engine-identical IEEE), ranks tie-break on the neighbor id,
    k-occurrences are exact integers; skewness is one expression over
    the 1-row moment frame (round 4).

    Output: one row per k-occurrence value — (k_occurrence,
    n_vectors, skewness, mean_k_occurrence) with the scalar moments
    repeated (1-row broadcast).
    """
    if max_rows is not None:
        n_in = df.count()
        if n_in > max_rows:
            raise ValueError(
                f"hubness_profile: {n_in} rows exceed the quadratic-tier "
                f"cap max_rows={max_rows}; audit a sample instead"
            )
    v = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    # norms let-bound once per VECTOR below the pair join (the inline
    # cosine re-folded both norms per PAIR — 2n folds replace 2n² on
    # this quadratic tier); same IEEE ops, values unchanged
    a = v.select(
        F.col("_id").alias("_qa"),
        F.col("_v").alias("_va"),
        l2_norm("_v").alias("_na"),
    )
    b = v.select(
        F.col("_id").alias("_qb"),
        F.col("_v").alias("_vb"),
        l2_norm("_v").alias("_nb"),
    )
    # shared fold (functions.columns.dot_product discipline): the
    # DuckDB oracle replays the same left-fold as list_dot_product
    pairs = a.join(b, F.col("_qa") != F.col("_qb")).select(
        "_qa",
        "_qb",
        (
            dot_product("_va", "_vb") / (F.col("_na") * F.col("_nb"))
        ).alias("_cos"),
    )
    w = W.partitionBy("_qa").orderBy(F.desc("_cos"), F.col("_qb"))
    kocc = (
        pairs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= int(k))
        .groupBy("_qb")
        .agg(F.count(F.lit(1)).alias("_ko"))
    )
    per_vec = (
        v.select("_id")
        .join(kocc, v["_id"] == kocc["_qb"], "left")
        .select(F.coalesce(F.col("_ko"), F.lit(0)).alias("_ko"))
    )
    x = F.col("_ko").cast("double")
    mom = per_vec.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg(x).alias("_m1"),
        F.avg(x * x).alias("_m2"),
        F.avg(x * x * x).alias("_m3"),
    )
    mu = F.col("_m1")
    var = F.col("_m2") - mu * mu
    m3c = F.col("_m3") - 3 * mu * F.col("_m2") + 2 * mu * mu * mu
    skew = F.when(var > 0.0, m3c / F.pow(var, F.lit(1.5)))
    hist = per_vec.groupBy(F.col("_ko").alias("k_occurrence")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    return hist.crossJoin(F.broadcast(mom)).select(
        F.col("k_occurrence").cast("int").alias("k_occurrence"),
        "n_vectors",
        F.round(skew, 4).alias("skewness"),
        F.round(mu, 4).alias("mean_k_occurrence"),
    )


def dunn_index(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Dunn index of a labeled embedding set — min inter-cluster
    centroid distance over max intra-cluster spread (2σ, the RMS
    diameter proxy): the worst-case separation ratio that completes
    the cluster-validity trio (``calinski_harabasz`` = average
    variance ratio, ``davies_bouldin`` = worst PAIR ratio, Dunn =
    global min/max). Higher is better; a Dunn near 0 means some pair
    of clusters touches.

    The centroid-linkage/diameter-proxy form is deliberate: the
    classical single-linkage/complete-diameter Dunn needs pairwise
    point distances (O(n²)); this form reduces to the SAME
    per-(label, dim) DECIMAL-exact moment base as its two siblings —
    one posexplode pass, a k²·d centroid-distance join, two 1-row
    extrema. O(n·d) at any corpus size.

    Output: 1 row — (n_vectors, n_clusters, min_intercluster,
    max_intracluster, dunn_index).
    """
    from .dedup import _shared

    a = _label_dim_moments(df, vec_col, label_col)
    n_l = F.col("_n").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    # the k·d-row per-(label, dim) frame feeds the spread aggregate
    # and BOTH sides of the centroid-distance self-join —
    # checkpointed so the corpus posexplode + decimal aggregate runs
    # once, not three times
    mom = _shared(a.select(
        "_l",
        "dim",
        (s1 / n_l).alias("_mu"),
        (s2 / n_l - (s1 / n_l) * (s1 / n_l)).alias("_var_d"),
    ))
    diam = mom.groupBy("_l").agg(
        (
            F.lit(2.0)
            * F.sqrt(F.greatest(F.sum("_var_d"), F.lit(0.0)))
        ).alias("_diam")
    )
    ci = mom.select(F.col("_l").alias("_i"), "dim", F.col("_mu").alias("_mi"))
    cj = mom.select(F.col("_l").alias("_j"), "dim", F.col("_mu").alias("_mj"))
    dist = (
        # explicit broadcast: cj is k·d rows (aggregate-sized); the
        # checkpoint hides that from the planner's size estimate
        ci.join(F.broadcast(cj), "dim")
        .filter(F.col("_i") < F.col("_j"))
        .groupBy("_i", "_j")
        .agg(
            F.sqrt(
                F.sum(
                    (F.col("_mi") - F.col("_mj"))
                    * (F.col("_mi") - F.col("_mj"))
                )
            ).alias("_dij")
        )
    )
    mins = dist.agg(F.min("_dij").alias("min_intercluster"))
    maxs = diam.agg(F.max("_diam").alias("max_intracluster"))
    meta = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.countDistinct(label_col).cast("int").alias("n_clusters"),
    )
    return (
        mins.crossJoin(F.broadcast(maxs))
        .crossJoin(F.broadcast(meta))
        .select(
            "n_vectors",
            "n_clusters",
            F.round("min_intercluster", 4).alias("min_intercluster"),
            F.round("max_intracluster", 4).alias("max_intracluster"),
            F.round(
                F.when(
                    F.col("max_intracluster") > 0.0,
                    F.col("min_intercluster") / F.col("max_intracluster"),
                ),
                4,
            ).alias("dunn_index"),
        )
    )
