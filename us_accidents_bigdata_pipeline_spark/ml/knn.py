"""Distributed kNN classifier (SURVEY §2.6 J1, §2.8 M8).

The one operator Spark MLlib lacks (acknowledged by the reference:
"Since Spark MLlib doesn't have native kNN", knn_classification.py:
126-127). The reference's implementation is a row-at-a-time Python UDF
over a broadcast train sample (knn_classification.py:135-162) — its
hottest anti-pattern: one JVM→Python pickle round-trip and a Python
distance loop per row.

Spark-first redesign, two formulations:

- ``knn_predict`` (the scale path): broadcast the (sampled) train
  matrix as NumPy arrays; an Arrow-batched ``pandas_udf`` computes the
  full batch×train distance matrix with one BLAS expression
  (``|a|² + |b|² − 2ab``), top-k by partial sort, majority vote —
  ~100× the reference's per-row loop, no shuffle, embarrassingly
  parallel over partitions.
- ``knn_predict_exact`` (the correctness oracle): the same semantics as
  relational ops — crossJoin(broadcast(train)) → distance expression →
  ranking window → vote. Fully Catalyst-visible; used to validate the
  pandas_udf path in tests and by the driver's rows-only checks.

Determinism: neighbors tie-broken by (distance, train row id), votes
tie-broken by smallest label — both formulations agree bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _as_array_col(df: DataFrame, features_col: str) -> tuple[DataFrame, str]:
    """Accept either an array<numeric> column or an MLlib Vector column."""
    dtype = dict(df.dtypes)[features_col]
    if dtype.startswith("array"):
        return df.withColumn(
            "_farr", F.col(features_col).cast("array<double>")
        ), "_farr"
    from pyspark.ml.functions import vector_to_array

    return df.withColumn("_farr", vector_to_array(features_col)), "_farr"


def broadcast_train(
    spark_df: DataFrame,
    features_col: str = "features",
    label_col: str = "label",
    train_fraction: float = 1.0,
    seed: int = 42,
    max_train_rows: int = 2_000_000,
):
    """Collect + broadcast the (sampled) train matrix once. Returns the
    broadcast handle reusable across multiple ``knn_predict`` calls
    (e.g. a k-sweep); call ``.destroy()`` only after every DataFrame
    built from it has been materialized (the prediction udf reads the
    broadcast lazily at execution time).

    The collect crosses the executor→driver boundary, so it goes
    through ``tuning.safe_collect`` with a ``max_train_rows`` cap
    (2M rows × ~100 float32 dims ≈ 800 MB broadcast — the practical
    ceiling): beyond that the guard raises with the remedy (lower
    ``train_fraction`` / pre-sample) instead of OOMing the driver —
    the failure mode of the reference's own unguarded
    ``train_df.sample(0.1).collect()`` (knn_classification.py:132).
    """
    from ..tuning import DriverCollectGuard, safe_to_pandas

    train = spark_df
    if train_fraction < 1.0:
        train = train.sample(False, train_fraction, seed)
    tarr_df, tcol = _as_array_col(train, features_col)
    try:
        # Arrow-batched driver transfer (guide §6): the pickled-row
        # collect of the same frame measured ~5x slower (1.32 vs
        # 0.24 s at the bench's 157K-row broadcast) — values are
        # bit-identical (exact float widening either way)
        pdf = safe_to_pandas(
            tarr_df.select(tcol, label_col), max_rows=max_train_rows
        )
    except DriverCollectGuard as e:
        raise DriverCollectGuard(
            f"kNN train broadcast would collect too many rows ({e}); "
            "pass a smaller train_fraction or pre-sample the train set "
            "(the reference broadcasts a 10% sample, "
            "knn_classification.py:132)"
        ) from None
    if len(pdf) == 0:
        raise ValueError("empty train set for kNN broadcast")
    # float32: the distance scan is memory-bandwidth-bound (the d2 block
    # is written+scanned once per chunk) — halving element width is a
    # ~2x wall-clock win; final neighbor selection is unaffected except
    # at float32-ulp ties, which the (dist, index) order resolves
    # deterministically
    X = np.array(pdf[tcol].tolist(), dtype=np.float32)
    y = np.array(pdf[label_col].to_numpy(), dtype=np.int64)
    # map labels to dense indices so voting is a bincount regardless of
    # the label domain (sparse/negative labels included)
    classes, y_idx = np.unique(y, return_inverse=True)
    sc = spark_df.sparkSession.sparkContext
    return sc.broadcast((X, y_idx, (X * X).sum(axis=1), classes))


def knn_predict(
    df: DataFrame,
    train: DataFrame | None = None,
    k: int = 5,
    features_col: str = "features",
    label_col: str = "label",
    train_broadcast=None,
) -> DataFrame:
    """Vectorized broadcast kNN: adds a ``prediction`` int column.

    The broadcast payload is two dense NumPy arrays — for a
    1000-executor cluster this is one driver→executor transfer per
    executor, then zero data movement. Pass
    ``train_broadcast`` (from ``broadcast_train``) to reuse one
    collect+broadcast across calls.
    """
    if train_broadcast is not None:
        bc = train_broadcast
    else:
        if train is None:
            raise ValueError("either train or train_broadcast is required")
        bc = broadcast_train(train, features_col, label_col)

    n_train_rows = len(bc.value[1])
    classes = bc.value[3]
    kk = min(k, n_train_rows)
    n_labels = len(classes)

    @F.pandas_udf(T.IntegerType())
    def predict(batch: pd.Series) -> pd.Series:
        # Kernel design is allocation-free in the hot loop: the distance
        # block is written ONCE into a reused buffer and all follow-ups
        # are in-place or pure scans. (Profiled alternative — argsort /
        # argpartition over the block — allocates a same-shaped int64
        # index array per call, and fresh multi-hundred-MB allocations
        # page-fault at ~0.5 GB/s on this class of host: 4-8x slower.)
        Xt, yt, t_sq, cls = bc.value
        Q = np.stack(batch.to_numpy()).astype(np.float32)  # [m, d]
        m = len(Q)
        n_train = len(yt)
        out = np.empty(m, dtype=np.int64)
        # chunk queries so the reused distance block stays ~4M floats
        # (16 MB): small enough that (a) the k argmin passes and the
        # t_sq/scale updates run from LLC instead of re-streaming the
        # block from DRAM — the scan passes dominate, not the GEMM —
        # and (b) the per-worker buffer is megabytes, so a cold python
        # worker doesn't stall zeroing fresh pages (measured on the
        # 157K-train/100K-test tier: 256 MB blocks cost 179 s on the
        # first call across 32 workers and 8 s warm; 16 MB blocks run
        # the same tier at 8 s cold / 6.4 s warm)
        chunk = max(16, min(m, 4_000_000 // max(n_train, 1)))
        G = np.empty((chunk, n_train), dtype=np.float32)
        topk_idx = np.empty((chunk, kk), dtype=np.int64)
        rows = np.arange(chunk)
        for s in range(0, m, chunk):
            Qc = Q[s : s + chunk]
            c = len(Qc)
            Gc = G[:c]
            np.matmul(Qc, Xt.T, out=Gc)  # BLAS into the reused buffer
            Gc *= np.float32(-2.0)
            Gc += t_sq[None, :]
            Gc += (Qc * Qc).sum(axis=1)[:, None]  # Gc == squared dist
            # k argmin scans: O(k·n) with zero allocations; np.argmin
            # returns the FIRST minimum → ties break on lowest train
            # index, matching the exact formulation's (dist, id) order
            for j in range(kk):
                idx = np.argmin(Gc, axis=1)
                topk_idx[:c, j] = idx
                Gc[rows[:c], idx] = np.inf
            votes = yt[topk_idx[:c]]  # [c, k] dense label indices
            # vectorized majority vote; argmax returns the first (=
            # smallest) label on ties
            offs = (rows[:c, None] * n_labels + votes).ravel()
            counts = np.bincount(offs, minlength=c * n_labels)
            winners = counts.reshape(c, n_labels).argmax(axis=1)
            out[s : s + chunk] = cls[winners]
        return pd.Series(out)

    qarr_df, qcol = _as_array_col(df, features_col)
    return qarr_df.withColumn("prediction", predict(F.col(qcol))).drop("_farr")


def knn_predict_exact(
    df: DataFrame,
    train: DataFrame,
    k: int = 5,
    id_col: str = "id",
    features_col: str = "features",
    label_col: str = "label",
) -> DataFrame:
    """Relational kNN oracle: crossJoin(broadcast(train)) + window.

    Semantically ``test CROSS JOIN train ORDER BY (dist, train_id)
    LIMIT k per test row`` then majority vote (ties → smallest label).
    O(|test|·|train|) scored rows — the small-n correctness reference,
    exactly SURVEY §2.6's characterization of J1.
    """
    qdf, qcol = _as_array_col(df, features_col)
    tdf, tcol = _as_array_col(train, features_col)
    q = qdf.select(F.col(id_col).alias("_qid"), F.col(qcol).alias("_qv"))
    t = tdf.select(
        F.monotonically_increasing_id().alias("_tid"),
        F.col(tcol).alias("_tv"),
        F.col(label_col).alias("_tlabel"),
    )
    d2 = F.aggregate(
        F.zip_with("_qv", "_tv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = q.crossJoin(F.broadcast(t)).select(
        "_qid", "_tid", "_tlabel", d2.alias("_d2")
    )
    w = W.partitionBy("_qid").orderBy("_d2", "_tid")
    topk = scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
    votes = topk.groupBy("_qid", "_tlabel").agg(F.count(F.lit(1)).alias("_n"))
    wv = W.partitionBy("_qid").orderBy(F.col("_n").desc(), F.col("_tlabel"))
    preds = (
        votes.withColumn("_rv", F.row_number().over(wv))
        .filter(F.col("_rv") == 1)
        .select(
            F.col("_qid").alias(id_col),
            F.col("_tlabel").cast("int").alias("prediction"),
        )
    )
    return df.join(preds, id_col)


def optimal_k_sweep(
    train: DataFrame,
    validation: DataFrame,
    ks: tuple[int, ...] = (3, 5, 7, 9, 11),
    features_col: str = "features",
    label_col: str = "label",
) -> tuple[int, dict[int, float]]:
    """Accuracy sweep over k (knn_classification.py:166-190, v2:cell39).
    Returns (best_k, {k: accuracy}).

    The train matrix is collected and broadcast ONCE and reused for
    every k (the per-k re-collect/re-broadcast was a ~|ks|× waste);
    the broadcast is destroyed after the sweep."""
    bc = broadcast_train(train, features_col, label_col)
    accs = {}
    try:
        for k in ks:
            pred = knn_predict(
                validation,
                k=k,
                features_col=features_col,
                label_col=label_col,
                train_broadcast=bc,
            )
            agg = pred.agg(
                F.avg(
                    F.when(F.col("prediction") == F.col(label_col), 1.0).otherwise(
                        0.0
                    )
                ).alias("acc")
            ).head()
            accs[k] = float(agg["acc"])
    finally:
        bc.destroy()
    best = max(accs, key=lambda kk: (accs[kk], -kk))
    return best, accs
