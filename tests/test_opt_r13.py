"""Round-13 optimization pins.

Each optimization that rewrote an operator's internals (the certified
PQ bound, the shingle pre-filter, the exact-rational duplicate-n-gram
fraction) gets a focused identity/plan pin here, mirroring
test_opt_r12.py's discipline.
"""

from __future__ import annotations

import numpy as np
import pytest

from .conftest import SF_ORACLE, SF_SMOKE


def _brute_topk(emb_rows, query_id, k):
    """Reference: exact rounded-cosine top-k with id tiebreak — the
    DuckDB oracle's ordering, recomputed in numpy."""
    ids = np.array([r["vec_id"] for r in emb_rows])
    X = np.array([list(r["embedding"]) for r in emb_rows], dtype=np.float64)
    q = X[ids == query_id][0]
    cos = np.round(
        X @ q / (np.linalg.norm(X, axis=1) * np.linalg.norm(q)), 4
    )
    m = ids != query_id
    return [
        (int(i), float(-c)) for c, i in sorted(zip(-cos[m], ids[m]))[:k]
    ]


def test_pq_certified_bound_exact_across_queries(spark):
    """The certified triangle-inequality candidate bound makes
    pq_ann_verified_topk EXACT for every query — swept across query
    ids on the adversarial (near-uniform, worst-case-for-PQ) corpus,
    where the old fixed k*overfetch cut missed a true neighbor at
    sf0.1 (ADC rank 523 > 200)."""
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        pq_ann_verified_topk,
        pq_encode,
        pq_train,
        _unit_normalized,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    rows = emb.collect()
    unit = _unit_normalized(emb, "embedding")
    books = pq_train(unit, m=8, k_codes=16, vec_col="_unit")
    codes = pq_encode(unit, books, vec_col="_unit").persist()
    codes.count()
    try:
        for qid in (0, 1, 7, 42, 99):
            got = [
                (r["vec_id"], r["cosine"])
                for r in pq_ann_verified_topk(
                    emb, query_id=qid, k=5, index=(books, codes)
                ).collect()
            ]
            assert got == _brute_topk(rows, qid, 5), qid
    finally:
        codes.unpersist()


def test_pq_encode_qe2_is_reconstruction_error(spark):
    """Each code must be its subspace's nearest codeword (brute-force
    argmin), and _qe2 must equal the squared reconstruction error of
    the vector against those codewords (the quantity the certified
    search bound relies on)."""
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_train,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    books = pq_train(emb, m=8, k_codes=16)
    C = np.asarray(books)
    orig = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    out = pq_encode(emb, books).collect()
    assert {r["vec_id"] for r in out} == set(orig)
    m, _, sub = C.shape
    for r in out:
        xs = orig[r["vec_id"]].reshape(m, sub)
        nearest = ((xs[:, None, :] - C) ** 2).sum(axis=2).argmin(axis=1)
        assert list(r["codes"]) == nearest.tolist(), r["vec_id"]
        rec = np.concatenate([C[j, c] for j, c in enumerate(r["codes"])])
        want = float(((orig[r["vec_id"]] - rec) ** 2).sum())
        assert r["_qe2"] == pytest.approx(want, abs=1e-9), r["vec_id"]


def test_pq_index_without_qe2_raises(spark):
    """An index tuple whose codes lack the _qe2 reconstruction-error
    column cannot certify its candidate set: the search refuses it
    with a ValueError that names the column, instead of returning an
    uncertified top-k."""
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        pq_ann_verified_topk,
        pq_encode,
        pq_train,
        _unit_normalized,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    unit = _unit_normalized(emb, "embedding")
    books = pq_train(unit, m=8, k_codes=16, vec_col="_unit")
    codes = pq_encode(unit, books, vec_col="_unit").drop("_qe2")
    with pytest.raises(ValueError, match="_qe2"):
        pq_ann_verified_topk(emb, query_id=1, k=5, index=(books, codes))


def test_shingle_prefilter_matches_guarded_filter_form(spark):
    """The round-13 pre-filter (size(_toks) >= n before the shingle
    generator) is row-identical to the old guarded-gen +
    filter(size(sh) > 0) form, including NULL/empty/whitespace-only
    and shorter-than-n texts."""
    from pyspark.sql import functions as F

    from us_accidents_bigdata_pipeline_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "one two"),          # < n tokens: dropped by both forms
        (4, ""),                  # empty
        (5, None),                # NULL
        (6, "   "),               # whitespace-only
        (7, "x y z"),            # exactly n tokens: kept
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_dup_pairs(df, threshold=0.5).collect()
    )
    assert got == [(1, 2)]


def test_dup_ngram_frac_exact_rational_matches_double_round(spark):
    """Round-13 rounding fix: the exact-rational half-up
    (20000*dup + tot) div (2*tot) must agree with the old
    round(dup/tot, 4) double formulation on every document of the
    oracle corpus (verified identical at sf0.001/0.01/0.1 when
    introduced) — the change corrects only the DuckDB oracle's
    double-multiply rounding at half-point boundaries."""
    from pyspark.sql import functions as F

    from us_accidents_bigdata_pipeline_spark.operators.textstats import (
        dup_ngram_char_fraction,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    new = dup_ngram_char_fraction(docs, n=2, flag_threshold=0.1)
    got = {r["doc_id"]: r["dup_char_frac"] for r in new.collect()}
    # recompute the old double formulation's value per doc
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != ""
    )
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = docs.select("doc_id", F.explode(grams).alias("gram"))
    pg = g.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    pd_ = pg.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.length("gram")).alias("t"),
        F.sum(
            F.when(F.col("c") > 1, F.col("c") * F.length("gram")).otherwise(0)
        ).alias("d"),
    )
    old = {
        r["doc_id"]: r["f"]
        for r in pd_.select(
            "doc_id", F.round(F.col("d") / F.col("t"), 4).alias("f")
        ).collect()
    }
    for did, f in old.items():
        assert got[did] == f, (did, got[did], f)
