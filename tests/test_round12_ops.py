"""Round-12 operator pins: fixed-point PageRank, the broadcast linear
quality classifier (+ its funnel stage), perceptual aHash near-dup,
RBO truncation clamping, and the intra-doc line-dedup NULL-text fix."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

from pyspark.sql import functions as F


def _ref_fixed_pagerank(edges, n_iter, units=10**12, dnum=85):
    """Driver-side integer reference replaying every floor division of
    graph.pagerank — Python // == Spark SQL div for the non-negative
    values involved."""
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    outd = Counter(s for s, _ in edges)
    r = {v: units // n for v in nodes}
    base = ((100 - dnum) * units) // (100 * n)
    for _ in range(n_iter):
        dang = sum(r[v] for v in nodes if v not in outd)
        b = base + (dnum * dang) // (100 * n)
        inflow: dict = defaultdict(int)
        for s, t in edges:
            inflow[t] += r[s] // outd[s]
        r = {v: b + (dnum * inflow.get(v, 0)) // 100 for v in nodes}
    return r


def test_pagerank_fixed_point_matches_integer_reference(spark):
    """pagerank replays the Python integer loop bit-for-bit,
    including the dangling-mass redistribution (node 3 dangles)."""
    from us_accidents_bigdata_pipeline_spark.operators.graph import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.rank_units
        for r in pagerank(df, n_iter=8).collect()
    }
    assert got == _ref_fixed_pagerank(edges, 8)


def _ref_float_pagerank(edges, n_iter, d=0.85):
    """Plain float power iteration with dangling mass spread evenly."""
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    outd = Counter(s for s, _ in edges)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        dang = sum(r[v] for v in nodes if outd[v] == 0)
        nxt = {v: (1 - d) / n + d * dang / n for v in nodes}
        for s, t in edges:
            nxt[t] += d * r[s] / outd[s]
        r = nxt
    return r


def test_pagerank_fixed_point_tracks_float_path(spark):
    """units/U agrees with a float power iteration to ~n·iter units
    of floor-division drift, and total mass stays within that drift of
    1.0 — the documented fixed-point contract."""
    from us_accidents_bigdata_pipeline_spark.operators.graph import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    fx = {r.node: r.rank for r in pagerank(df, n_iter=8).collect()}
    fl = _ref_float_pagerank(edges, 8)
    assert set(fx) == set(fl)
    for v in fl:
        assert abs(fx[v] - fl[v]) < 1e-9
    assert abs(sum(fx.values()) - 1.0) < 1e-9


def test_rbo_truncation_clamps_depth(spark):
    """A 3-entry vs 5-entry comparison at k=10 clamps to k_eff=3:
    identical prefixes read as full agreement (overlap 1.0,
    rbo = 1 - p^3), not as 7 depths of disagreement."""
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        rank_biased_overlap,
    )

    a = spark.createDataFrame(
        [(i, i) for i in range(1, 4)], "neighbor_id long, rank int"
    )
    b = spark.createDataFrame(
        [(i, i) for i in range(1, 6)], "neighbor_id long, rank int"
    )
    r = rank_biased_overlap(a, b, p=0.9, k=10).first()
    assert r["k"] == 3
    assert r["n_common"] == 3
    assert r["overlap_at_k"] == 1.0
    assert abs(r["rbo"] - round(1.0 - 0.9**3, 4)) < 1e-9


def test_intra_doc_line_dedup_null_text_kept(spark):
    """NULL text must not vanish the document: it scores as one kept
    empty line (the coalesce fix; split(NULL) would drop the row)."""
    from us_accidents_bigdata_pipeline_spark.operators.dedup import (
        intra_doc_line_dedup,
    )

    df = spark.createDataFrame(
        [(1, None), (2, "x\nx\ny")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in intra_doc_line_dedup(df).collect()}
    assert set(out) == {1, 2}
    assert out[1]["text_deduped"] == ""
    assert out[1]["n_lines"] == 1 and out[1]["n_dropped"] == 0
    assert out[2]["text_deduped"] == "x\ny" and out[2]["n_dropped"] == 1


def test_quality_classifier_integer_logit(spark):
    """Per-doc logit accumulates in exact micro-units; unmatched docs
    score the bias; the keep cut is the INTEGER comparison."""
    from us_accidents_bigdata_pipeline_spark.operators.textstats import (
        quality_classifier_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark spark slow"),  # 2*300000 - 400000 = 200000
            (2, "zzz qqq"),  # no matches -> bias only
            (3, None),  # NULL text -> bias only
        ],
        "doc_id long, text string",
    )
    w = spark.createDataFrame(
        [("spark", 300000), ("slow", -400000)],
        "token string, weight_micro long",
    )
    out = {
        r["doc_id"]: r
        for r in quality_classifier_score(
            docs, w, bias_micro=-100000
        ).collect()
    }
    assert out[1]["matched_tokens"] == 3
    assert out[1]["logit_micro"] == 100000 and out[1]["keep"]
    assert out[1]["logit"] == 0.1
    assert out[2]["matched_tokens"] == 0
    assert out[2]["logit_micro"] == -100000 and not out[2]["keep"]
    assert out[3]["logit_micro"] == -100000 and not out[3]["keep"]
    # sigmoid sanity at the known logit
    import math

    assert abs(out[1]["score"] - round(1 / (1 + math.exp(-0.1)), 6)) < 1e-9


def test_curate_corpus_classifier_stage(spark):
    """The optional classifier stage appends funnel row 6 and keeps
    exactly the docs the scorer marks keep among decontaminated
    survivors."""
    from us_accidents_bigdata_pipeline_spark.operators.curation import (
        curate_corpus,
    )
    from us_accidents_bigdata_pipeline_spark.operators.textstats import (
        quality_classifier_score,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.limit(0)
    w = spark.createDataFrame(
        [("spark", 400000), ("slow", -900000)],
        "token string, weight_micro long",
    )
    curated, funnel = curate_corpus(
        docs,
        bench,
        classifier_weights=w,
        classifier_bias_micro=-200000,
    )
    rows = {r["stage_idx"]: r for r in funnel.collect()}
    assert [rows[i]["stage"] for i in range(7)] == [
        "raw",
        "quality",
        "repetition",
        "exact_dedup",
        "near_dup",
        "decontaminated",
        "classifier",
    ]
    n6 = curated.count()
    assert rows[6]["n_docs"] == n6 <= rows[5]["n_docs"]
    # survivors are exactly the keep=True subset of the stage-5 docs
    scored = quality_classifier_score(docs, w, bias_micro=-200000)
    keep_ids = {
        r["doc_id"] for r in scored.filter(F.col("keep")).collect()
    }
    assert {r["doc_id"] for r in curated.collect()} <= keep_ids


def _ref_ahash_sig(payload: bytes, dim: int = 60) -> int:
    digest = hashlib.sha256(payload).digest()
    lanes = [digest[i % 32] / 256.0 for i in range(dim)]
    mean = sum(lanes) / dim
    return sum(1 << i for i, f in enumerate(lanes) if f > mean)


def test_ahash_signature_matches_digest_reference(spark):
    from us_accidents_bigdata_pipeline_spark.operators.multimodal import (
        ahash_signature,
        decode_image_features,
    )

    df = spark.createDataFrame(
        [(1, b"hello"), (2, b"world")], "media_id long, payload binary"
    )
    feats = decode_image_features(df, dim=60)
    got = {r["media_id"]: r["signature"] for r in ahash_signature(feats).collect()}
    assert got[1] == _ref_ahash_sig(b"hello")
    assert got[2] == _ref_ahash_sig(b"world")


def test_perceptual_near_dup_pairs_identical_payloads(spark):
    """Identical payloads collide at Hamming 0; an unrelated payload
    only pairs if its signature genuinely lands within the budget
    (cross-checked against the digest reference)."""
    from us_accidents_bigdata_pipeline_spark.operators.multimodal import (
        perceptual_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [(1, b"same-bytes"), (2, b"same-bytes"), (3, b"different!")],
        "media_id long, payload binary",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in perceptual_near_dup_pairs(
            df, id_col="media_id"
        ).collect()
    }
    assert pairs[(1, 2)] == 0
    s1 = _ref_ahash_sig(b"same-bytes")
    s3 = _ref_ahash_sig(b"different!")
    d13 = bin(s1 ^ s3).count("1")
    assert ((1, 3) in pairs) == (d13 <= 5)
    assert ((2, 3) in pairs) == (d13 <= 5)


def test_perceptual_pairs_plan_is_banded(spark):
    """The pair join must be the blocked equi-join — no cartesian or
    broadcast-nested-loop product anywhere in the plan."""
    from us_accidents_bigdata_pipeline_spark.operators.multimodal import (
        perceptual_near_dup_pairs,
    )
    from us_accidents_bigdata_pipeline_spark.plans.audit import audit_plan

    df = spark.createDataFrame(
        [(i, bytes([i])) for i in range(1, 6)],
        "media_id long, payload binary",
    )
    assert audit_plan(perceptual_near_dup_pairs(df)) == []


def test_range_checkpoint_bucket_integral_division(spark):
    """The checkpoint bucket uses exact integral `div` — a boundary id
    lands in the bucket floor division says, even where double
    rounding would disagree (span and multiplier chosen so the double
    product sits exactly on an integer boundary)."""
    from us_accidents_bigdata_pipeline_spark.operators.layout import (
        range_checkpoint_bucket,
    )

    # ids 0..9, K=10: id 3 -> (3*10) div 10 + 1 = 4, exact
    df = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    bounds, bucket = range_checkpoint_bucket(df, "doc_id", 10)
    rows = (
        df.crossJoin(F.broadcast(bounds))
        .select("doc_id", bucket.alias("b"))
        .collect()
    )
    got = {r["doc_id"]: r["b"] for r in rows}
    assert got == {i: i + 1 for i in range(10)}
