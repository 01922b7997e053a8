"""Tests for the round-2 operators: near-dup resolution (connected
components), batch ANN recall, IVF probe-search recall with cell
replication, driver-collect guards, sampling contracts, and the
scale-critical plan shapes (hash-first dedup shuffle, hot-shingle cap)."""

from __future__ import annotations

import contextlib
import io

import numpy as np
import pytest
from pyspark.sql import functions as F

from us_accidents_bigdata_pipeline_spark.operators.dedup import (
    exact_dedup,
    near_dup_resolve,
    ngram_jaccard_pairs,
    resolve_components,
)
from us_accidents_bigdata_pipeline_spark.operators.sample import (
    count_targeted_sample,
    stratified_sample,
)
from us_accidents_bigdata_pipeline_spark.operators.similarity import (
    cosine_topk_batch,
    ivf_fit_assign,
    ivf_search,
    lsh_ann_batch,
)

from .conftest import SF_ORACLE


# ---------------------------------------------------------------- components


def test_resolve_components_chain(spark):
    """A path graph is the worst case for label propagation — pointer
    jumping must still converge, labeling every node with the chain min."""
    n = 33
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out = {
        r.doc_id: (r.canonical_id, r.keep)
        for r in resolve_components(nodes, pairs).collect()
    }
    assert len(out) == n
    for i in range(n):
        assert out[i] == (0, i == 0), (i, out[i])


def test_resolve_components_singletons_and_cliques(spark):
    nodes = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    # two components {1,2,3} and {7,8}; rest singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (7, 8)], "doc_a long, doc_b long"
    )
    rows = resolve_components(nodes, pairs).collect()
    canon = {r.doc_id: r.canonical_id for r in rows}
    keep = {r.doc_id for r in rows if r.keep}
    assert canon == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 6, 7: 7, 8: 7, 9: 9}
    assert keep == {0, 1, 4, 5, 6, 7, 9}


def test_resolve_components_random_graphs_property(spark):
    """Property check vs a plain union-find reference on random graphs:
    label-propagation + pointer-jumping must produce identical
    components for arbitrary edge sets (cycles, chains, self-loops,
    dense cliques)."""
    import random

    def uf_components(n, edges):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical = min node id in component
        canon = {}
        for v in range(n):
            r = find(v)
            canon.setdefault(r, v if v < canon.get(r, n) else canon[r])
        # second pass: true min per root
        mins: dict[int, int] = {}
        for v in range(n):
            r = find(v)
            mins[r] = min(mins.get(r, v), v)
        return {v: mins[find(v)] for v in range(n)}

    rng = random.Random(1234)
    for trial in range(3):
        n = 40
        n_edges = rng.choice([10, 40, 100])
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(n_edges)
        ]
        expect = uf_components(n, edges)
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r.doc_id: r.canonical_id
            for r in resolve_components(nodes, pairs).collect()
        }
        assert got == expect, (trial, n_edges)


def test_near_dup_resolve_planted_clusters(spark):
    """Planted duplicate clusters collapse to exactly one survivor each
    (the min doc id), singletons keep themselves."""
    base_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    base_b = "one two three four five six seven eight nine ten eleven"
    docs = [
        (0, base_a),
        (1, base_a + " lambda"),  # near-dup of 0
        (2, base_a),  # exact dup of 0
        (10, base_b),
        (11, base_b),  # exact dup of 10
        (20, "completely different text with no shared trigrams at all here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = near_dup_resolve(df, threshold=0.4).collect()
    canon = {r.doc_id: r.canonical_id for r in rows}
    survivors = sorted(r.doc_id for r in rows if r.keep)
    assert canon[0] == canon[1] == canon[2] == 0
    assert canon[10] == canon[11] == 10
    assert canon[20] == 20
    assert survivors == [0, 10, 20]


def test_exact_dedup_null_patterns_stay_distinct(spark):
    """Spark's xxhash64 skips NULL inputs, so hashing raw columns would
    merge ('x', NULL) with (NULL, 'x'); the explicit is-null markers
    keep groupBy(*cols)'s null semantics exactly."""
    df = spark.createDataFrame(
        [(1, "x", None), (2, None, "x"), (3, None, None), (4, None, None), (5, "x", None)],
        "id long, a string, b string",
    )
    rows = sorted((r.id, r.n_copies) for r in exact_dedup(df, ["a", "b"], "id").collect())
    assert rows == [(1, 2), (2, 1), (3, 2)]


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing's contract: identical docs → identical fingerprint
    sets; docs sharing a run of >= k + window - 1 words share >= 1
    fingerprint; density well below one-per-gram."""
    from us_accidents_bigdata_pipeline_spark.operators.dedup import (
        winnow_fingerprints,
    )

    shared_run = " ".join(f"common{i}" for i in range(12))  # > k+window-1 = 8
    docs = [
        (0, "alpha beta gamma " + shared_run + " delta epsilon"),
        (1, "one two three four five " + shared_run),
        (2, "alpha beta gamma " + shared_run + " delta epsilon"),  # == doc 0
        (3, "totally unrelated words here nothing shared at all whatsoever"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fps: dict[int, set] = {}
    for r in winnow_fingerprints(df, k=5, window=4).collect():
        fps.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert fps[0] == fps[2]  # identical text, identical fingerprints
    assert fps[0] & fps[1]  # shared 12-word run → shared fingerprint
    assert not (fps[0] & fps[3])  # nothing shared
    n_grams_doc0 = len(docs[0][1].split()) - 4
    assert len(fps[0]) < n_grams_doc0  # winnowing selects a subset


# ---------------------------------------------------------------- ANN recall


@pytest.fixture(scope="module")
def emb_np(spark):
    rows = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, X


def _exact_topk(ids, X, qid, k=5):
    qi = int(np.where(ids == qid)[0][0])
    d = np.linalg.norm(X - X[qi], axis=1)
    out = [int(ids[j]) for j in np.argsort(d) if ids[j] != qid]
    return set(out[:k])


def test_lsh_ann_batch_recall(spark, emb_np):
    """Batch ANN recall@5 vs the exact scan (embeddings are unit-norm,
    so Euclidean rank == cosine rank and cosine_topk_batch is the same
    reference)."""
    ids, X = emb_np
    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    got: dict[int, set] = {}
    for r in lsh_ann_batch(e, e.filter(F.col("vec_id") < 10), k=5).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(got.get(q, set()) & _exact_topk(ids, X, q)) / 5 for q in range(10)
    ]
    assert float(np.mean(recalls)) >= 0.8, recalls


def test_lsh_ann_batch_matches_cosine_reference_shape(spark):
    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    qs = e.filter(F.col("vec_id") < 3)
    ann = lsh_ann_batch(e, qs, k=5)
    exact = cosine_topk_batch(e, qs, k=5)
    assert ann.columns[:2] == exact.columns[:2] == ["query_id", "neighbor_id"]
    counts = {r.query_id: r.n for r in ann.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert all(v == 5 for v in counts.values()), counts


def test_ivf_search_recall_with_replication(spark, emb_np):
    """Probing nprobe=2 of 4 cells with m_assign=2 replication recovers
    >= 0.9 of the exact top-5 (seeded KMeans -> deterministic)."""
    ids, X = emb_np
    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    recalls = []
    for q in range(8):
        got = {
            r.vec_id
            for r in ivf_search(
                e, query_id=q, k=5, nprobe=2, n_cells=4, m_assign=2
            ).collect()
        }
        recalls.append(len(got & _exact_topk(ids, X, q)) / 5)
    assert float(np.mean(recalls)) >= 0.9, recalls


def test_ivf_multi_assign_replicates(spark):
    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    n = e.count()
    assert ivf_fit_assign(e, n_cells=4, m_assign=1)[0].count() == n
    assert ivf_fit_assign(e, n_cells=4, m_assign=2)[0].count() == 2 * n


def test_simhash_near_dup_pairs_pigeonhole_exact(spark):
    """Block-decomposition banding must find EXACTLY the brute-force
    hamming<=k pair set: recall 1 by pigeonhole (a pair within budget
    agrees on >=1 of k+1 blocks), precision 1 by the bit_count verify."""
    from us_accidents_bigdata_pipeline_spark.operators.dedup import (
        simhash_near_dup_pairs_md5,
        simhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    sims = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_dup_pairs_md5(docs, max_hamming=5).collect()
    }

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    ids = sorted(sims)
    expect = {
        (a, b): ham(sims[a], sims[b])
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(sims[a], sims[b]) <= 5
    }
    assert got == expect
    assert expect, "corpus should contain simhash near-dups"


def test_embedding_near_dup_blas_matches_exact(spark, emb_np):
    """The broadcast matrix product returns exactly the brute-force
    all-pairs set: every upper-triangle pair at cosine >= 0.42, with
    the cosine rounded to 4 places."""
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    ids, X = emb_np
    unit = X / np.linalg.norm(X, axis=1)[:, None]
    cos = unit @ unit.T
    expect = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j]))): cos[i, j]
        for i, j in zip(*np.nonzero(np.triu(cos >= 0.42, k=1)))
    }
    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    got = {
        (r.doc_a, r.doc_b): r.cosine
        for r in embedding_near_dup_pairs(e).collect()
    }
    assert expect, "expected near-dup pairs at the default threshold"
    assert got.keys() == expect.keys()
    assert all(abs(got[k] - expect[k]) <= 5e-5 + 1e-9 for k in got)


def test_embedding_blas_tiling_bounds_memory(spark):
    """The dense cosine block is tiled over corpus column blocks: with a
    budget far below what the untiled B×n product needs, the path must
    run inside the cap (many tiles) and stay bitwise-parity with the
    default single-tile run. Untiled, this corpus (n=1000, batches up to
    1000 rows) would allocate 8·B·n ≈ 8 MB blocks — the 64 KB budget
    forces ≥100 column tiles."""
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    untiled = {
        (r.doc_a, r.doc_b): r.cosine
        for r in embedding_near_dup_pairs(e).collect()
    }
    tiled = {
        (r.doc_a, r.doc_b): r.cosine
        for r in embedding_near_dup_pairs(e, tile_mem_bytes=64 << 10).collect()
    }
    assert tiled == untiled


# ------------------------------------------------------------------- guards


def test_broadcast_train_guard_trips(spark):
    from us_accidents_bigdata_pipeline_spark.ml.knn import broadcast_train
    from us_accidents_bigdata_pipeline_spark.tuning import DriverCollectGuard

    df = spark.createDataFrame(
        [(float(i), [1.0, 2.0]) for i in range(50)], "label double, features array<double>"
    )
    with pytest.raises(DriverCollectGuard, match="train_fraction"):
        broadcast_train(df, max_train_rows=10)
    # under the cap it works and is destroyable
    bc = broadcast_train(df, max_train_rows=100)
    bc.destroy()


def test_stratified_sample_cardinality_guard(spark):
    df = spark.range(1000).withColumn("key", F.col("id"))
    with pytest.raises(ValueError, match="not a categorical stratum"):
        stratified_sample(df, "key", 0.5, max_strata=100)


def test_count_targeted_sample_hits_target(spark):
    df = spark.range(60_000)
    for seed in (1, 7, 42):
        got = count_targeted_sample(df, 500, total=60_000, seed=seed).count()
        assert got == 500, (seed, got)
    # target >= total returns everything
    assert count_targeted_sample(df, 70_000, total=60_000).count() == 60_000


# ---------------------------------------------------------------- plan shape


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_exact_dedup_agg_shuffle_excludes_payload(spark):
    """The hash-first design's whole point: the aggregation exchange
    partitions on the 8-byte fingerprint and never carries the text
    payload."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    plan = _formatted_plan(exact_dedup(docs, ["text"], "doc_id"))
    # find every Exchange section; the ones partitioned by _fp must not
    # list the payload column among their inputs
    sections = plan.split("\n\n")
    fp_exchanges = [
        s
        for s in sections
        if s.lstrip().startswith("(") and "Exchange" in s.splitlines()[0]
        and "hashpartitioning(_fp" in s
    ]
    assert fp_exchanges, plan
    for s in fp_exchanges:
        assert "text#" not in s, s


def test_ngram_hot_shingle_cap_bounds_join(spark):
    """A stopword trigram shared by every doc degenerates the self-join
    to all-pairs; the frequency cap drops it before the join."""
    shared = "the of and"
    docs = [
        (i, f"{shared} unique{i}a unique{i}b unique{i}c unique{i}d")
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(df, threshold=0.0).count()
    capped = ngram_jaccard_pairs(df, threshold=0.0, max_shingle_df=5).count()
    assert uncapped == 30 * 29 / 2  # every pair shares the hot shingle
    assert capped == 0


def test_simhash_max_hamming_zero_single_block(spark):
    """max_hamming=0 → one block holding the whole 60-bit signature:
    the block join is then a join on the signature itself. Result =
    exact-simhash-equality pairs only."""
    from us_accidents_bigdata_pipeline_spark.operators.dedup import (
        simhash_near_dup_pairs_md5,
        simhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    sims = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_dup_pairs_md5(docs, max_hamming=0).collect()
    }
    ids = sorted(sims)
    expect = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if sims[a] == sims[b]
    }
    assert got == expect


def test_semantic_dedup_no_false_positives_high_recall(spark):
    """SemDeDup tier: cluster-scoped comparison can only MISS pairs
    (cell-boundary straddlers), never invent them — every emitted pair
    passed the exact-cosine filter. At the default m_assign=3
    replication recall vs the exact tier stays high (0.97 measured
    under the local fit)."""
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
        semantic_dedup_pairs,
    )

    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    exact = {
        (r.doc_a, r.doc_b): r.cosine
        for r in embedding_near_dup_pairs(e).collect()
    }
    sem = {
        (r.doc_a, r.doc_b): r.cosine
        for r in semantic_dedup_pairs(e, n_cells=8).collect()
    }
    assert exact, "expected near-dup pairs at the default threshold"
    extras = set(sem) - set(exact)
    assert extras == set(), f"semantic tier produced false positives {extras}"
    assert len(set(sem) & set(exact)) / len(exact) >= 0.9
    # and where a pair is found, the cosine is the exact one
    for k, v in sem.items():
        assert abs(v - exact[k]) < 1e-9


def test_semantic_dedup_recall_cost_curve(spark):
    """The m_assign knob — the recall/cost dial a 100 TB operator
    reaches for first — pinned at two operating points: replication
    m=1 (cheapest, within-cell only) through m=3 must be MONOTONE in
    recall vs the exact tier, m=2 must clear 0.7 and m=3 (the
    default) must clear 0.9 (measured 0.47/0.74/0.97 under the
    layout-independent local fit on this near-uniform corpus; n·m
    cell assignments → Σ|cell|² pair work, so the curve documents
    what each extra replication buys)."""
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
        semantic_dedup_pairs,
    )

    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    exact = {
        (r.doc_a, r.doc_b)
        for r in embedding_near_dup_pairs(e).collect()
    }
    assert exact
    recall = {}
    for m in (1, 2, 3):
        sem = {
            (r.doc_a, r.doc_b)
            for r in semantic_dedup_pairs(e, n_cells=8, m_assign=m).collect()
        }
        assert sem - exact == set()  # never false positives, any m
        recall[m] = len(sem & exact) / len(exact)
    assert recall[1] <= recall[2] <= recall[3]
    assert recall[2] >= 0.7
    assert recall[3] >= 0.9
    assert recall[3] >= recall[2] >= recall[1] > 0


def test_keep_best_per_cluster_picks_highest_score_min_id_tie(spark):
    from us_accidents_bigdata_pipeline_spark.operators.dedup import (
        keep_best_per_cluster,
    )

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (9, 7)],
        "doc_id long, n_chars long",
    )
    resolved = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (9, 4)],
        "doc_id long, canonical_id long",
    )
    got = {
        r["canonical_id"]: (r["kept_doc_id"], r["n_members"])
        for r in keep_best_per_cluster(docs, resolved, "n_chars").collect()
    }
    # cluster 1: scores 10/30/30 -> tie between 2 and 3 -> min id 2
    # cluster 4: scores 5/7 -> doc 9
    assert got == {1: (2, 3), 4: (9, 2)}


def test_incremental_dedup_removes_known_content(spark):
    from us_accidents_bigdata_pipeline_spark.operators.dedup import (
        incremental_dedup,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, "alpha beta"), (11, "fresh content"), (12, "gamma delta"),
         (13, "fresh content")],
        "doc_id long, text string",
    )
    got = sorted(r["doc_id"] for r in incremental_dedup(batch, corpus).collect())
    # 10 and 12 duplicate the corpus; 11 and 13 are both new (batch-
    # internal dupes are NOT this operator's job)
    assert got == [11, 13]


def test_pq_encode_shapes_and_reconstruction(spark):
    """PQ codebooks have m x k_codes centroids of dim/m floats; codes
    are in range; quantization actually compresses toward the input
    (mean reconstruction error well below the mean vector norm)."""
    import numpy as np

    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_train,
    )
    from .conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    books = pq_train(emb, m=8, k_codes=16)
    assert len(books) == 8
    assert all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)
    rows = pq_encode(emb, books).collect()
    assert all(len(r["codes"]) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r["codes"])
    # reconstruction error sanity on a few rows
    by_id = {r["vec_id"]: r["codes"] for r in rows[:50]}
    orig = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.filter(
            emb.vec_id.isin(list(by_id))
        ).collect()
    }
    errs, norms = [], []
    for vid, codes in by_id.items():
        rec = np.concatenate([np.asarray(books[j][codes[j]]) for j in range(8)])
        errs.append(np.linalg.norm(orig[vid] - rec))
        norms.append(np.linalg.norm(orig[vid]))
    assert np.mean(errs) < np.mean(norms), (np.mean(errs), np.mean(norms))


def test_pq_train_local_is_deterministic_across_layouts(spark):
    """pq_train sorts the collected sample lexicographically
    before the seeded k-means++ fit, so the codebooks are identical
    regardless of input partitioning."""
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        pq_train,
    )
    from .conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    b1 = pq_train(emb, m=8, k_codes=16)
    b2 = pq_train(emb.repartition(13, "vec_id"), m=8, k_codes=16)
    assert b1 == b2


def test_kmeanspp_lloyd_empty_sample_raises_value_error():
    """pq_train's local fit path must fail loudly on an empty sample
    (the old n==0 branch padded with None and died in
    np.concatenate with an opaque TypeError)."""
    import numpy as np
    import pytest

    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        _kmeanspp_lloyd,
    )

    with pytest.raises(ValueError, match="empty sample"):
        _kmeanspp_lloyd(np.empty((0, 4)), k=3, seed=1)
    # the n < k pad path itself stays intact
    assert _kmeanspp_lloyd(np.ones((2, 4)), k=3, seed=1).shape == (3, 4)


def test_minhash_estimate_calibration_statistics(spark):
    """The 16-slot estimates must center on the exact Jaccard: mean
    absolute error below 2x the binomial sd at J=0.5 (sqrt(J(1-J)/16)
    = 0.125), and every estimate an exact multiple of 1/16."""
    from us_accidents_bigdata_pipeline_spark.operators.dedup import (
        minhash_estimate_calibration,
    )
    from .conftest import SF_ORACLE

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    rows = minhash_estimate_calibration(docs, threshold=0.3).collect()
    assert rows
    for r in rows:
        assert abs(r["estimate"] * 16 - round(r["estimate"] * 16)) < 1e-9
    mae = sum(abs(r["estimate"] - r["jaccard"]) for r in rows) / len(rows)
    assert mae < 0.25, mae


def test_ivf_exact_pruned_matches_full_probe(spark):
    """The certificate is the contract: the pruned search must equal
    the exact full scan on the real fixture, for several queries."""
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        ivf_fit_assign,
        ivf_search,
        ivf_search_exact_pruned,
    )
    from .conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    index = ivf_fit_assign(emb, n_cells=8, m_assign=1)
    index[0].persist().count()
    try:
        for qid in (0, 3, 42):
            exact = [
                (r["vec_id"], r["dist"])
                for r in ivf_search(
                    emb, query_id=qid, k=5, nprobe=8, n_cells=8
                ).collect()
            ]
            pruned = [
                (r["vec_id"], r["dist"])
                for r in ivf_search_exact_pruned(
                    emb, query_id=qid, k=5, nprobe_initial=2,
                    n_cells=8, index=index,
                ).collect()
            ]
            assert pruned == exact, qid
    finally:
        index[0].unpersist()


def test_ivf_certified_cells_prunes_separated_clusters():
    """On well-separated clusters the certificate keeps only the cells
    whose ball intersects the search radius — pruning is real, not
    just a full rescan (uniform data degrades honestly; clustered
    data is where the two-scan shape pays)."""
    import numpy as np

    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        _certified_probe_cells,
    )

    # query sits in cell 0; cells at centroid distance 0.5, 10, 20, 30
    # with radius 1 each; kth distance found in the near cell = 0.4
    cdist = np.array([0.5, 10.0, 20.0, 30.0])
    radii = {0: 1.0, 1: 1.0, 2: 1.0, 3: 1.0}
    assert _certified_probe_cells(cdist, radii, d_k=0.4) == [0]
    # a fat faraway cell whose ball reaches back gets kept
    radii[2] = 19.9
    assert _certified_probe_cells(cdist, radii, d_k=0.4) == [0, 2]
    # empty cells (absent from radii) bound by centroid distance alone
    assert _certified_probe_cells(cdist, {}, d_k=0.6) == [0]


def test_ivf_exact_pruned_fallback_when_initial_probe_thin(spark):
    """k larger than the initial probe's population: the bound can't
    be formed, so the search must fall back to every non-empty cell
    and still return the exact top-k."""
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        ivf_search,
        ivf_search_exact_pruned,
    )
    from .conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").limit(40)
    exact = [
        (r["vec_id"], r["dist"])
        for r in ivf_search(
            emb, query_id=0, k=30, nprobe=8, n_cells=8
        ).collect()
    ]
    pruned = [
        (r["vec_id"], r["dist"])
        for r in ivf_search_exact_pruned(
            emb, query_id=0, k=30, nprobe_initial=1, n_cells=8
        ).collect()
    ]
    assert pruned == exact


def test_ivf_exact_pruned_precomputed_radii_index(spark):
    """The 3-tuple (assigned, model, radii) index form must produce
    the same exact top-k without re-aggregating the corpus."""
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        ivf_cell_radii,
        ivf_fit_assign,
        ivf_search,
        ivf_search_exact_pruned,
    )
    from .conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    assigned, model = ivf_fit_assign(emb, n_cells=8, m_assign=1)
    radii = ivf_cell_radii(emb, assigned, model.clusterCenters())
    exact = [
        (r["vec_id"], r["dist"])
        for r in ivf_search(
            emb, query_id=3, k=5, nprobe=8, n_cells=8
        ).collect()
    ]
    pruned = [
        (r["vec_id"], r["dist"])
        for r in ivf_search_exact_pruned(
            emb, query_id=3, k=5, index=(assigned, model, radii)
        ).collect()
    ]
    assert pruned == exact


def test_ivf_certificate_property_random_geometries():
    """Property check of the pruning certificate itself (pure math, no
    Spark): for random point sets, centers, and k, EVERY point the
    exact top-k under the output ordering (round(dist,4), id) selects
    must live in a cell _certified_probe_cells keeps, where d_k is the
    kth distance among the initially-probed cells — the exact claim
    ivf_search_exact_pruned's second scan relies on. Uniform and
    clustered geometries, near-tie cases included."""
    import numpy as np

    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        _certified_probe_cells,
    )

    rng = np.random.RandomState(7)
    for trial in range(200):
        dim = rng.randint(2, 9)
        n = rng.randint(20, 120)
        n_cells = rng.randint(2, 9)
        k = rng.randint(1, 8)
        clustered = trial % 2 == 0
        centers = rng.randn(n_cells, dim) * (4.0 if clustered else 1.0)
        if clustered:
            X = centers[rng.randint(n_cells, size=n)] + 0.3 * rng.randn(
                n, dim
            )
        else:
            X = rng.randn(n, dim)
        q = X[0]
        ids = np.arange(n)
        # corpus excludes the query row, mirroring the operator
        P, pids = X[1:], ids[1:]
        assign = np.argmin(
            ((P[:, None, :] - centers[None, :, :]) ** 2).sum(-1), axis=1
        )
        cdist = np.linalg.norm(centers - q, axis=1)
        radii = {}
        for c in range(n_cells):
            m = assign == c
            if m.any():
                radii[c] = float(
                    np.linalg.norm(P[m] - centers[c], axis=1).max()
                )
        dists = np.linalg.norm(P - q, axis=1)
        # exact top-k under the OUTPUT ordering: (round(d,4), id)
        order = sorted(range(len(P)), key=lambda i: (round(dists[i], 4), pids[i]))
        exact_sel = order[:k]
        # initial probe: 2 nearest cells (or fewer)
        nprobe = min(2, n_cells)
        first = list(np.argsort(cdist)[:nprobe])
        in_first = [i for i in range(len(P)) if assign[i] in first]
        if len(in_first) < k:
            continue  # operator falls back to all non-empty cells
        head = sorted(dists[i] for i in in_first)[:k]
        kept = set(_certified_probe_cells(cdist, radii, float(head[-1])))
        for i in exact_sel:
            assert int(assign[i]) in kept, (
                trial, i, dists[i], head[-1], assign[i], kept,
            )
