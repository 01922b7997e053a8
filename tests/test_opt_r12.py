"""Round-12 optimization pins: the restructured shingle builder and the
shared-subtree materialization must preserve semantics and the improved
plan shape: map-only shingling before the distinct, and one evaluation
of each shared subtree per query."""

from pyspark.sql import functions as F

from us_accidents_bigdata_pipeline_spark.operators.dedup import (
    _doc_shingles,
    _positional_grams,
    _shared,
    minhash_banded_pairs,
)


def _edge_docs(spark):
    return spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "a b"),
            (4, "a b c"),
            (5, "a  b \t c d"),
            (6, "x y z x y z x y z"),
        ],
        "doc_id int, text string",
    )


def test_doc_shingles_matches_positional_formulation(spark):
    # the array formulation must be row-identical to the positional
    # (posexplode + lead window) formulation it replaced, including
    # NULL text, empty text, short docs and repeated shingles
    docs = _edge_docs(spark)
    for n in (2, 3, 5):
        new = _doc_shingles(docs, "doc_id", "text", n)
        old = (
            _positional_grams(docs, "doc_id", "text", n)
            .select("doc_id", F.col("gram").alias("shingle"))
            .distinct()
        )
        assert new.exceptAll(old).count() == 0
        assert old.exceptAll(new).count() == 0


def test_doc_shingles_plan_is_map_only_before_distinct(spark):
    # the optimization's point: shingle GENERATION carries no window
    # and no extra exchange — the only exchange is the distinct; and
    # the let-bound token array keeps exactly ONE regex split in the
    # plan (an inlined split would re-execute per generated shingle)
    docs = _edge_docs(spark)
    plan = (
        _doc_shingles(docs, "doc_id", "text", 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, plan
    assert plan.count("split(trim(") == 1, plan
    assert plan.count("Exchange") <= 1, plan


def test_shared_subtree_is_computed_once(spark):
    # _shared must collapse the N-consumer re-derivation: the banded
    # pair query's plan re-read the corpus 12x before; with the shared
    # shingle/signature frames the parquet scan appears in no consumer
    # branch (all branches read the one checkpointed RDD)
    docs = _edge_docs(spark).filter(F.col("text").isNotNull())
    plan = (
        minhash_banded_pairs(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Scan parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_shared_preserves_rows(spark):
    docs = _edge_docs(spark)
    sh = _doc_shingles(docs, "doc_id", "text", 3)
    a = sorted(map(tuple, sh.collect()))
    b = sorted(map(tuple, _shared(sh).collect()))
    assert a == b


def test_unit_normalized_matches_inline_form(spark):
    # the let-bound norm must divide by bit-identical values
    from us_accidents_bigdata_pipeline_spark.functions import l2_norm
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        _unit_normalized,
    )

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.1, -0.2, 0.0][:2]), (3, [1e-8, 2.5])],
        "vec_id int, embedding array<double>",
    )
    new = _unit_normalized(df, "embedding").select("vec_id", "_unit")
    old = df.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x / l2_norm("embedding"),
        ).alias("_unit"),
    )
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )


def test_brp_buckets_deterministic_and_layout_independent(spark):
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        _brp_bucket_udf,
    )

    rows = [(i, [float((i * 7 + j) % 13) - 6.0 for j in range(8)]) for i in range(40)]
    udf = _brp_bucket_udf(16, 1.0, seed=42)
    out = {}
    for nparts in (1, 7):
        df = spark.createDataFrame(
            rows, "vec_id int, embedding array<double>"
        ).repartition(nparts)
        out[nparts] = {
            r["vec_id"]: tuple(r["b"])
            for r in df.select(
                "vec_id", udf(F.col("embedding")).alias("b")
            ).collect()
        }
        assert all(len(b) == 16 for b in out[nparts].values())
    assert out[1] == out[7]


def test_lsh_ann_batch_verified_equals_brute_force(spark):
    # the native candidate stage must keep recall complete so the
    # exact re-rank output equals cosine_topk_batch (the standing
    # recall assertion the oracle enforces at every SF)
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        cosine_topk_batch,
        lsh_ann_batch_verified,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = e.filter(F.col("vec_id") < 5)
    got = sorted(map(tuple, lsh_ann_batch_verified(e, qs, k=5).collect()))
    exact = sorted(map(tuple, cosine_topk_batch(e, qs, k=5).collect()))
    assert got == exact


def test_quality_and_repetition_tokenize_once_when_bound(spark):
    # the funnel's annotate pass previously executed split(trim(text))
    # 10x per doc (inline expressions; HOFs don't subexpression-
    # eliminate). With the let-bound token array the plan carries
    # exactly ONE split, and values are identical.
    from us_accidents_bigdata_pipeline_spark.functions import word_tokens
    from us_accidents_bigdata_pipeline_spark.operators.textstats import (
        quality_score,
        repetition_flag,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is a fine day to nap"),
            (2, "word word word word word word word word word word"),
            (3, ""),
            (4, None),
            (5, "a b"),
        ],
        "doc_id int, text string",
    )
    base = docs.select("*", word_tokens("text").alias("_toks"))
    new = base.select(
        "doc_id",
        (quality_score("text", toks=F.col("_toks")) >= 0.8).alias("q"),
        (~repetition_flag("text", toks=F.col("_toks"))).alias("r"),
    )
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert plan.count("split(trim(") == 1, plan
    old = docs.select(
        "doc_id",
        (quality_score("text") >= 0.8).alias("q"),
        (~repetition_flag("text")).alias("r"),
    )
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )


def _toy_edges(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (6, 1)],
        "src int, dst int",
    )


def test_graph_iteration_plans_share_edge_subtree(spark):
    # pagerank_mass / local_clustering_coefficient previously persisted
    # the edge frames but unpersisted them in `finally` BEFORE the
    # returned lazy frame executed, so each iteration level re-derived
    # the edge subtree from the source (56 scans in
    # pagerank_mass_bounded's baseline plan, 140 in
    # clustering_coef_copurchase). With _shared the final plan reads
    # only checkpointed RDDs — the derivation runs once.
    from us_accidents_bigdata_pipeline_spark.operators.graph import (
        local_clustering_coefficient,
        pagerank_mass,
    )

    e = _toy_edges(spark)
    for frame in (
        pagerank_mass(e, n_iter=3),
        local_clustering_coefficient(e),
    ):
        plan = (
            frame._jdf.queryExecution().executedPlan().toString()
        )
        assert "Scan ExistingRDD" in plan
        # every iteration consumes the SAME checkpointed inputs: the
        # toy 7-edge graph's 3-iteration mass plan stays small
        assert plan.count("Exchange") <= 25, plan.count("Exchange")


def test_pagerank_mass_matches_pre_optimization_values(spark):
    # exact integer arithmetic — the shared-subtree rewrite must not
    # change a single mass unit vs the formula computed directly
    from us_accidents_bigdata_pipeline_spark.operators.graph import (
        pagerank_mass,
    )

    e = _toy_edges(spark)
    got = {
        r["node"]: r["mass"]
        for r in pagerank_mass(e, n_iter=2, scale=10**6).collect()
    }
    # reference: same recurrence in plain python
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (6, 1)]
    nodes = sorted({n for ed in edges for n in ed})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    mass = {n: 10**6 for n in nodes}
    for _ in range(2):
        recv = {}
        for s, d in edges:
            recv[d] = recv.get(d, 0) + mass[s] // out[s]
        dang = sum(mass[n] for n in nodes if n not in out)
        share = dang // len(nodes)
        mass = {
            n: (15 * 10**6 + 85 * (recv.get(n, 0) + share)) // 100
            for n in nodes
        }
    assert got == mass


def _union_find_components(nodes, pairs):
    # reference: classic union-find → min-id canonical label per node
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for n in nodes:
        groups.setdefault(find(n), []).append(n)
    return {
        n: min(members)
        for root, members in groups.items()
        for n in members
    }


def test_resolve_components_sum_convergence_matches_union_find(spark):
    # the r12 sum-based convergence check must not terminate early:
    # a long path graph needs several propagation rounds, so a check
    # that spuriously reports "converged" (e.g. comparing NULL sums)
    # would leave mid-chain nodes mislabeled
    from us_accidents_bigdata_pipeline_spark.operators.dedup import (
        resolve_components,
    )

    chain = [(i, i + 1) for i in range(10, 25)]  # 16-node path
    extra = [(30, 31), (40, 40)]  # small comp + self-loop singleton
    pairs = chain + extra
    node_ids = sorted({n for p in pairs for n in p} | {99})  # + isolate
    nodes = spark.createDataFrame([(n,) for n in node_ids], "doc_id long")
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: (r["canonical_id"], r["keep"])
        for r in resolve_components(nodes, edges).collect()
    }
    ref = _union_find_components(node_ids, pairs)
    assert got == {n: (c, n == c) for n, c in ref.items()}


def test_resolve_components_non_numeric_ids_use_join_fallback(spark):
    # string ids cast to DECIMAL as NULL; without the type guard the
    # sum check would see None == None and stop after one round with
    # wrong labels on any graph deeper than one hop
    from us_accidents_bigdata_pipeline_spark.operators.dedup import (
        resolve_components,
    )

    pairs = [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(8)]
    node_ids = sorted({n for p in pairs for n in p})
    nodes = spark.createDataFrame([(n,) for n in node_ids], "doc_id string")
    edges = spark.createDataFrame(pairs, "doc_a string, doc_b string")
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in resolve_components(nodes, edges).collect()
    }
    assert got == {n: "d00" for n in node_ids}


def test_blocked_hamming_banded_frame_shared(spark):
    # both join branches of the blocked-Hamming self-join consume the
    # banded frame; with _shared the signature subtree (token explode +
    # per-bit aggregates) must appear as a checkpointed RDD, not be
    # re-derived per branch
    from us_accidents_bigdata_pipeline_spark.operators.dedup import (
        simhash_near_dup_pairs_md5,
    )

    docs = _edge_docs(spark).filter(F.col("text").isNotNull())
    frame = simhash_near_dup_pairs_md5(docs, max_hamming=10)
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    # the per-bit signature aggregation runs once, not once per branch
    assert plan.count("HashAggregate") <= 2, plan.count("HashAggregate")


def test_triangle_count_intersection_form(spark):
    # the r12 adjacency-intersection rewrite must count each triangle
    # exactly once — toy graph: K4 (4 triangles... C(4,3)=4), one
    # pendant edge, a duplicate + reversed duplicate edge, and a
    # disconnected 2-node component (0 triangles)
    from us_accidents_bigdata_pipeline_spark.operators.graph import (
        triangle_count,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = k4 + [(4, 5), (1, 2), (2, 1), (10, 11)]
    e = spark.createDataFrame(edges, "src int, dst int")
    assert triangle_count(e).collect()[0]["n_triangles"] == 4
    empty = spark.createDataFrame([], "src int, dst int")
    assert triangle_count(empty).collect()[0]["n_triangles"] == 0


# ---- wave 10/11: norm let-binding + redundant self-join removal -------


def _emb_frame(spark):
    # embeddings with edge cases: a zero vector (NaN cosine path), a
    # negative vector, ties-by-construction, float32-ish values
    rows = [
        (0, [1.0, 2.0, 3.0, 4.0]),
        (1, [4.0, 3.0, 2.0, 1.0]),
        (2, [-1.0, -2.0, -3.0, -4.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),
        (4, [1.0, 2.0, 3.0, 4.0]),
        (5, [0.1, 0.2, 0.3, 0.4]),
        (6, [2.0, -1.0, 0.5, 3.25]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_batch_let_bound_norms_bit_identical(spark):
    # the let-bound-norm rewrite must be BIT-identical to the inline
    # cosine_similarity form (same IEEE ops, just evaluated per row /
    # per query instead of per pair)
    from pyspark.sql import Window as W

    from us_accidents_bigdata_pipeline_spark.functions import (
        cosine_similarity,
    )
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        cosine_topk_batch,
    )

    e = _emb_frame(spark).filter(F.col("vec_id") != 3)
    queries = e.filter(F.col("vec_id") < 2)
    # the pre-optimization formulation, inline
    qs = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    scored = (
        e.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_similarity("embedding", "_qv"), 4).alias(
                "cosine"
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    old = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )
    new = cosine_topk_batch(e, queries, k=3)
    key = lambda r: (r["query_id"], r["neighbor_id"])  # noqa: E731
    o = {key(r): r["cosine"] for r in old.collect()}
    n = {key(r): r["cosine"] for r in new.collect()}
    assert o == n  # exact float equality — same IEEE ops


def test_prefix_scored_matches_inline_cosines(spark):
    # _prefix_scored's bound norms/slices must reproduce the inline
    # two-cosine form exactly (bit-equal doubles)
    from us_accidents_bigdata_pipeline_spark.functions import (
        cosine_similarity,
    )
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        _prefix_scored,
    )

    e0 = _emb_frame(spark).filter(F.col("vec_id") != 3)
    dvec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = e0.select(F.col("vec_id"), dvec.alias("_v"))
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("_v").alias("_qv")
    )
    old = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_similarity("_v", "_qv"), 4).alias("cos_full"),
            F.round(
                cosine_similarity(
                    F.slice("_v", 1, 2), F.slice("_qv", 1, 2)
                ),
                4,
            ).alias("cos_prefix"),
        )
    )
    new = _prefix_scored(e0, 2, 2, "vec_id", "embedding")
    key = lambda r: (r["query_id"], r["neighbor_id"])  # noqa: E731
    o = {key(r): (r["cos_full"], r["cos_prefix"]) for r in old.collect()}
    n = {key(r): (r["cos_full"], r["cos_prefix"]) for r in new.collect()}
    assert o == n


def test_truncated_overlap_filter_form_matches_join_form(spark):
    # "in both top-k sets" as rf<=k AND rp<=k must equal the former
    # top_full ⋈ top_prefix intersection (each (query, neighbor) row is
    # unique in the ranked frame, so the join was a row-local filter)
    from pyspark.sql import Window as W

    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        _prefix_scored,
        truncated_topk_overlap,
    )

    e = _emb_frame(spark).filter(F.col("vec_id") != 3)
    k, nq, p = 3, 2, 2
    scored = _prefix_scored(e, nq, p, "vec_id", "embedding")
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
    top_full = ranked.filter(F.col("rf") <= k).select(
        "query_id", "neighbor_id"
    )
    top_prefix = ranked.filter(F.col("rp") <= k).select(
        "query_id", "neighbor_id"
    )
    joined = (
        top_full.join(top_prefix, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    old = {r["query_id"]: r["n_overlap"] for r in joined.collect()}
    got = {
        r["query_id"]: r["n_overlap"]
        for r in truncated_topk_overlap(
            e, n_queries=nq, k=k, prefix_dims=p
        ).collect()
    }
    assert got == {q: old.get(q, 0) for q in got}
    assert set(got) == {0, 1}


def test_truncated_overlap_plan_has_no_self_join_rederivation(spark):
    # the former join form derived the scored+window subtree TWICE;
    # the filter form derives it once: exactly 2 Window nodes and no
    # join above them
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        truncated_topk_overlap,
    )

    e = _emb_frame(spark)
    plan = (
        truncated_topk_overlap(e, n_queries=2, k=3, prefix_dims=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exactly the two rank windows (the former join form had four);
    # "Window [" excludes WindowGroupLimit pushdown nodes
    assert plan.count("Window [") == 2, plan


def test_label_centroid_distances_matches_inline_form(spark):
    # bound _dv/_cos/centroid-norm must reproduce the inline duplicated
    # cosine expression exactly
    from us_accidents_bigdata_pipeline_spark.functions import (
        cosine_similarity,
    )
    from us_accidents_bigdata_pipeline_spark.operators.similarity import (
        label_centroid_distances,
    )

    rows = [
        (0, [1.0, 2.0], "a"),
        (1, [2.0, 1.0], "a"),
        (2, [-1.0, -2.0], "b"),
        (3, [1.5, -0.5], "b"),
        (4, [0.5, 0.25], "a"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    dvec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    exploded = df.select(F.col("label"), F.posexplode(dvec).alias("dim", "x"))
    centroids = (
        exploded.groupBy("label", "dim")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("_cv")
        )
    )
    cos = F.round(cosine_similarity(dvec, F.col("_cv")), 4)
    old = {
        r["vec_id"]: (r["cos_centroid"], r["is_outlier"])
        for r in df.join(F.broadcast(centroids), "label")
        .select(
            F.col("vec_id"),
            cos.alias("cos_centroid"),
            (cos < F.lit(0.0)).alias("is_outlier"),
        )
        .collect()
    }
    new = {
        r["vec_id"]: (r["cos_centroid"], r["is_outlier"])
        for r in label_centroid_distances(df).collect()
    }
    assert new == old


def test_session_overlap_sessionize_subtree_shared(spark, tmp_path):
    # both sides of the overlap self-join read the ONE checkpointed
    # session frame — the events scan + sessionize windows run once
    from us_accidents_bigdata_pipeline_spark.plans import REGISTRY

    sf_dir = "/root/testdata/sf0.001"
    df = REGISTRY["session_overlap_pairs"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")


def test_substring_grams_subtree_shared(spark):
    # both sides of the positional-gram self-join read the ONE
    # checkpointed gram frame — tokenize + posexplode run once
    from us_accidents_bigdata_pipeline_spark.operators.dedup import (
        shared_substring_runs,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l"),
            (2, "a b c d e f g h i j x y"),
            (3, None),
        ],
        "doc_id int, text string",
    )
    frame = shared_substring_runs(docs, k=3, min_run=4)
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "Generate" not in plan, "posexplode must be checkpointed away"
