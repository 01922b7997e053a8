"""Iterative graph analytics on DataFrames: PageRank.

Companion to the pointer-jumping connected components in
``operators/dedup.py`` (near-dup resolution): same execution discipline
— key-partitioned joins per round, ``localCheckpoint`` lineage
truncation — applied to a numeric fixed-point iteration instead of a
label fixed-point.

Scale shape per iteration: one join of the edge list against the rank
frame (both partitioned by the source key — co-partitioned after the
first shuffle), one groupBy on the destination key with map-side
partial sums, plus two driver-tiny aggregates (dangling mass, total
nodes). Nothing driver-side grows with the graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# fixed-point PageRank: a rank is a BIGINT count of 1/_UNITS, the
# damping 0.85 is the exact rational _DAMPING_PCT/100, and a
# dangling-free iteration truncates its lineage every _CHECKPOINT_EVERY
# rounds
_UNITS = 10**12
_DAMPING_PCT = 85
_CHECKPOINT_EVERY = 8


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 10,
) -> DataFrame:
    """PageRank over a directed edge list in FIXED-POINT units; returns
    (node, rank_units, rank) with ranks summing to 1.0 within the
    floor-division drift below. Dangling-node mass is redistributed
    uniformly each iteration (the standard stochastic-matrix fix), so
    ``rank`` tracks the textbook power iteration — tests pin it against
    a NumPy reference, and ``rank_units`` against a Python integer
    replay.

    Every rank is a BIGINT count of 1/10^12 units and every step is
    integer arithmetic — init ``U div n``, spread ``units div out_deg``
    per edge, damp ``(85 · inflow) div 100`` with the uniform base
    ``(15 · U) div (100·n)`` — so the whole iteration is
    BIT-DETERMINISTIC: independent of shuffle/reduction order, of
    executor count, and of engine (any SQL engine's integer ``div``
    replays it exactly, which is what makes the fixed point
    value-oracle-able). That reproducibility is the production
    property: float PageRank sums contributions in shuffle order, so
    two runs of the same job on a 1000-executor cluster differ in
    final ulps — fixed-point runs are byte-identical. The floor
    divisions shave ≤1 unit each, so total mass drifts below 1.0 by
    ~n·iter units of 1/U — ~1e-9·n absolute, far below any
    ranking-relevant gap. ``rank`` is the derived double (= units/U,
    one IEEE division).

    Scale shape per iteration: one key-partitioned edge⋈rank join and
    one groupBy on the destination key with map-side partial sums.
    Dangling nodes are a ONE-TIME structural property, detected once:
    dangling-free graphs (e.g. symmetric co-purchase edges) run the
    whole iteration as one lazy plan with a periodic
    ``localCheckpoint`` to bound plan depth; graphs WITH dangling nodes
    need one tiny scalar aggregate per round (the respread mass depends
    on the current ranks)."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ed = e.join(out_deg, "src").persist()
    ed.count()
    base_units = ((100 - _DAMPING_PCT) * _UNITS) // (100 * n)
    ranks = nodes.select(
        "node", F.lit(_UNITS // n).cast("long").alias("rank_units")
    )
    has_dangling = (
        nodes.join(out_deg, nodes.node == out_deg.src, "left_anti")
        .limit(1)
        .count()
        > 0
    )
    try:
        for it in range(n_iter):
            if has_dangling:
                ranks = ranks.localCheckpoint(eager=True)
                dangling = (
                    ranks.join(
                        out_deg, ranks.node == out_deg.src, "left_anti"
                    )
                    .agg(F.sum("rank_units"))
                    .first()[0]
                    or 0
                )
                base_it = base_units + (_DAMPING_PCT * int(dangling)) // (
                    100 * n
                )
            else:
                base_it = base_units
            contribs = (
                ed.join(ranks, ed.src == ranks.node)
                .select(
                    "dst", F.expr("rank_units div out_deg").alias("c")
                )
                .groupBy("dst")
                .agg(F.sum("c").alias("contrib"))
            )
            new_ranks = nodes.join(
                contribs, nodes.node == contribs.dst, "left"
            ).select(
                "node",
                (
                    F.lit(base_it).cast("long")
                    + F.expr(
                        f"({_DAMPING_PCT} * coalesce(contrib, 0L)) div 100"
                    )
                ).alias("rank_units"),
            )
            if not has_dangling and (it + 1) % _CHECKPOINT_EVERY == 0:
                new_ranks = new_ranks.localCheckpoint(eager=True)
            ranks = new_ranks
        return ranks.select(
            "node",
            "rank_units",
            (
                F.col("rank_units").cast("double") / F.lit(float(_UNITS))
            ).alias("rank"),
        )
    finally:
        nodes.unpersist()
        ed.unpersist()


def pagerank_mass(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 3,
    scale: int = 10**12,
) -> DataFrame:
    """Bounded power iteration in EXACT INTEGER mass — the
    un-normalized tier of the PageRank surface: ``pagerank`` above
    iterates a rank distribution summing to 1, this one tracks
    ``scale`` units of mass per node.

    Every node starts with ``scale`` units of mass; each iteration
    sends ``mass div out_deg`` along every out-edge (integer floor —
    identical in Spark ``div`` and DuckDB ``//``) and re-bases with
    damping 0.85 kept as the exact rational 85/100:

        M'(v) = (15*scale + 85*(recv(v) + dangling div n)) div 100

    All-integer arithmetic makes the result BIT-IDENTICAL across
    engines, partition layouts, and summation orders — a chained-CTE
    SQL oracle replays the whole iteration exactly. The floor-division
    mass loss (< out_deg units per node per hop, ~1e-12 relative at the
    default scale) is deterministic and shared by both engines.

    Scale shape per iteration: identical to ``pagerank`` — one
    edge⋈rank join partitioned by the source key, one groupBy(dst) with
    map-side partial sums (LongType — no overflow until
    n_nodes·scale·85 approaches 2^63; ~10^5 nodes at the default
    scale, raise/lower ``scale`` for bigger graphs). Bounded n_iter is
    the point: this is the "3 hops of influence" diagnostic a curation
    pipeline wants, not the converged fixed point.
    """
    from .dedup import _shared

    # r12 optimization: the previous persist()+unpersist-in-finally
    # released the node/edge caches BEFORE the returned lazy frame ever
    # executed, so every iteration level of the final plan re-derived
    # the full edge subtree from the source scans (56 parquet scans in
    # pagerank_mass_bounded's baseline plan). Lazy localCheckpoints
    # survive with the returned frame (ContextCleaner frees the blocks
    # on GC) — the edge derivation now runs once.
    e = _shared(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    )
    nodes = _shared(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    out_deg = _shared(
        e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    )
    ew = _shared(e.join(out_deg, "src"))
    has_dangling = (
        nodes.join(out_deg, nodes.node == out_deg.src, "left_anti")
        .limit(1)
        .count()
        > 0
    )
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("mass"))
    for _ in range(n_iter):
        recv = (
            ew.join(ranks, ew.src == ranks.node)
            .select(
                "dst",
                F.expr("mass div out_deg").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("recv"))
        )
        dang_share = 0
        if has_dangling:
            ranks = ranks.localCheckpoint(eager=True)
            dang = (
                ranks.join(
                    out_deg, ranks.node == out_deg.src, "left_anti"
                )
                .agg(F.sum("mass"))
                .first()[0]
                or 0
            )
            dang_share = int(dang) // n
        ranks = nodes.join(
            recv, nodes.node == recv.dst, "left"
        ).select(
            "node",
            F.expr(
                f"(15 * CAST({scale} AS BIGINT) + 85 * "
                f"(coalesce(recv, 0L) + {dang_share})) div 100"
            ).alias("mass"),
        )
    return ranks


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Undirected co-purchase edge list from lineitem: parts appearing
    in the same order, both directions (symmetric graph → no dangling
    nodes). One self-equi-join on the order key."""
    a = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src")
    )
    b = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst")
    )
    return (
        a.join(b, "ok")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def bfs_hops(
    edges: DataFrame,
    seed: int,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Bounded-depth BFS distance from one seed node: (node, hops)
    for every node reachable within ``max_hops``, hops = the MINIMUM
    edge count (true BFS distance — each node enters the frontier the
    first time it is seen and is anti-joined away afterwards).

    Fixed-depth iterative expansion: ``max_hops`` rounds of
    frontier-join-edges → dedup → anti-join known. Deterministic (no
    floating point, no sampling), so a recursive-CTE SQL oracle can
    replay it exactly. Scale shape: each round is one equi-join keyed
    by the node id plus a distinct — the frontier is usually far
    smaller than the graph and broadcastable in early hops; for
    all-pairs needs use ``connected_components``'s pointer-jumping
    instead (O(log n) rounds, no per-seed work).

    Storage hygiene: each round's frontier is persisted only for the
    duration of the expansion. Before returning, the result is
    consolidated with an eager ``localCheckpoint`` (reads straight
    from the still-cached frontiers, truncates the h-deep join
    lineage) and every intermediate frontier is unpersisted — a
    DataFrame ``persist`` lives in the CacheManager and is NEVER
    garbage-collected, so leaving them cached would accumulate
    executor storage across calls in a long-lived session. The
    checkpoint's own blocks are RDD-level and the ContextCleaner
    frees them once the returned frame is unreferenced."""
    spark = edges.sparkSession
    known = spark.createDataFrame([(seed, 0)], "node long, hops int")
    frontier = known.select(F.col("node").alias("_f"))
    frontiers: list[DataFrame] = []
    try:
        for h in range(1, max_hops + 1):
            # rename every side before joining: frontier descends from
            # known which descends from edges in later rounds — shared
            # expression ids would otherwise make the self-join ambiguous
            nxt = (
                frontier.join(
                    edges.select(
                        F.col(src_col).alias("_f"),
                        F.col(dst_col).alias("node"),
                    ),
                    "_f",
                )
                .select("node")
                .distinct()
                .join(known.select("node"), "node", "left_anti")
                .select("node", F.lit(h).alias("hops"))
                .persist()
            )
            frontiers.append(nxt)
            if nxt.limit(1).count() == 0:
                break
            known = known.unionByName(nxt)
            frontier = nxt.select(F.col("node").alias("_f"))
        return known.localCheckpoint(eager=True)
    finally:
        for f in frontiers:
            f.unpersist(blocking=True)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected edge list (src, dst)
    via DEGREE ORIENTATION — the shape that survives scale-free
    graphs:

    a naive 3-way self-join on undirected edges enumerates every
    triangle 6× and, worse, joins THROUGH the hub vertices (a degree-d
    node contributes d² wedge rows — d=10⁶ at web scale means 10¹²
    rows through one key). Orienting each edge from its lower-degree
    endpoint to its higher-degree endpoint (ties by id) makes the
    graph a DAG where every vertex's OUT-degree is O(√|E|)
    [Chiba–Nishizeki], so the wedge join's per-key fanout is bounded
    regardless of hub degree, and each triangle is counted exactly
    once (its unique cyclic orientation breaks).

    Plan: degree agg (one shuffle) → broadcast degrees onto edges →
    orient+dedupe → wedge self-join on the midpoint → closing-edge
    semi-ish join. All equi-joins on vertex keys.
    """
    from .dedup import _shared

    # r12: und feeds sym (twice, via the symmetric union), the degree
    # aggregate AND the orientation join; oriented feeds all three
    # wedge/closing branches. Without sharing, every branch re-derives
    # the whole edge subtree from the source — 30 lineitem scans in
    # q_triangle_count_copurchase's baseline plan (the edge list there
    # is itself an order-key self-join + distinct). Two slim lazy
    # localCheckpoints compute each exactly once.
    und = _shared(
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        ).distinct()
    )
    sym = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))

    du = deg.select(F.col("u").alias("_a"), F.col("deg").alias("_da"))
    dv = deg.select(F.col("u").alias("_b"), F.col("deg").alias("_db"))
    oriented = (
        und.join(du, und.u == F.col("_a"))
        .join(dv, und.v == F.col("_b"))
        .select(
            F.when(
                (F.col("_da") < F.col("_db"))
                | ((F.col("_da") == F.col("_db")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("d")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("d")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.d").alias("d"))
    )
    oriented = _shared(oriented)
    # r12 (guide §2.3/§3): the former wedge-enumeration shape
    # materialized and SHUFFLED every wedge into the closing join —
    # 49M 3-int rows at sf0.1 (20.6 s of the query's 54 s) for 1.9M
    # triangles. The adjacency-intersection form counts the same
    # triangles without ever materializing wedges: per oriented edge
    # (u, v), |N⁺(u) ∩ N⁺(v)| — every triangle has a unique
    # topological order a→b→c in the DAG and is counted exactly once,
    # at edge (a, b). Shuffled bytes drop from wedge-count scale
    # (Σ d⁺²) to edge-list scale (the adjacency arrays carry each
    # edge id once). The O(√|E|) out-degree bound now caps the ARRAY
    # sizes instead of the wedge fanout.
    adj = _shared(
        oriented.groupBy("s").agg(F.collect_set("d").alias("_nbrs"))
    )
    a1 = adj.select(F.col("s").alias("_s1"), F.col("_nbrs").alias("_n1"))
    a2 = adj.select(F.col("s").alias("_s2"), F.col("_nbrs").alias("_n2"))
    per_edge = (
        oriented.join(a1, F.col("s") == F.col("_s1"))
        .join(a2, F.col("d") == F.col("_s2"), "left")
        .select(
            F.when(F.col("_n2").isNull(), F.lit(0))
            .otherwise(F.size(F.array_intersect("_n1", "_n2")))
            .alias("_c")
        )
    )
    return per_edge.agg(
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_triangles")
    )


def common_neighbors_link_prediction(
    edges: DataFrame,
    top_k: int = 20,
    max_degree: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Link prediction by common-neighbor count (+ Jaccard of
    neighborhoods) over an undirected graph: the top ``top_k``
    NON-ADJACENT node pairs ranked by how many neighbors they share —
    the classic 'customers who bought X also bought Y' candidate
    generator, and the baseline every fancier link predictor must
    beat.

    Ranking is (common DESC, u, v) — pure integers, engine-exact cut;
    Jaccard = common/(deg_u + deg_v − common) is emitted rounded.

    Scale shape: the wedge join through a node fans out degree² rows —
    on scale-free graphs one hub degenerates the join exactly like a
    hot shingle in ngram_jaccard_pairs. ``max_degree`` is the same
    guard: nodes above the cap are dropped from the adjacency BEFORE
    the wedge join (hubs are near-useless evidence for link prediction
    anyway — they co-occur with everything), bounding any node's
    contribution to cap². Degrees and Jaccard are then computed on the
    capped graph, self-consistently. The candidate anti-join against
    the edge set and the degree lookups are all key-partitioned
    hash joins.
    """
    from .dedup import _shared

    # r12: und feeds the symmetric adjacency (twice) and the
    # non-adjacency anti-join; adj feeds the hub filter, the degree
    # aggregate and both wedge branches — 18 source scans in
    # q_link_prediction_copurchase's baseline plan. Share both slim
    # frames once.
    und = _shared(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = und.select(F.col("u").alias("n"), F.col("v").alias("nbr")).unionByName(
        und.select(F.col("v").alias("n"), F.col("u").alias("nbr"))
    )
    if max_degree is not None:
        hubs = (
            adj.groupBy("n")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") > max_degree)
            .select("n")
        )
        adj = adj.join(F.broadcast(hubs), "n", "left_anti").join(
            F.broadcast(hubs.select(F.col("n").alias("nbr"))),
            "nbr",
            "left_anti",
        )
    adj = _shared(adj)
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    a = adj.select(F.col("n").alias("_mid"), F.col("nbr").alias("x"))
    b = adj.select(F.col("n").alias("_mid"), F.col("nbr").alias("y"))
    cand = (
        a.join(b, "_mid")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("common"))
        .join(
            und.select(
                F.col("u").alias("x"), F.col("v").alias("y")
            ),
            ["x", "y"],
            "left_anti",
        )
    )
    dx = deg.select(F.col("n").alias("x"), F.col("deg").alias("deg_x"))
    dy = deg.select(F.col("n").alias("y"), F.col("deg").alias("deg_y"))
    return (
        cand.join(dx, "x")
        .join(dy, "y")
        .orderBy(F.col("common").desc(), "x", "y")
        .limit(top_k)
        .select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            "common",
            F.round(
                F.col("common")
                / (F.col("deg_x") + F.col("deg_y") - F.col("common")),
                4,
            ).alias("jaccard"),
        )
    )


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the edge list — positive on
    social-like graphs (hubs link hubs), negative on dependency/
    co-purchase graphs (hubs link leaves). One row:
    (n_nodes, n_edges, assortativity).

    Both edge directions contribute (the undirected convention), so
    the correlation is symmetric by construction. Degrees come from
    one group-by; the edge stream joins degree twice on its endpoint
    keys (both broadcastable — the degree table is |V| slim rows);
    corr is a single-pass aggregate. No window, no driver loop.
    """
    from .dedup import _shared

    # r12: und feeds both directions of the symmetric union; the
    # symmetric edge stream feeds the degree aggregate AND the
    # degree-annotation join — 12 source scans in
    # q_assortativity_copurchase's baseline plan. Share both.
    und = _shared(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    both = _shared(
        und.unionByName(
            und.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(
        F.col("u").alias("v"), F.col("deg").alias("deg_v")
    )
    j = both.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    return j.agg(
        (F.count_distinct(F.col("u"))).alias("n_nodes"),
        (F.count(F.lit(1)) / F.lit(2)).cast("long").alias("n_edges"),
        F.round(
            F.corr(
                F.col("deg_u").cast("double"),
                F.col("deg_v").cast("double"),
            ),
            4,
        ).alias("assortativity"),
    )


def local_clustering_coefficient(
    edges: DataFrame,
    top_k: int = 20,
    max_degree: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Local clustering coefficient per node — cc(v) = 2·tri(v) /
    (deg(v)·(deg(v)−1)): how close each node's neighborhood is to a
    clique, the community-structure readout per vertex. Returns the
    ``top_k`` nodes with deg ≥ 2 by (cc DESC, node).

    tri(v) counts adjacent neighbor PAIRS: the wedge join through v
    (x < y to count each pair once) semi-joined against the edge set.
    All integer arithmetic until the final division (one IEEE op of
    exact ints — engine-exact cut, no rounding needed for the
    ranking; cc is emitted rounded).

    Scale shape: wedge fanout is degree² — on a scale-free graph one
    hub degenerates the join. ``max_degree`` is the same guard
    ``common_neighbors_link_prediction`` carries: nodes whose degree
    exceeds the cap are removed from the graph BEFORE the wedge join
    (their own cc is meaningless at that fanout, and a hub's clique-
    ness is ~0 by construction), and degrees/triangles are recomputed
    on the hub-free subgraph, self-consistently. The hub list is a
    tiny aggregate, broadcast into the anti-joins.
    """
    from .dedup import _shared

    # r12 optimization: und feeds the hub census (2 branches), the hub
    # anti-joins, the adjacency union (2 branches), and the triangle
    # semi-join — without sharing, each consumer re-derived the full
    # edge self-join from the source scans (140 parquet scans in
    # clustering_coef_copurchase's baseline plan). One lazy
    # localCheckpoint per graph stage collapses that to a single
    # derivation.
    und = _shared(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if max_degree is not None:
        full_adj = und.select(F.col("u").alias("n")).unionByName(
            und.select(F.col("v").alias("n"))
        )
        hubs = (
            full_adj.groupBy("n")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") > max_degree)
            .select("n")
        )
        und = _shared(
            und.join(
                F.broadcast(hubs.select(F.col("n").alias("u"))),
                "u",
                "left_anti",
            ).join(
                F.broadcast(hubs.select(F.col("n").alias("v"))),
                "v",
                "left_anti",
            )
        )
    adj = und.select(
        F.col("u").alias("n"), F.col("v").alias("nbr")
    ).unionByName(und.select(F.col("v").alias("n"), F.col("u").alias("nbr")))
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    a = adj.select("n", F.col("nbr").alias("x"))
    b = adj.select("n", F.col("nbr").alias("y"))
    tri = (
        a.join(b, "n")
        .filter(F.col("x") < F.col("y"))
        .join(
            und.select(F.col("u").alias("x"), F.col("v").alias("y")),
            ["x", "y"],
            "left_semi",
        )
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    cc = F.lit(2.0) * F.col("tri") / (
        F.col("deg") * (F.col("deg") - 1)
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "n", "left")
        .withColumn("tri", F.coalesce("tri", F.lit(0)))
        .withColumn("_cc", cc)
        .orderBy(F.col("_cc").desc(), "n")
        .limit(top_k)
        .select(
            F.col("n").alias("node"),
            F.col("deg").cast("long").alias("degree"),
            F.col("tri").cast("long").alias("triangles"),
            F.round("_cc", 4).alias("clustering_coef"),
        )
    )


def degree_powerlaw_fit(
    edges: DataFrame,
    d_min: int = 5,
) -> DataFrame:
    """Hill / power-law tail fit of the degree distribution: the
    continuous-MLE estimator α̂ = 1 + n_tail / Σ_{d ≥ d_min} ln(d /
    d_min) over nodes with degree ≥ ``d_min`` (Clauset–Shalizi–Newman
    2009's α̂ with a FIXED, caller-chosen x_min — the discrete
    correction is within the readout's purpose here, which is skew
    triage: α near 2 means extreme hubs, α > 3 a thin tail). Pairs
    with ``copurchase_degree_histogram`` (the raw histogram) and
    decides whether graph ops need the hub caps
    (``max_degree`` guards in link prediction / clustering
    coefficient).

    Exactness: degrees and the tail count are exact integers; the ln
    sum is ≤ n_tail doubles (zipf float class, round 4).

    Scale shape: two hash aggregates over the slim symmetric edge
    list (per-node degree, then two 1-row reductions) — no window, no
    join beyond the broadcast of two 1-row frames.

    Output: 1 row — (n_nodes, max_degree, d_min, n_tail,
    tail_fraction, alpha).
    """
    from .dedup import _shared

    # r12: deg feeds the total and tail reductions — share the slim
    # per-node degree frame instead of re-deriving the edge subtree
    # (4 source scans in q_degree_powerlaw_fit_copurchase's baseline).
    deg = _shared(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
    )
    tot = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.max("_d").cast("long").alias("max_degree"),
    )
    tail = deg.filter(F.col("_d") >= int(d_min)).agg(
        F.count(F.lit(1)).cast("long").alias("n_tail"),
        F.coalesce(
            F.sum(F.log(F.col("_d").cast("double") / float(d_min))),
            F.lit(0.0),
        ).alias("_sln"),
    )
    alpha = F.when(
        F.col("_sln") > 0.0,
        F.lit(1.0) + F.col("n_tail") / F.col("_sln"),
    )
    return tot.crossJoin(F.broadcast(tail)).select(
        "n_nodes",
        "max_degree",
        F.lit(int(d_min)).alias("d_min"),
        "n_tail",
        F.round(
            F.col("n_tail") / F.col("n_nodes").cast("double"), 6
        ).alias("tail_fraction"),
        F.round(alpha, 4).alias("alpha"),
    )
