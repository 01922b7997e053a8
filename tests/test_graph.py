"""Graph operator unit tests: BFS semantics on a hand-built graph and
the frontier storage-hygiene guarantee (no CacheManager residue after a
call)."""

from __future__ import annotations

from us_accidents_bigdata_pipeline_spark.operators.graph import bfs_hops


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )


def test_bfs_hops_min_distance(spark):
    """hops must be the MINIMUM edge count: node 4 is reachable in 2
    hops via 1→2→4 even though a 3-hop path 1→3→5→4 also exists; a
    node first seen at hop h must not reappear at h+1."""
    e = _edges(
        spark,
        [(1, 2), (1, 3), (2, 4), (3, 5), (5, 4), (4, 6), (6, 7), (8, 9)],
    )
    got = {r.node: r.hops for r in bfs_hops(e, seed=1, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 2, 6: 3}


def test_bfs_hops_early_stop_on_empty_frontier(spark):
    """A graph exhausted before max_hops terminates cleanly and emits
    nothing past the last non-empty frontier."""
    e = _edges(spark, [(1, 2), (2, 3)])
    got = {r.node: r.hops for r in bfs_hops(e, seed=1, max_hops=10).collect()}
    assert got == {1: 0, 2: 1, 3: 2}


def test_bfs_hops_leaves_no_cached_frontiers(spark):
    """Every per-round frontier persist must be released before the
    function returns: a DataFrame persist lives in the CacheManager
    and is never garbage-collected, so residue would accumulate
    executor storage across calls in a long-lived session. The only
    storage the call may add is the single eager localCheckpoint
    backing the returned frame (RDD-level, ContextCleaner-managed)."""
    jsc = spark.sparkContext._jsc.sc()
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)])
    before = jsc.getPersistentRDDs().size()
    result = bfs_hops(e, seed=1, max_hops=4)
    assert result.count() == 5
    after = jsc.getPersistentRDDs().size()
    # 4 rounds ran; the leak would leave 4 cached frontiers behind.
    assert after - before <= 1, (
        f"{after - before} storage entries left behind by bfs_hops "
        f"(expected at most the result's own localCheckpoint)"
    )


def test_pagerank_mass_matches_python_integer_reference(spark):
    """pagerank_mass replays exactly as plain-Python integer math —
    including the dangling-node term (node 4 has no out-edges), which
    the registered copurchase query never exercises."""
    edges = [(1, 2), (2, 1), (2, 3), (3, 4), (1, 4)]
    from us_accidents_bigdata_pipeline_spark.operators.graph import (
        pagerank_mass,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["mass"]
        for r in pagerank_mass(df, n_iter=3, scale=10**6).collect()
    }

    # plain-Python replay of the documented integer recurrence
    scale = 10**6
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    mass = {v: scale for v in nodes}
    for _ in range(3):
        recv = {v: 0 for v in nodes}
        for s, d in edges:
            recv[d] += mass[s] // out[s]
        dang = sum(m for v, m in mass.items() if v not in out)
        share = dang // n
        mass = {
            v: (15 * scale + 85 * (recv[v] + share)) // 100
            for v in nodes
        }
    assert got == mass


def test_pagerank_mass_layout_independent(spark):
    """Integer mass must be bit-identical under any partitioning."""
    from us_accidents_bigdata_pipeline_spark.operators.graph import (
        copurchase_edges,
        pagerank_mass,
    )
    from .conftest import SF_ORACLE

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").filter(
        "l_orderkey < 500"
    )
    e = copurchase_edges(li)
    a = {
        (r["node"], r["mass"])
        for r in pagerank_mass(e, n_iter=3).collect()
    }
    b = {
        (r["node"], r["mass"])
        for r in pagerank_mass(e.repartition(13, "dst"), n_iter=3).collect()
    }
    assert a == b and a


def test_clustering_coef_hub_cap_removes_hub_self_consistently(spark):
    """Scale-free fixture: one hub wired to 30 leaves plus a separate
    triangle. With max_degree=10 the hub (degree 30) is removed from
    the subgraph BEFORE the wedge join; its leaves drop to degree 0
    (excluded by deg >= 2) and the triangle's coefficients are
    computed on the hub-free graph — self-consistent degrees, not
    raw-graph degrees."""
    from us_accidents_bigdata_pipeline_spark.operators.graph import (
        local_clustering_coefficient,
    )

    hub_edges = [(1000, i) for i in range(1, 31)]
    # leaf 1 and 2 are ALSO joined to each other and to node 50:
    # after hub removal they form a triangle (1, 2, 50)
    tri = [(1, 2), (2, 50), (1, 50)]
    e = _edges(spark, hub_edges + tri)
    rows = {
        r.node: r
        for r in local_clustering_coefficient(e, max_degree=10).collect()
    }
    assert 1000 not in rows  # hub removed
    assert set(rows) == {1, 2, 50}
    for n in (1, 2, 50):
        # degree recomputed on the capped graph: 2, not 3 (node 1/2
        # had a hub edge in the raw graph)
        assert rows[n].degree == 2
        assert rows[n].triangles == 1
        assert rows[n].clustering_coef == 1.0


def test_clustering_coef_uncapped_matches_capped_below_cap(spark):
    """A cap larger than the max degree must be a no-op: identical
    output with and without max_degree."""
    from us_accidents_bigdata_pipeline_spark.operators.graph import (
        local_clustering_coefficient,
    )

    e = _edges(
        spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5), (5, 6)]
    )
    a = sorted(map(tuple, local_clustering_coefficient(e).collect()))
    b = sorted(
        map(
            tuple,
            local_clustering_coefficient(e, max_degree=100).collect(),
        )
    )
    assert a == b
