"""Sketch contracts: HLL accuracy + exact mergeability, CMS one-sided
error. Estimates are engine-specific so the catalog entries are
rows-only; THESE tests are the correctness evidence."""

from __future__ import annotations

from pyspark.sql import functions as F

from us_accidents_bigdata_pipeline_spark.operators.sketches import (
    count_min_totals,
    hll_distinct_by,
    hll_group_sketches,
    hll_rollup,
)

from .conftest import SF_ORACLE


def test_hll_estimates_within_tolerance(spark):
    """Per-nation distinct customers: HLL estimate within 5% of exact
    (lg_k=14 → ~1.6% RSE; 5% is > 3 sigma)."""
    c = spark.read.parquet(f"{SF_ORACLE}/customer.parquet")
    est = {
        r.c_nationkey: r.est_distinct
        for r in hll_distinct_by(c, ["c_nationkey"], "c_custkey").collect()
    }
    exact = {
        r.c_nationkey: r.n
        for r in c.groupBy("c_nationkey")
        .agg(F.countDistinct("c_custkey").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for k, e in exact.items():
        assert abs(est[k] - e) <= max(2, 0.05 * e), (k, est[k], e)


def test_hll_union_equals_direct_sketch(spark):
    """The rollup contract: merging nation-level sketches up to the
    region level gives the IDENTICAL estimate as building region-level
    sketches from scratch — HLL union is register-wise max, exact over
    sketches. This is what makes sketch summary tables composable
    without rescans."""
    c = spark.read.parquet(f"{SF_ORACLE}/customer.parquet")
    n = spark.read.parquet(f"{SF_ORACLE}/nation.parquet")
    cn = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).select("c_custkey", "c_nationkey", "n_regionkey")

    fine = hll_group_sketches(cn, ["n_regionkey", "c_nationkey"], "c_custkey")
    rolled = {
        r.n_regionkey: r.est_distinct
        for r in hll_rollup(fine, ["n_regionkey"]).collect()
    }
    direct = {
        r.n_regionkey: r.est_distinct
        for r in hll_distinct_by(cn, ["n_regionkey"], "c_custkey").collect()
    }
    assert rolled == direct


def test_hll_estimate_is_layout_independent(spark):
    """Same value set, different partitioning → same estimate (HLL
    registers depend only on the hashed value SET)."""
    c = spark.read.parquet(f"{SF_ORACLE}/customer.parquet")
    a = hll_distinct_by(c, ["c_nationkey"], "c_custkey").collect()
    b = hll_distinct_by(c.repartition(13), ["c_nationkey"], "c_custkey").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_count_min_one_sided_error(spark):
    """CMS estimates never undercount, and overshoot is bounded by
    eps·N (deterministically checked against the probabilistic bound
    with a wide margin at this scale)."""
    e = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    n_total = sum(exact.values())
    est = count_min_totals(
        e, "event_type", list(exact), eps=0.001, confidence=0.99
    )
    for k, true_n in exact.items():
        assert est[k] >= true_n, (k, est[k], true_n)
        assert est[k] <= true_n + 0.01 * n_total, (k, est[k], true_n)


def test_bitmap_distinct_exact_and_rollup(spark):
    """Bitmap tier is EXACT (≡ countDistinct) and its OR-merge rollup
    neither loses nor double-counts keys that appear under several
    fine groups — the failure mode summing per-group counts would hit."""
    from us_accidents_bigdata_pipeline_spark.operators.sketches import (
        bitmap_distinct_by,
        bitmap_rollup_distinct,
    )

    e = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    got = {
        r.event_type: r.n_distinct
        for r in bitmap_distinct_by(e, ["event_type"], "user_id").collect()
    }
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == exact

    # rollup: (event_type → global) distinct users; users appear under
    # many event_types, so a count-sum would massively overcount
    [rolled] = bitmap_rollup_distinct(
        e, ["event_type"], [], "user_id"
    ).collect()
    assert rolled.n_distinct == e.select("user_id").distinct().count()


def test_exact_heavy_hitters_matches_exact_groupby(spark):
    from us_accidents_bigdata_pipeline_spark.operators.sketches import (
        exact_heavy_hitters,
    )

    # 5 heavy keys at 5% each amid ~15k unique-tail keys, scattered
    # across an adversarial partitioning (hash repartition spreads
    # every heavy key thin across all 16 partitions, so no single
    # partition sees a heavy key's full count).
    df = (
        spark.range(0, 20000)
        .withColumn("key", F.expr("if(id % 4 = 0, id % 5, id)"))
        .repartition(16)
    )
    phi = 0.02
    got = {
        (r["key"], r["freq"])
        for r in exact_heavy_hitters(df, "key", phi=phi).collect()
    }
    import math

    thr = int(math.ceil(phi * 20000))
    expected = {
        (r["key"], r["n"])
        for r in df.groupBy("key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= thr)
        .collect()
    }
    assert got == expected
    assert expected, "fixture must produce at least one heavy hitter"


def test_exact_heavy_hitters_null_keys_excluded_from_population(spark):
    """NULL convention pinned: NULL keys neither surface
    as a group nor inflate the threshold denominator — the operator
    answers "heavy hitters among non-null keys". With 50% NULL rows,
    key 7 appears 455 times = 9.1% of the 5000 non-null rows (heavy at
    phi=0.06, threshold 300) but only 4.6% of the total table —
    counting NULLs in N (threshold 600) would wrongly drop it."""
    import math

    from us_accidents_bigdata_pipeline_spark.operators.sketches import (
        exact_heavy_hitters,
    )

    df = (
        spark.range(0, 10000)
        .withColumn(
            "key",
            F.when(F.col("id") % 2 == 0, F.lit(None)).otherwise(
                F.expr("if(id % 22 = 1, 7, id)")
            ),
        )
        .repartition(8)
    )
    got = {
        (r["key"], r["freq"])
        for r in exact_heavy_hitters(df, "key", phi=0.06).collect()
    }
    n_nonnull = df.filter(F.col("key").isNotNull()).count()
    thr = int(math.ceil(0.06 * n_nonnull))
    expected = {
        (r["key"], r["n"])
        for r in df.filter(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= thr)
        .collect()
    }
    assert got == expected
    assert expected, "fixture must produce at least one heavy hitter"
    assert None not in {k for k, _ in got}


def test_exact_heavy_hitters_plan_is_candidate_bounded(spark):
    """The verify pass must semi-join against BROADCAST candidates —
    the plan shape that bounds the shuffle to candidate keys (a plain
    groupBy of all keys would make the MG pass pointless)."""
    from us_accidents_bigdata_pipeline_spark.operators.sketches import (
        exact_heavy_hitters,
    )

    df = spark.range(0, 5000).withColumn(
        "key", F.expr("if(id % 4 = 0, id % 5, id)")
    )
    plan = (
        exact_heavy_hitters(df, "key", phi=0.02)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan
    assert "BroadcastExchange" in plan
    # candidate generation is Arrow-batched, never row-pickled
    assert "BatchEvalPython" not in plan


def test_exact_heavy_hitters_property(spark):
    """Property check: for ANY generated key distribution and phi, the
    MG-candidate + verify pipeline equals the exact GROUP BY/HAVING
    answer (the pigeonhole superset guarantee can never lose a true
    heavy hitter, whatever the skew or partition layout)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from us_accidents_bigdata_pipeline_spark.operators.sketches import (
        exact_heavy_hitters,
    )
    import math

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        keys=st.lists(
            st.integers(min_value=0, max_value=12),
            min_size=1,
            max_size=60,
        ),
        phi=st.sampled_from([0.05, 0.1, 0.3]),
        nparts=st.sampled_from([1, 4]),
    )
    def run(keys, phi, nparts):
        df = spark.createDataFrame(
            [(i, k) for i, k in enumerate(keys)], "i long, key long"
        ).repartition(nparts)
        got = {
            (r["key"], r["freq"])
            for r in exact_heavy_hitters(df, "key", phi=phi).collect()
        }
        thr = int(math.ceil(phi * len(keys)))
        from collections import Counter

        exp = {
            (k, n) for k, n in Counter(keys).items() if n >= thr
        }
        assert got == exp

    run()
