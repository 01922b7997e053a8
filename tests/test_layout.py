"""Z-order layout contract: footer min-max stats must shrink on BOTH
curve dimensions (that's what makes multi-column scan pruning work),
and the rewrite is a pure relayout — same rows."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from us_accidents_bigdata_pipeline_spark.operators.layout import (
    zorder_key,
    zorder_write,
)

from .conftest import SF_ORACLE


def _avg_file_range_fraction(path: str, col: str) -> float:
    """Mean over files of (file's col min-max width / global width) —
    1.0 means every file spans the full domain (no pruning possible),
    near 1/n_files means perfect clustering."""
    mins, maxs = [], []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        fmins, fmaxs = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    fmins.append(c.statistics.min)
                    fmaxs.append(c.statistics.max)
        mins.append(min(fmins))
        maxs.append(max(fmaxs))
    gmin, gmax = min(mins), max(maxs)
    width = float(gmax - gmin) or 1.0
    fracs = [(hi - lo) / width for lo, hi in zip(mins, maxs)]
    return sum(fracs) / len(fracs)


def test_zorder_shrinks_ranges_on_both_dims(spark, tmp_path):
    e = spark.read.parquet(f"{SF_ORACLE}/events.parquet").select(
        "event_id", "user_id", "value"
    )

    flat = str(tmp_path / "flat")
    e.repartition(8).write.parquet(flat)  # layout-agnostic baseline

    zed = str(tmp_path / "zed")
    zorder_write(e, zed, ["user_id", "value"], n_files=8)

    for col in ("user_id", "value"):
        base = _avg_file_range_fraction(flat, col)
        z = _avg_file_range_fraction(zed, col)
        # unclustered files span ~the whole domain; z-ordered files
        # cover an axis-aligned box on EACH dimension
        # (value's heavy tail makes some unclustered files miss the
        # extremes, so the baseline sits below 1.0 on that dim)
        assert base > 0.6, (col, base)
        assert z < 0.5, (col, z)
        assert z < base / 1.5, (col, z, base)

    # relayout only: exact same rows
    back = spark.read.parquet(zed)
    assert back.count() == e.count()
    assert (
        back.agg(F.sum("event_id")).first()[0]
        == e.agg(F.sum("event_id")).first()[0]
    )


def test_zorder_key_is_jvm_only_map_side(spark):
    e = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    keyed = zorder_key(e, ["user_id", "value"], bits=10)
    plan = keyed._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the only plan features are the scan, the 1-row bounds broadcast,
    # and the projection — no hash/range exchange of the data
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_zorder_key_handles_constant_column(spark):
    df = spark.range(100).select(
        F.col("id"), F.lit(7).alias("c")
    )
    keyed = zorder_key(df, ["id", "c"], bits=8)
    rows = keyed.orderBy("id").collect()
    # constant column contributes 0 bits; key is monotone in id
    zkeys = [r._zkey for r in rows]
    assert zkeys == sorted(zkeys)
    assert len(set(zkeys)) > 50


def test_global_row_number_matches_serial_window(spark):
    from us_accidents_bigdata_pipeline_spark.operators.layout import (
        global_row_number,
    )

    # Uneven, shuffled input across several partitions; string + tie
    # columns exercise the range boundaries.
    df = (
        spark.range(0, 997)
        .withColumn("k", F.expr("concat('k', id % 139)"))
        .withColumn("v", F.expr("id % 7"))
        .repartition(13)
    )
    got = {
        (r["k"], r["v"], r["id"]): r["rn"]
        for r in global_row_number(
            df, ["k", "v", "id"], n_partitions=5
        ).collect()
    }
    expected = {
        (r["k"], r["v"], r["id"]): r["rn"]
        for r in df.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy().orderBy("k", "v", "id")
            ),
        ).collect()
    }
    assert got == expected


def test_global_row_number_no_single_partition_sort(spark):
    from us_accidents_bigdata_pipeline_spark.operators.layout import (
        global_row_number,
    )

    df = spark.range(0, 500).withColumn("k", F.expr("id % 11"))
    plan = (
        global_row_number(df, ["k", "id"], n_partitions=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the serial pattern is a window over an empty partition spec,
    # which plans as Exchange SinglePartition
    assert "SinglePartition" not in plan


def test_global_running_sum_matches_serial_window(spark):
    from us_accidents_bigdata_pipeline_spark.operators.layout import (
        global_running_sum,
    )

    df = (
        spark.range(0, 803)
        .withColumn("v", F.expr("cast(id % 13 - 6 as long)"))
        .repartition(7)
    )
    got = {
        r["id"]: r["running_sum"]
        for r in global_running_sum(
            df, ["id"], "v", n_partitions=5
        ).collect()
    }
    expected = {
        r["id"]: r["rs"]
        for r in df.withColumn(
            "rs",
            F.sum("v").over(
                W.partitionBy()
                .orderBy("id")
                .rowsBetween(W.unboundedPreceding, 0)
            ),
        ).collect()
    }
    assert got == expected


def test_global_running_sum_null_semantics_match_serial_window(spark):
    """NULL values must behave exactly like the serial SUM() OVER
    window: rows before the first global non-null stay NULL; an
    all-NULL prefix inside a later partition inherits the prior
    partitions' running total instead of nullifying it."""
    from us_accidents_bigdata_pipeline_spark.operators.layout import (
        global_running_sum,
        global_running_sums,
    )

    # ids 0..59; NULL for ids < 10 (leading all-NULL run spanning the
    # first range partition(s)) and for 30 <= id < 45 (an interior
    # run long enough that some partition's whole prefix is NULL when
    # split 6 ways).
    df = (
        spark.range(0, 60)
        .withColumn(
            "v",
            F.when(
                (F.col("id") < 10)
                | ((F.col("id") >= 30) & (F.col("id") < 45)),
                F.lit(None),
            ).otherwise(F.col("id") % 7),
        )
        .repartition(5)
    )
    expected = {
        r["id"]: r["rs"]
        for r in df.withColumn(
            "rs",
            F.sum("v").over(
                W.partitionBy()
                .orderBy("id")
                .rowsBetween(W.unboundedPreceding, 0)
            ),
        ).collect()
    }
    got = {
        r["id"]: r["running_sum"]
        for r in global_running_sum(df, ["id"], "v", n_partitions=6).collect()
    }
    assert got == expected
    got_multi = {
        r["id"]: r["rs_v"]
        for r in global_running_sums(
            df, ["id"], ["v"], ["rs_v"], n_partitions=6
        ).collect()
    }
    assert got_multi == expected


def test_global_running_sum_no_single_partition_sort(spark):
    from us_accidents_bigdata_pipeline_spark.operators.layout import (
        global_running_sum,
    )

    df = spark.range(0, 300).withColumn("v", F.lit(1))
    plan = (
        global_running_sum(df, ["id"], "v", n_partitions=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan


def test_global_rank_and_prefix_sum_property(spark):
    """Property check on generated inputs: for ANY multiset of
    (key, value) rows — duplicates, negatives, skew — the distributed
    global row number and prefix sums must equal the serial
    single-partition window forms."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from us_accidents_bigdata_pipeline_spark.operators.layout import (
        global_row_number,
        global_running_sums,
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        vals=st.lists(
            st.integers(min_value=-20, max_value=20),
            min_size=1,
            max_size=40,
        ),
        nparts=st.sampled_from([1, 3, 5]),
    )
    def run(vals, nparts):
        df = spark.createDataFrame(
            [(i, v, 1 if v > 0 else 0) for i, v in enumerate(vals)],
            "uid long, v long, flag long",
        ).repartition(4)
        got_rn = {
            r["uid"]: r["rn"]
            for r in global_row_number(
                df, ["v", "uid"], n_partitions=nparts
            ).collect()
        }
        w = W.partitionBy().orderBy("v", "uid")
        exp_rn = {
            r["uid"]: r["rn"]
            for r in df.withColumn(
                "rn", F.row_number().over(w)
            ).collect()
        }
        assert got_rn == exp_rn
        got_s = {
            r["uid"]: (r["s1"], r["s2"])
            for r in global_running_sums(
                df, ["v", "uid"], ["v", "flag"], ["s1", "s2"],
                n_partitions=nparts,
            ).collect()
        }
        wc = W.partitionBy().orderBy("v", "uid").rowsBetween(
            W.unboundedPreceding, 0
        )
        exp_s = {
            r["uid"]: (r["s1"], r["s2"])
            for r in df.withColumn("s1", F.sum("v").over(wc))
            .withColumn("s2", F.sum("flag").over(wc))
            .collect()
        }
        assert got_s == exp_s

    run()
