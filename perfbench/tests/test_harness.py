"""Tiny-scale self-test of the benchmark harness.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Runs every workload once, traced, at tiny sizes (a few thousand
accident rows, the analyst tables at scale 0.001, three change files of
400-500 rows) in one Spark session, and checks the harness rather than the
program's speed.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pytest

from perfbench import harness, host
from perfbench.trace import SPARK_COUNTERS, attribute_stages, read_stages, sum_stages
from perfbench.workloads import TINY, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SEED = 7


@pytest.fixture(scope="module")
def work():
    path = os.path.join(ROOT, "perfbench", ".work", f"selftest-{os.getpid()}")
    host.pin_host(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="module")
def spark(work):
    from us_accidents_bigdata_pipeline_spark.session import get_spark, ship_package

    spark = get_spark(app_name="perfbench-selftest",
                      extra_conf=harness.spark_conf(work, trace=True))
    ship_package(spark)
    yield spark
    host.stop_spark(spark)


@pytest.fixture(scope="module")
def runs(spark, work):
    out = {}
    for name in WORKLOADS:
        res = harness.measure(spark, 0.0, name, SEED, 0, True, work, TINY)
        res["stages"] = read_stages(spark.sparkContext)
        out[name] = res
    return out


def test_every_declared_metric_is_printed_with_its_unit(runs):
    e2e_units, layer_units = harness.declared_metrics(ROOT)
    produced = set()
    for res in runs.values():
        assert res["failed"] == 0, res["problems"]
        for trace, units in ((False, e2e_units), (True, layer_units)):
            line = harness.result_line(res, trace, ROOT)
            assert line["correct"] and line["attempted"] >= 1
            assert {m: v["unit"] for m, v in line["metrics"].items()} == units
        assert all(v > 0 for v in res["e2e"].values())
        produced |= set(res["layers"])
    # a per-layer metric no workload produces would always read 0
    assert set(layer_units) <= produced


def test_same_seed_gives_identical_counts_and_quality(runs, spark, work):
    pipe = runs["accidents_pipeline"]
    assert pipe["layers"]["rf.retries"] == 0
    pipe_wl = WORKLOADS["accidents_pipeline"](spark, work, SEED, TINY)
    stream_wl = WORKLOADS["stream_upsert"](spark, work, SEED, TINY)
    digests = []
    for i in range(2):
        d = os.path.join(work, f"determinism-{i}")
        pipe_wl.stage(os.path.join(d, "accidents"))
        stream_wl.stage(os.path.join(d, "stream"))
        digests.append(_digest(spark, os.path.join(d, "accidents"), "ID")
                       + _digest(spark, stream_wl.src, "updated_at"))
    assert digests[0] == digests[1]
    again = harness.measure(spark, 0.0, "accidents_pipeline", SEED, 0, True, work, TINY)
    for key in ("rf.accuracy", "knn.accuracy", "kmeans.silhouette", "knn.pairs_scored",
                "kmeans.iterations", "io.files_written"):
        assert again["layers"][key] == pipe["layers"][key], key
    assert again["attempted"] == pipe["attempted"]
    assert runs["analyst_queries"]["layers"]["plan.rows_returned"] > 0
    stream = runs["stream_upsert"]["layers"]
    assert stream["stream.versions_written"] == TINY.stream_batches
    # the table holds (b + 1) files' new IDs after batch b
    assert stream["stream.base_rows_rewritten"] == sum(
        b * TINY.stream_new_rows for b in range(1, TINY.stream_batches))


def _digest(spark, path: str, order: str) -> str:
    """Digest of a fixture's rows in ``order`` (Spark's file names vary)."""
    rows = spark.read.parquet(path).orderBy(order).collect()
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def test_spans_nest_with_non_negative_self_time(runs):
    for res in runs.values():
        tr = res["tracer"]
        assert tr.spans
        for i, sp in enumerate(tr.spans):
            assert sp.end is not None and sp.end >= sp.start
            assert tr.self_seconds(i) >= -1e-9
            if sp.parent is not None:
                parent = tr.spans[sp.parent]
                assert parent.start <= sp.start and sp.end <= parent.end
                assert parent.stage_lo <= sp.stage_lo <= sp.stage_hi <= parent.stage_hi


def test_stage_deltas_over_spans_sum_to_run_totals(runs):
    for name, res in runs.items():
        tr, stages = res["tracer"], res["stages"]
        # each traced repetition's stages, from its first root span's
        # start to its last one's end
        bounds: dict[int, tuple[int, int]] = {}
        for sp in tr.spans:
            if sp.parent is None:
                lo, hi = bounds.get(sp.run_id, (sp.stage_lo, sp.stage_hi))
                bounds[sp.run_id] = (min(lo, sp.stage_lo), max(hi, sp.stage_hi))
        total = sum_stages(stages, [s for lo, hi in bounds.values() for s in range(lo, hi)])
        assert total["spark.stages"] > 0, name
        owned = [sum_stages(stages, ids) for ids in attribute_stages(tr).values()]
        for counter in SPARK_COUNTERS:
            assert sum(o[counter] for o in owned) == pytest.approx(total[counter]), (
                name, counter)
