"""Set-up, the measured loop and the metrics one run prints.

A run stages its fixture once (charged to set-up with the session
start), then repeats the workload for ``seconds``, at least once, with
fresh state each time. The first repetition runs on a cold JVM and is
measured: a warm-up repetition would not fit the benchmark's time budget
(see NOTES.md). Latency is the mean over operations; the
untraced run reports the end-to-end metrics.

The traced run first runs one untraced warm-up repetition, then pairs of
one untraced and one traced repetition (wrappers installed but switched
off, then on) until ``seconds`` have passed. The side that runs first
alternates from pair to pair, and with the seed for the first pair, so
that a warmer JVM favours neither. It reports the per-layer metrics from
the traced repetitions, and the tracing overhead as the median over
pairs of the traced latency's excess over the untraced one. Metrics of
layers a workload does not run read 0.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

from . import host
from .trace import SPARK_COUNTERS, Tracer, read_stages, sum_stages
from .workloads import WORKLOADS, Rep, Sizes

SPARK_SPANS = ("rf.fit", "kmeans.sweep", "knn.score", "clean", "plan.execute",
               "stream.add_batch")
TRACE_CONF = {"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"}


def declared_metrics(root: str) -> tuple[dict[str, str], dict[str, str]]:
    """(end_to_end, per_layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Dderby.system.home={work}",
    }
    if trace:
        conf.update(TRACE_CONF)
    return conf


def measure(spark, session_s: float, name: str, seed: int, seconds: float,
            trace: bool, work: str, sizes: Sizes = Sizes()) -> dict:
    """Run one workload and return ``{"attempted", "failed", "problems",
    "e2e", "layers", "tracer"}``."""
    wl = WORKLOADS[name](spark, work, seed, sizes)
    fixture = os.path.join(work, f"fixture-{name}")
    t0 = time.perf_counter()
    wl.stage(fixture)
    gen = time.perf_counter() - t0
    done = {"attempted": 0, "failed": 0, "problems": []}

    def run(i: int) -> Rep:
        rep = wl.rep(i)
        done["failed"] += wl.check(rep)
        done["attempted"] += len(rep.latencies)
        done["problems"] += rep.state["problems"]
        return rep

    tracer = None
    if trace:
        tracer = Tracer(spark.sparkContext)
        wl.install(tracer)
        tracer.enabled = False
        run(-1)  # warm-up, so that no pair starts cold
    reps, traced_runs = [], []
    t_start = time.perf_counter()
    i = 0
    while True:
        # pair k runs its traced side second when k + seed is even
        traced = trace and (i % 2 == 1) != ((i // 2 + seed) % 2 == 1)
        if tracer is not None:
            tracer.enabled, tracer.run_id = traced, i
        (traced_runs if traced else reps).append((i, run(i)))
        i += 1
        enough = i % 2 == 0 if trace else True
        if enough and time.perf_counter() - t_start >= seconds:
            break
    if tracer is not None:
        tracer.uninstall()
    shutil.rmtree(fixture, ignore_errors=True)

    lat = [x for _i, r in reps for x in r.latencies]
    e2e = {
        "latency_mean_s": statistics.fmean(lat),
        "ops_per_min": 60.0 * len(lat) / sum(r.wall for _i, r in reps),
        "setup_s": session_s + gen,
    }
    layers = {}
    if tracer is not None:
        runs = [j for j, _r in traced_runs]
        layers = wl.layer_metrics(tracer, runs)
        layers.update(spark_layers(spark, tracer, runs))
        layers.update({"session.start_s": session_s, "fixture.generate_s": gen,
                       "memory.peak_rss_mb": host.peak_rss_mb(os.getpid())})
        by_pair: dict[int, dict[bool, float]] = {}
        for runs_, on in ((reps, False), (traced_runs, True)):
            for j, r in runs_:
                by_pair.setdefault(j // 2, {})[on] = statistics.fmean(r.latencies)
        layers["trace.overhead_pct"] = 100.0 * statistics.median(
            p[True] / p[False] - 1.0 for p in by_pair.values())
    print(f"perfbench: session {session_s:.1f} s, staging {gen:.1f} s, "
          f"{len(reps) + len(traced_runs)} repetitions in "
          f"{time.perf_counter() - t_start:.1f} s", file=sys.stderr)
    return {**done, "e2e": e2e, "layers": layers, "tracer": tracer}


def spark_layers(spark, tracer: Tracer, runs: list[int]) -> dict[str, float]:
    """Status-store counters per top span: per run, the stages inside
    every span of that name; the median over runs."""
    stages = read_stages(spark.sparkContext)
    out = {}
    for span in SPARK_SPANS:
        per_run: dict[int, set[int]] = {r: set() for r in runs}
        for sp in tracer.spans:
            if sp.name == span and sp.run_id in per_run:
                per_run[sp.run_id].update(range(sp.stage_lo, sp.stage_hi))
        sums = [sum_stages(stages, ids) for ids in per_run.values()]
        for counter in SPARK_COUNTERS:
            out[f"{span}.{counter}"] = statistics.median(s[counter] for s in sums)
    return out


def result_line(res: dict, trace: bool, root: str) -> dict:
    """The JSON object printed as the last line of standard output."""
    e2e_units, layer_units = declared_metrics(root)
    if trace:
        values, units = res["layers"], layer_units
    else:
        values, units = res["e2e"], e2e_units
    missing = [m for m in values if m not in units]
    if missing:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {missing}")
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m: {"value": float(values.get(m, 0.0)), "unit": u}
                    for m, u in units.items()},
    }
