"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Prints one JSON object as the last
line of standard output: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Exits non-zero, without printing
a result, when the package is missing or any output check fails.
Everything it writes goes under ``perfbench/.work``; all but the
traced run's span file is removed at exit. The Spark JVM and its Python
workers are stopped and waited for.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "us_accidents_bigdata_pipeline_spark"


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import harness, host
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, "perfbench", ".work", f"{args.workload}-{os.getpid()}")
    try:
        settings = host.pin_host(work)
        print(f"perfbench: host settings {json.dumps(settings)}", file=sys.stderr)
        from us_accidents_bigdata_pipeline_spark.session import get_spark, ship_package

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          extra_conf=harness.spark_conf(work, bool(args.trace)))
        ship_package(spark)
        session_s = time.perf_counter() - t0
        try:
            res = harness.measure(spark, session_s, args.workload, args.seed,
                                  args.seconds, bool(args.trace), work)
            if res["tracer"] is not None:
                spans = os.path.join(ROOT, "perfbench", ".work", "spans",
                                     f"{args.workload}-seed{args.seed}.jsonl")
                os.makedirs(os.path.dirname(spans), exist_ok=True)
                res["tracer"].dump(spans)
                print(f"perfbench: spans written to {spans}", file=sys.stderr)
        finally:
            host.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if res["failed"]:
        for line in res["problems"]:
            print(f"perfbench: check failed: {line}", file=sys.stderr)
        print(f"perfbench: {res['failed']} of {res['attempted']} operations failed",
              file=sys.stderr)
        return 1
    print(json.dumps(harness.result_line(res, bool(args.trace), ROOT)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
