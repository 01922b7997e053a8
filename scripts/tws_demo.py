#!/usr/bin/env python3
"""Self-contained transformWithStateInPandas demo/verification runner.

Run AS A SCRIPT (fresh process) because the protobuf runtime must be
on PYTHONPATH before the JVM starts — an existing SparkSession cannot
be retrofitted. Reads events parquet from argv[1] (default
/root/testdata/sf0.001), runs the TWS running-totals operator over a
bounded file stream, recovers per-key finals via the monotone
n_events argmax, and prints ONE JSON line:
{"ok": bool, "n_keys": int, "totals": {key: [n, total]}}

Exit 3 = TWS runtime unavailable (missing protobuf) — callers treat
that as SKIP, not failure.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from us_accidents_bigdata_pipeline_spark.streaming.tws import (
    ensure_protobuf_runtime,
    running_totals_tws,
    tws_runtime_available,
)
from us_accidents_bigdata_pipeline_spark.streaming.windows import adaptive_ts_stream


def main() -> None:
    if not ensure_protobuf_runtime() or not tws_runtime_available():
        print(json.dumps({"ok": False, "reason": "no_protobuf_runtime"}))
        sys.exit(3)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .appName("tws_demo")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # bounded file stream over the events file, ts decoded to a
        # microsecond timestamp
        stream = adaptive_ts_stream(spark, sf_dir)
        out = running_totals_tws(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("tws_totals")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # finals per key: n_events is strictly monotone per key, so the
        # argmax emission is the final state (same recovery contract as
        # the applyInPandasWithState twin)
        finals = (
            spark.table("tws_totals")
            .groupBy("key")
            .agg(
                F.max(F.struct("n_events", "total_value")).alias("_m")
            )
            .select(
                "key",
                F.col("_m.n_events").alias("n_events"),
                F.round(F.col("_m.total_value"), 2).alias("total_value"),
            )
        )
        totals = {
            int(r["key"]): [int(r["n_events"]), float(r["total_value"])]
            for r in finals.collect()
        }
        print(
            json.dumps(
                {"ok": True, "n_keys": len(totals), "totals": totals}
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
