"""End-to-end accidents pipeline: the reference's
``BigDataPipeline/spark/complete_pipeline.py`` (and
``run_pipeline.sh`` job sequence) as one orchestrated, idiomatic
Spark flow:

    ingest → clean/impute/encode → Random Forest severity
    classification → distributed kNN → K-Means geographic clustering
    → metrics/JSON export → parquet sink

The stages form a small graph, not a sequence. RF and kNN read only
the feature frame, K-Means reads only the cleaned frame, and so does
the ``cleaned_data`` sink. After ``cleaned.count()`` and the RF
feature assembly, three branches run at the same time from one thread
pool (the mechanism ``ml.kmeans.k_sweep`` uses for its candidate
fits), and the calling thread waits for all of them:

    clean ─┬─ RF → kNN → model_results sink
           ├─ geo features → K-Means sweep → clustered_data and
           │  cluster_centers sinks
           └─ cleaned_data sink
                                   ──► charts → pipeline_summary.json

Spark's scheduler interleaves the branches' jobs, which fills the
cores that each small job leaves idle. Threads change scheduling,
never results: every model and sink is the same as a sequential run's.
Timing fields change meaning, though. Each stage's ``sec`` (and RF's
``stage_seconds`` / ``training_time_seconds``) is a wall time measured
while the other branches run, so the stage times overlap and do not sum
to ``total_seconds``; ``fit_rows_per_sec`` is measured while K-Means
runs. ``total_seconds`` ends when the branches have joined, so with an
``output_dir`` it includes the parquet sinks but not the charts.

Differences from the reference, by design (SURVEY §7):
- one cached cleaned frame feeds all three model stages (the reference
  re-reads parquet per job);
- kNN is the vectorized pandas_udf operator, not a row-at-a-time UDF;
- confusion matrix is a DataFrame aggregate, not RDD MulticlassMetrics;
- splits are hash-bucket deterministic (partition-layout independent);
- all sinks go through sources/io.py; metrics JSON mirrors the
  reference's result-document shape (FIXTURES.md §4).
"""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ml.features import assemble_and_scale
from .ml.kmeans import cluster_stats, fit_kmeans, k_sweep, silhouette
from .ml.knn import broadcast_train, knn_predict
from .ml.metrics import cluster_centers_document, evaluate_classifier, result_documents
from .ml.rf import RFParams, feature_importance, train_with_retry
from .operators.clean import clean
from .operators.sample import deterministic_split
from .tuning import right_size_partitions
from .sources.io import write_parquet

RF_FEATURES = [
    "Distance_mi",
    "Temperature_F",
    "Humidity_Percent",
    "Visibility_mi",
    "Wind_Speed_mph",
    "Traffic_Signal",
]
GEO_FEATURES = ["Start_Lat", "Start_Lng"]

RF_PARAMS = RFParams.notebook_tuned()
KNN_K = 5
KNN_TRAIN_FRACTION = 0.1  # knn_classification.py:132
# brute-force kNN scoring is O(|test|*|broadcast train|): cap the
# evaluated test rows at scale (the reference's Spark kNN only ever
# ran on a 5% dataset sample, knn_classification.py:298; its
# full-data kNN was driver-side sklearn KD-trees)
KNN_MAX_TEST_ROWS = 100_000
KMEANS_KS = [4, 6, 8]  # full_scale_pipeline.py:197-222
KMEANS_MAX_ITER = 30
# above KMEANS_SWEEP_SAMPLE_ROWS the sweep runs on a capped sample with
# fewer iterations (the reference's own 200K elbow-sample pattern,
# v2:cell47-48) and the winning k is refit on the full data at the full
# iteration budget; at or below it the sweep already sees the full data
# at KMEANS_MAX_ITER, so its winning model is the final model
KMEANS_SWEEP_SAMPLE_ROWS = 200_000
KMEANS_SWEEP_MAX_ITER = 15
TEST_FRACTION = 0.2
SEED = 42


def run_complete_pipeline(
    spark: SparkSession,
    raw: DataFrame,
    output_dir: str | None = None,
) -> dict:
    """Run the full pipeline; returns the metrics document (the
    reference's pipeline_summary.json shape) and, when ``output_dir``
    is set, writes cleaned parquet + clustered sample + metrics JSON.

    Every frame the run caches is released in one ``finally``, after
    the branches have stopped, whether the run succeeds or fails; a
    failing branch's error is raised only once every branch is done."""
    t_start = time.perf_counter()
    out = Path(output_dir) if output_dir else None
    cached: list[DataFrame] = []
    try:
        # -- stage 1: clean (data_cleaning.py semantics) ----------------
        t0 = time.perf_counter()
        cleaned = clean(raw).cache()
        cached.append(cleaned)
        n_clean = cleaned.count()
        clean_doc = {"rows": n_clean, "sec": round(time.perf_counter() - t0, 2)}

        # the RF features are assembled (and their scaler fit) on this
        # thread before any branch starts: clean() returns a lazy frame,
        # and perfbench's tracer closes its span at the next traced
        # call, from the thread that makes it. The calling thread then
        # only waits, so every branch's spans nest under the run's.
        t0 = time.perf_counter()
        labeled = cleaned.withColumn("label", (F.col("Severity") - 1).cast("double"))
        feat, _ = assemble_and_scale(labeled, RF_FEATURES, with_mean=False)
        if out:
            out.mkdir(parents=True, exist_ok=True)
        with ThreadPoolExecutor(max_workers=3, thread_name_prefix="pipeline") as pool:
            branches = [
                pool.submit(_classify, spark, feat, n_clean, t0, cached, out),
                pool.submit(_cluster, spark, cleaned, n_clean, cached, out),
            ]
            if out:
                # hive-partition the cleaned output by State (SURVEY §4's
                # named improvement): downstream per-state queries prune
                # to one directory instead of scanning the full dataset.
                # ~50 states → bounded partition count; no repartition
                # first, so each task writes only the states it holds
                # (file count = tasks × local states, acceptable at this
                # partition cardinality).
                branches.append(pool.submit(lambda: write_parquet(
                    cleaned, str(out / "cleaned_data"), partition_by=["State"]
                )))
        # leaving the pool waited for every branch: a failed branch's
        # error is raised only now, once none is still running
        (rf_doc, knn_doc, rf_preds), (km_doc, clustered), *_ = [
            b.result() for b in branches
        ]

        summary = {
            "stages": {
                "clean": clean_doc,
                "random_forest": rf_doc,
                "knn": knn_doc,
                "kmeans": km_doc,
            },
            "total_seconds": round(time.perf_counter() - t_start, 2),
            "rows_processed": n_clean,
        }
        if out:
            # chart rendering (generate_visualizations.py parity):
            # distributed aggregation -> tiny collect -> dependency-free SVG
            from .operators.viz import export_chart_suite

            summary["charts"] = export_chart_suite(
                cleaned,
                str(out / "charts"),
                clustered=clustered.select("Start_Lat", "Start_Lng", "cluster"),
                predictions=rf_preds.select("label", "prediction"),
            )
            with open(out / "pipeline_summary.json", "w") as f:
                json.dump(summary, f, indent=2)
        return summary
    finally:
        for df in cached:
            df.unpersist()


def _classify(
    spark: SparkSession,
    feat: DataFrame,
    n_clean: int,
    t0: float,
    cached: list[DataFrame],
    out: Path | None,
) -> tuple[dict, dict, DataFrame]:
    """Branch 1: RF severity classification, then distributed kNN on
    the same split, then the ``model_results`` sink. Returns the RF and
    kNN summary stages and the RF test predictions (for the charts)."""
    # iterative trainers pay per-task overhead per iteration: size
    # partitions by rows, not by cluster width (tuning.py rationale).
    # ~5K rows/partition floor keeps small tiers at full parallelism
    # (profiled 46K vs 28K rows/s at the 200K tier), while the 2x-
    # parallelism ceiling lets the 2M tier over-decompose to 64 tasks
    # for load balance (profiled ~15% faster than 32). Cache ONLY the
    # columns the train/eval path reads (ID for the split, label,
    # features) — tree passes re-scan the cache every node group, so
    # dragging the full cleaned row width through it costs ~40% fit
    # throughput.
    sc = spark.sparkContext
    feat = right_size_partitions(
        feat.select("ID", "label", "features"),
        n_rows=n_clean,
        rows_per_partition=5_000,
        max_parts=2 * sc.defaultParallelism,
        allow_grow=True,
    ).cache()
    cached.append(feat)
    train, test = deterministic_split(feat, "ID", TEST_FRACTION)
    n_train = train.count()
    # time the model fit separately from stage prep (scaler fit, cache
    # materialization, split count): the reference's published RF
    # throughput is fit-only (Pipeline_Collab/outputs/rf_results.json —
    # 6.18M rows / 80.37 s training), so rows_per_sec must measure the
    # same window to be comparable
    t_fit = time.perf_counter()
    rf_model, used_fraction = train_with_retry(train, RF_PARAMS)
    rf_fit_sec = time.perf_counter() - t_fit
    rf_train_sec = time.perf_counter() - t0
    rf_preds = rf_model.transform(test)
    rf_metrics = evaluate_classifier(rf_preds)
    rf_doc = {
        "train_rows": n_train,
        "train_fraction_used": used_fraction,
        "training_time_seconds": round(rf_fit_sec, 2),
        "stage_seconds": round(rf_train_sec, 2),
        "rows_per_sec": round(n_train / max(rf_fit_sec, 1e-9)),
        "fit_rows_per_sec": round(n_train / max(rf_fit_sec, 1e-9)),
        "metrics": {k: round(v, 4) for k, v in rf_metrics.items()},
        "feature_importance": [
            {"feature": f, "importance": round(i, 4)}
            for f, i in feature_importance(rf_model, RF_FEATURES)[:15]
        ],
    }

    # -- distributed kNN ------------------------------------------------
    t0 = time.perf_counter()
    knn_test = test
    n_test = test.count()
    if n_test > KNN_MAX_TEST_ROWS:
        knn_test = test.sample(False, KNN_MAX_TEST_ROWS / n_test, SEED)
    # broadcast created here (not inside knn_predict) so it can be
    # destroyed once metrics are materialized — otherwise each pipeline
    # run leaks one train-matrix broadcast on driver and executors
    knn_bc = broadcast_train(
        train, train_fraction=KNN_TRAIN_FRACTION, seed=SEED
    )
    try:
        knn_preds = knn_predict(knn_test, k=KNN_K, train_broadcast=knn_bc)
        knn_metrics = evaluate_classifier(
            knn_preds.withColumn("prediction", F.col("prediction").cast("double"))
        )
    finally:
        knn_bc.destroy()
    knn_doc = {
        "k": KNN_K,
        "train_fraction": KNN_TRAIN_FRACTION,
        "sec": round(time.perf_counter() - t0, 2),
        "metrics": {k: round(v, 4) for k, v in knn_metrics.items()},
    }
    # the feature cache is dead after kNN (the charts recompute the few
    # test predictions they draw): release it now, not at the end of
    # the run, so it stops holding storage memory while the K-Means
    # branch and the charts still run
    feat.unpersist()

    if out:
        model_results = result_documents(
            spark, "random_forest", rf_metrics, parameters=str(RF_PARAMS)
        ).union(
            result_documents(
                spark, "knn", knn_metrics, parameters=f"k={KNN_K}"
            )
        )
        write_parquet(model_results, str(out / "model_results"))
    return rf_doc, knn_doc, rf_preds


def _cluster(
    spark: SparkSession,
    cleaned: DataFrame,
    n_clean: int,
    cached: list[DataFrame],
    out: Path | None,
) -> tuple[dict, DataFrame]:
    """Branch 2: K-Means geographic clustering, then the
    ``clustered_data`` and ``cluster_centers`` sinks. Returns the
    K-Means summary stage and the clustered frame (for the charts)."""
    t0 = time.perf_counter()
    geo, _ = assemble_and_scale(
        cleaned.select("ID", "Severity", *GEO_FEATURES), GEO_FEATURES
    )
    geo = right_size_partitions(geo, n_rows=n_clean).cache()
    cached.append(geo)
    # materialize BEFORE the concurrent sweep: k_sweep's threads would
    # otherwise race to populate this cache, each recomputing the
    # lineage and contending on BlockManager puts
    geo.count()
    if n_clean > KMEANS_SWEEP_SAMPLE_ROWS:
        sweep_df = geo.sample(False, KMEANS_SWEEP_SAMPLE_ROWS / n_clean, SEED)
        best_k, sweep, _ = k_sweep(
            sweep_df, KMEANS_KS, max_iter=KMEANS_SWEEP_MAX_ITER, seed=SEED
        )
        km_model = fit_kmeans(geo, best_k, max_iter=KMEANS_MAX_ITER, seed=SEED)
        clustered = km_model.transform(geo)
        sil = silhouette(clustered)
    else:
        # the sweep's winning fit IS the final fit (same data, k, seed
        # and iteration budget): reuse its model and silhouette
        best_k, sweep, km_model = k_sweep(
            geo, KMEANS_KS, max_iter=KMEANS_MAX_ITER, seed=SEED
        )
        clustered = km_model.transform(geo)
        sil = {k: s for k, s, _ in sweep}[best_k]
    # per-cluster stats carry the RAW lat/lng means — the model's
    # clusterCenters() live in StandardScaler space and must never
    # reach the geographic cluster_centers sink
    stats = cluster_stats(
        clustered, stat_cols=["Severity", "Start_Lat", "Start_Lng"]
    )
    stats_rows = [r.asDict() for r in stats.orderBy("cluster").collect()]
    km_doc = {
        "best_k": best_k,
        "silhouette": round(sil, 4),
        "wssse": round(km_model.summary.trainingCost, 2),
        "sweep": [
            {"k": k, "silhouette": round(s, 4), "wssse": round(w, 2)}
            for k, s, w in sweep
        ],
        "sec": round(time.perf_counter() - t0, 2),
        "cluster_stats": stats_rows,
    }

    if out:
        write_parquet(
            clustered.select("ID", "Severity", "Start_Lat", "Start_Lng", "cluster"),
            str(out / "clustered_data"),
        )
        write_parquet(
            cluster_centers_document(spark, stats_rows),
            str(out / "cluster_centers"),
        )
    return km_doc, clustered


def main(argv: list[str] | None = None) -> dict:
    """spark-submit / python -m entry point — the analog of the
    reference's run_pipeline.sh → spark-submit complete_pipeline.py
    (BigDataPipeline/run_pipeline.sh, spark/complete_pipeline.py:1-40):
    generate-or-read the accidents table, run the full clean → RF →
    kNN → K-Means pipeline, and write every sink under --output.

    `spark-submit us_accidents_bigdata_pipeline_spark/pipeline.py
    --rows 1000000 --output out/` works unchanged on a real cluster —
    the session factory only sets master when none is configured.
    """
    import argparse

    from .session import get_spark
    from .sources.accidents import generate_accidents_raw_distributed
    from .sources.io import read_csv

    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--rows", type=int, default=100_000,
                   help="synthetic accident rows (ignored with --csv)")
    p.add_argument("--csv", default=None,
                   help="read a real accidents CSV instead of generating")
    p.add_argument("--output", default="pipeline_out")
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args(argv)

    spark = get_spark(app_name="accidents-pipeline")
    if args.csv:
        # explicit schema (S1 discipline): reuse the generator's schema
        # rather than paying inferSchema's extra full scan
        schema = generate_accidents_raw_distributed(spark, 1).schema
        raw = read_csv(spark, args.csv, schema)
    else:
        raw = generate_accidents_raw_distributed(
            spark, args.rows, seed=args.seed
        )
    summary = run_complete_pipeline(spark, raw, output_dir=args.output)
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":  # pragma: no cover - exercised via tests/main()
    main()
