"""Visualization-data exports: the Spark side of the reference's
``BigDataPipeline/spark/generate_visualizations.py:35-265``.

The reference pulls data to the driver and renders 16 PNGs with
matplotlib/seaborn. Plot rendering is presentation, not engine —
and the plotting libs aren't in this container — so this module
provides the part that must scale: each chart's input as a small
aggregate DataFrame (computed distributed, collected tiny). A caller
with matplotlib feeds these straight into the reference's chart code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def value_counts(df: DataFrame, col: str, top: int | None = None) -> DataFrame:
    """(col, n) bar/line chart input: rows per value of ``col`` (pandas
    value_counts in the reference), in key order, or with ``top`` the
    ``top`` most frequent values, ties by key (TakeOrderedAndProject
    plan)."""
    counts = df.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
    if top is None:
        return counts.orderBy(col)
    return counts.orderBy(F.col("n").desc(), F.col(col)).limit(top)


# seed of the capped chart samples (geo and cluster scatters)
_SAMPLE_SEED = 42


def geo_scatter_sample(df: DataFrame, max_points: int = 50_000) -> DataFrame:
    """Seeded (Start_Lat, Start_Lng, Severity) sample for the
    geographic scatter (the reference caps its scatter at a sample too
    — full 7.7M points would be an unreadable plot AND a driver OOM)."""
    n = df.count()
    frac = min(max_points / max(n, 1), 1.0)
    out = df.select("Start_Lat", "Start_Lng", "Severity")
    return (
        out
        if frac >= 1.0
        else out.sample(False, frac, _SAMPLE_SEED).limit(max_points)
    )


def confusion_heatmap_svg(cm: DataFrame) -> str:
    """Render an ``ml.metrics.confusion_matrix`` frame
    ((label, prediction, n) — k×k, driver-tiny) as the annotated
    heatmap the reference plots with sns.heatmap
    (generate_visualizations.py:35-49). Distributed part is the
    confusion aggregation itself; only k² cells are collected."""
    from .render_svg import render_heatmap_svg

    rows = [
        r
        for r in cm.collect()
        if r.label is not None and r.prediction is not None
    ]
    classes = sorted({r.label for r in rows} | {r.prediction for r in rows})
    cell = {(r.label, r.prediction): r.n for r in rows}
    values = [
        [float(cell.get((t, p), 0)) for p in classes] for t in classes
    ]
    labels = [
        str(int(c)) if float(c).is_integer() else str(c) for c in classes
    ]
    return render_heatmap_svg(
        labels, labels, values, "Random Forest - Confusion Matrix"
    )


def export_chart_suite(
    cleaned: DataFrame | None,
    out_dir: str,
    clustered: DataFrame | None = None,
    predictions: DataFrame | None = None,
    max_scatter_points: int = 20_000,
) -> list[str]:
    """End-to-end chart rendering: the reference's visualization job
    (generate_visualizations.py — aggregate, collect, render) with the
    aggregation DISTRIBUTED (this module's input builders) and the
    rendering dependency-free SVG (``render_svg``). Returns the list of
    files written. Each chart is drawn only when its input frame is
    given (``cleaned`` may be None), so a caller can draw each subset
    where its input is at hand.

    Collect safety: every collected frame is an aggregate or a capped
    sample — bar/line inputs are ≤ dozens of rows, scatters are bounded
    by ``max_scatter_points`` — so the driver pull is O(chart), never
    O(data)."""
    import os

    from .render_svg import render_bar_svg, render_line_svg, render_scatter_svg

    os.makedirs(out_dir, exist_ok=True)
    written: list[str] = []

    def _write(name: str, svg: str) -> None:
        path = os.path.join(out_dir, name)
        with open(path, "w") as f:
            f.write(svg)
        written.append(path)

    cols = set(cleaned.columns) if cleaned is not None else set()
    # (file, column, top-n or None for key order, renderer, title)
    count_charts = [
        ("severity_distribution.svg", "Severity", None, render_bar_svg,
         "Severity distribution"),
        ("hourly_profile.svg", "hour_of_day", None, render_line_svg,
         "Accidents by hour"),
        ("state_top15.svg", "State", 15, render_bar_svg, "Top states"),
        ("weather_breakdown.svg", "Weather_Condition", 10, render_bar_svg,
         "Weather conditions"),
    ]
    for name, col, top, render, title in count_charts:
        if col in cols:
            rows = value_counts(cleaned, col, top=top).collect()
            _write(name, render([r[0] for r in rows], [r["n"] for r in rows], title))
    if {"Start_Lat", "Start_Lng", "Severity"} <= cols:
        rows = geo_scatter_sample(cleaned, max_points=max_scatter_points).collect()
        _write(
            "geo_scatter.svg",
            render_scatter_svg(
                [r["Start_Lng"] for r in rows],
                [r["Start_Lat"] for r in rows],
                [r["Severity"] for r in rows],
                "Accident locations by severity",
            ),
        )
    if clustered is not None and {"Start_Lat", "Start_Lng", "cluster"} <= set(
        clustered.columns
    ):
        per_cluster = max_scatter_points // 4
        rows = cluster_scatter_input(
            clustered.select("Start_Lat", "Start_Lng", "cluster"),
            max_points_per_cluster=per_cluster,
        ).collect()
        _write(
            "cluster_scatter.svg",
            render_scatter_svg(
                [r["Start_Lng"] for r in rows],
                [r["Start_Lat"] for r in rows],
                [r["cluster"] for r in rows],
                "K-Means geographic clusters",
            ),
        )
    if predictions is not None and {"label", "prediction"} <= set(
        predictions.columns
    ):
        from ..ml.metrics import confusion_matrix

        _write(
            "confusion_matrix.svg",
            confusion_heatmap_svg(confusion_matrix(predictions)),
        )
    return written


def cluster_scatter_input(
    clustered: DataFrame, max_points_per_cluster: int = 5_000
) -> DataFrame:
    """Per-``cluster`` capped sample for the K-Means scatter —
    stratified so small clusters stay visible (plain sampling would
    drown them)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("cluster").orderBy(
        F.xxhash64(F.struct("*"), F.lit(_SAMPLE_SEED))
    )
    return (
        clustered.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_points_per_cluster)
        .drop("_rn")
    )
