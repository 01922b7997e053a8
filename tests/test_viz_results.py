"""Viz-input aggregates + result-document sink shapes (SURVEY E3,
FIXTURES §4, generate_visualizations.py parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from us_accidents_bigdata_pipeline_spark.ml.features import assemble_and_scale
from us_accidents_bigdata_pipeline_spark.ml.kmeans import cluster_stats, fit_kmeans
from us_accidents_bigdata_pipeline_spark.ml.metrics import (
    binary_auc_severe,
    cluster_centers_document,
    result_documents,
)
from us_accidents_bigdata_pipeline_spark.operators.clean import clean
from us_accidents_bigdata_pipeline_spark.operators.viz import (
    cluster_scatter_input,
    geo_scatter_sample,
    value_counts,
)
from us_accidents_bigdata_pipeline_spark.sources.accidents import generate_accidents_raw_distributed

import pytest


@pytest.fixture(scope="module")
def cleaned(spark):
    raw = generate_accidents_raw_distributed(spark, n_rows=2000, seed=42)
    return clean(raw).cache()


def test_viz_aggregates(cleaned):
    n = cleaned.count()
    sev = value_counts(cleaned, "Severity").collect()
    assert sum(r.n for r in sev) == n
    assert [r.Severity for r in sev] == sorted(r.Severity for r in sev)
    hours = value_counts(cleaned, "hour_of_day").collect()
    assert {r.hour_of_day for r in hours} <= set(range(24))
    top = value_counts(cleaned, "State", top=3).collect()
    assert len(top) == 3 and top[0].n >= top[-1].n
    weather = value_counts(cleaned, "Weather_Condition", top=5).collect()
    assert len(weather) == 5
    scatter = geo_scatter_sample(cleaned, max_points=500)
    assert scatter.count() <= 500


def test_cluster_scatter_stratified(cleaned):
    geo, _ = assemble_and_scale(
        cleaned.select("ID", "Severity", "Start_Lat", "Start_Lng"),
        ["Start_Lat", "Start_Lng"],
    )
    model = fit_kmeans(geo, 3, max_iter=10)
    pred = model.transform(geo)
    capped = cluster_scatter_input(pred, max_points_per_cluster=100)
    per_cluster = capped.groupBy("cluster").count().collect()
    assert all(r["count"] <= 100 for r in per_cluster)
    assert len(per_cluster) == 3

    stats = cluster_stats(
        pred, stat_cols=["Severity", "Start_Lat", "Start_Lng"]
    ).collect()
    doc = cluster_centers_document(pred.sparkSession, [r.asDict() for r in stats])
    rows = doc.collect()
    assert len(rows) == 3
    assert sum(r.point_count for r in rows) == geo.count()
    # centers must be geographic degrees, not scaler-space z-scores
    assert all(24.0 <= r.center_lat <= 50.0 for r in rows), rows
    assert all(-126.0 <= r.center_lng <= -66.0 for r in rows), rows


def test_result_documents_shape(spark):
    doc = result_documents(
        spark,
        "random_forest",
        {"accuracy": 0.8, "f1": 0.7},
        parameters="numTrees=50",
        run_timestamp="2026-08-13T00:00:00",
    )
    rows = {r.metric_name: r.metric_value for r in doc.collect()}
    assert rows == {"accuracy": 0.8, "f1": 0.7}
    assert set(doc.columns) == {
        "model_name", "metric_name", "metric_value", "run_timestamp", "parameters",
    }


def test_binary_auc_severe(cleaned):
    from us_accidents_bigdata_pipeline_spark.ml.rf import RFParams, train_rf
    from us_accidents_bigdata_pipeline_spark.operators.sample import (
        deterministic_split,
    )

    df = cleaned.withColumn("label", (F.col("Severity") - 1).cast("double"))
    feat, _ = assemble_and_scale(
        df, ["Distance_mi", "Visibility_mi", "Wind_Speed_mph"], with_mean=False
    )
    train, test = deterministic_split(feat, "ID", 0.3)
    preds = train_rf(train, RFParams(num_trees=10, max_depth=5)).transform(test)
    auc = binary_auc_severe(preds)
    assert 0.5 < auc <= 1.0  # planted signal → better than chance


def test_render_svg_units():
    import xml.etree.ElementTree as ET

    from us_accidents_bigdata_pipeline_spark.operators.render_svg import (
        render_bar_svg,
        render_line_svg,
        render_scatter_svg,
    )

    ns = {"s": "http://www.w3.org/2000/svg"}
    bar = ET.fromstring(render_bar_svg(["a", "b", "c"], [1, 3, 2], "t"))
    bars = bar.findall(".//s:rect[@class='bar']", ns)
    assert len(bars) == 3
    heights = [float(b.get("height")) for b in bars]
    # tallest bar belongs to value 3; zero-safe proportional scaling
    assert heights[1] == max(heights) and heights[1] > heights[0]
    assert abs(heights[0] / heights[1] - 1 / 3) < 1e-6

    line = ET.fromstring(render_line_svg([2, 0, 1], [5, 1, 3], "t"))
    path = line.find(".//s:path[@class='line']", ns)
    # 3 points joined in x order: one M + two L commands
    assert path is not None and path.get("d").count("L") == 2

    sc = ET.fromstring(
        render_scatter_svg([0, 1, 2], [0, 1, 4], ["x", "y", "x"], "t")
    )
    pts = sc.findall(".//s:circle[@class='pt']", ns)
    assert len(pts) == 3
    fills = {p.get("fill") for p in pts}
    assert len(fills) == 2  # two groups → two colors


def test_export_chart_suite_end_to_end(cleaned, tmp_path):
    import os
    import xml.etree.ElementTree as ET

    from us_accidents_bigdata_pipeline_spark.ml.kmeans import fit_kmeans
    from us_accidents_bigdata_pipeline_spark.operators.viz import (
        export_chart_suite,
    )

    geo, _ = assemble_and_scale(
        cleaned.select("ID", "Severity", "Start_Lat", "Start_Lng"),
        ["Start_Lat", "Start_Lng"],
    )
    clustered = fit_kmeans(geo, 3, max_iter=5).transform(geo)
    preds = cleaned.select(
        F.col("Severity").cast("double").alias("label"),
        F.col("Severity").cast("double").alias("prediction"),
    )
    written = export_chart_suite(
        cleaned, str(tmp_path / "charts"), clustered=clustered,
        predictions=preds, max_scatter_points=400,
    )
    names = {os.path.basename(p) for p in written}
    assert names == {
        "severity_distribution.svg",
        "hourly_profile.svg",
        "state_top15.svg",
        "weather_breakdown.svg",
        "geo_scatter.svg",
        "cluster_scatter.svg",
        "confusion_matrix.svg",
    }
    for p in written:
        root = ET.parse(p).getroot()  # well-formed XML
        assert root.tag.endswith("svg")


def test_render_heatmap_svg_units():
    import xml.etree.ElementTree as ET

    from us_accidents_bigdata_pipeline_spark.operators.render_svg import (
        render_heatmap_svg,
    )

    svg = render_heatmap_svg(
        ["1", "2"], ["1", "2"], [[10.0, 0.0], [3.0, 7.0]], "cm"
    )
    root = ET.fromstring(svg)
    cells = [
        el for el in root.iter() if el.get("class") == "cell"
    ]
    assert len(cells) == 4
    # vmax cell is full blue, zero cell is white
    fills = {c.get("fill") for c in cells}
    assert "rgb(8,81,156)" in fills and "rgb(255,255,255)" in fills
    # annotations present for every cell
    texts = [el.text for el in root.iter() if el.tag.endswith("text")]
    assert "10.0" in texts and "0.0" in texts


def test_confusion_heatmap_from_dataframe(spark):
    import xml.etree.ElementTree as ET

    from us_accidents_bigdata_pipeline_spark.ml.metrics import confusion_matrix
    from us_accidents_bigdata_pipeline_spark.operators.viz import (
        confusion_heatmap_svg,
    )

    preds = spark.createDataFrame(
        [(1.0, 1.0), (1.0, 2.0), (2.0, 2.0), (2.0, 2.0)],
        "label double, prediction double",
    )
    svg = confusion_heatmap_svg(confusion_matrix(preds))
    root = ET.fromstring(svg)
    cells = [el for el in root.iter() if el.get("class") == "cell"]
    assert len(cells) == 4  # 2x2 including the zero (2,1) cell
