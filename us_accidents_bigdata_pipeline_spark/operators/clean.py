"""Cleaning pipeline: the reference's ETL stage re-expressed as one
declarative transform (SURVEY §2.2; BigDataPipeline/spark/data_cleaning.py).

Reference semantics reproduced:
- defensive projection: wanted ∩ existing columns (data_cleaning.py:45)
- rename to safe identifiers (data_cleaning.py:52-60)
- numeric imputation: approximate median or constant, NaN-aware
  (data_cleaning.py:67-71)
- categorical: null/"" → 'Unknown' (data_cleaning.py:76-78)
- boolean flags → 0/1 int (data_cleaning.py:81-86)
- temporal features hour/dayofweek/month then drop source col
  (data_cleaning.py:89-93)
- validity filters: non-null coords, severity range (data_cleaning.py:96-97)

Everything is a single chained DataFrame transform → one scan, one
write; the imputation statistics (medians) are the only extra job, and
they are computed in ONE multi-column agg, not per-column round-trips
(the reference's v2:cell19 anti-pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import bool_to_int, impute_value, normalize_empty_string


def select_existing(df: DataFrame, wanted: list[str]) -> DataFrame:
    """Project wanted ∩ existing (schema-drift tolerance, data_cleaning.py:45)."""
    existing = [c for c in wanted if c in df.columns]
    return df.select(*existing)


# The reference's accidents cleaning rules (data_cleaning.py:34-97).
KEEP = [
    "ID", "Severity", "Start_Time", "Start_Lat", "Start_Lng",
    "Distance(mi)", "City", "County", "State",
    "Temperature(F)", "Humidity(%)", "Pressure(in)", "Visibility(mi)",
    "Wind_Speed(mph)", "Precipitation(in)", "Weather_Condition",
    "Amenity", "Crossing", "Junction", "Railway", "Station", "Stop",
    "Traffic_Signal", "Sunrise_Sunset",
]
RENAME = {
    "Distance(mi)": "Distance_mi",
    "Temperature(F)": "Temperature_F",
    "Humidity(%)": "Humidity_Percent",
    "Pressure(in)": "Pressure_in",
    "Visibility(mi)": "Visibility_mi",
    "Wind_Speed(mph)": "Wind_Speed_mph",
    "Precipitation(in)": "Precipitation_in",
}
IMPUTE_MEDIAN = [
    "Temperature_F", "Humidity_Percent", "Pressure_in",
    "Visibility_mi", "Wind_Speed_mph",
]
IMPUTE_CONSTANT = {"Precipitation_in": 0.0, "Distance_mi": 0.0}
CATEGORICAL_UNKNOWN = ["City", "County", "Weather_Condition", "Sunrise_Sunset"]
BOOL_FLAGS = [
    "Amenity", "Crossing", "Junction", "Railway", "Station", "Stop",
    "Traffic_Signal",
]
TIMESTAMP_COL = "Start_Time"
NOT_NULL = ["Start_Lat", "Start_Lng"]
SEVERITY_RANGE = (1, 4)


def compute_medians(df: DataFrame, cols: list[str]) -> dict[str, float]:
    """Median per column in ONE aggregate job: percentile_approx
    (Greenwald-Khanna, the reference's approxQuantile path,
    data_cleaning.py:67) — mergeable sketch, single pass, scale-safe.
    """
    if not cols:
        return {}
    row = df.agg(
        *[F.percentile_approx(c, F.lit(0.5), F.lit(10000)).alias(c) for c in cols]
    ).head()
    return {c: (row[c] if row[c] is not None else 0.0) for c in cols}


def clean(df: DataFrame) -> DataFrame:
    """Apply the accidents cleaning rules as one chained transform."""
    out = select_existing(df, KEEP)
    for old, new in RENAME.items():
        if old in out.columns:
            out = out.withColumnRenamed(old, new)

    medians = compute_medians(out, [c for c in IMPUTE_MEDIAN if c in out.columns])
    exprs = []
    for c in out.columns:
        if c in medians:
            exprs.append(impute_value(c, medians[c]).alias(c))
        elif c in IMPUTE_CONSTANT:
            exprs.append(impute_value(c, IMPUTE_CONSTANT[c]).alias(c))
        elif c in CATEGORICAL_UNKNOWN:
            exprs.append(normalize_empty_string(c).alias(c))
        elif c in BOOL_FLAGS:
            exprs.append(bool_to_int(c).alias(c))
        else:
            exprs.append(F.col(c))
    out = out.select(*exprs)

    if TIMESTAMP_COL in out.columns:
        out = (
            out.withColumn("hour_of_day", F.hour(TIMESTAMP_COL))
            .withColumn("day_of_week", F.dayofweek(TIMESTAMP_COL))
            .withColumn("month", F.month(TIMESTAMP_COL))
            .drop(TIMESTAMP_COL)
        )

    for c in NOT_NULL:
        if c in out.columns:
            cond = F.col(c).isNotNull()
            # NaN-aware for floating columns: pandas/Arrow ingestion
            # surfaces missing doubles as NaN, which passes isNotNull —
            # a NaN coordinate is as invalid as a null one
            if dict(out.dtypes).get(c) in ("double", "float"):
                cond = cond & ~F.isnan(F.col(c))
            out = out.filter(cond)
    if "Severity" in out.columns:
        out = out.filter(F.col("Severity").between(*SEVERITY_RANGE))
    return out
