"""Synthetic accidents-raw fixture generator (FIXTURES.md §1).

Deterministic (seeded ``rand``/``randn``) generator of the reference's
46-column-style raw table — the subset the cleaning pipeline consumes —
with the reference's data quirks: nulls at realistic rates, empty strings,
quoted commas in free text, Severity skewed to 2, and a learnable
severity signal (so ML golden tests have a floor to assert against:
severity correlates with Distance, Visibility, Wind and the
Traffic_Signal flag, echoing the reference's feature-importance
findings, BASELINE.md 'Distance_mi ≈ 0.56').
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

STATES = ["CA", "TX", "FL", "NY", "PA", "OH", "IL", "NC"]
WEATHER = ["Fair", "Mostly Cloudy", "Cloudy", "Light Rain", "Rain", "Light Snow", "Fog"]


def generate_accidents_raw_distributed(
    spark: SparkSession, n_rows: int = 1_000_000, seed: int = 42
) -> DataFrame:
    """The accidents fixture, generated on the executors: seeded
    ``rand()/randn()`` column expressions over ``spark.range``, so
    generation runs where the data will live instead of serializing a
    driver-side frame (150s → seconds at ~800k rows). The output is
    deterministic for a given seed and ``spark.range`` partition count
    (each partition draws its own seeded stream).

    CORRECTNESS TRAP (hit in round 1): nondeterministic expressions
    like ``rand()`` advance their per-partition stream on EVERY
    evaluation. Inside a ``when()`` chain a subexpression is evaluated a
    branch-dependent number of times per row, so reusing the same
    ``rand``-backed Column in the label formula AND as an output column
    silently decorrelates them (measured: zero feature-label signal).
    Therefore all random draws are materialized in a FIRST projection —
    each ``rand`` instance evaluated exactly once per row — and the
    label/score logic is a deterministic SECOND projection over those
    columns.
    """
    from pyspark.sql import functions as F

    base = spark.range(n_rows).select(
        "id",
        (F.rand(seed + 1) * (49.5 - 24.5) + 24.5).alias("_lat"),
        (F.rand(seed + 2) * (-66.5 + 125.0) - 125.0).alias("_lng"),
        (-F.log(F.rand(seed + 3)) * 0.8).alias("_dist"),
        F.greatest(
            F.least(F.randn(seed + 4) * 2.5 + 8.5, F.lit(10.0)), F.lit(0.0)
        ).alias("_vis"),
        F.greatest(
            F.least(
                (F.randn(seed + 5) * 6 + 10) + F.rand(seed + 6) * 8, F.lit(60.0)
            ),
            F.lit(0.0),
        ).alias("_wind"),
        (F.rand(seed + 7) < 0.2).alias("_signal"),
        (F.randn(seed + 8) * 0.55).alias("_noise"),
    )

    lat = F.col("_lat")
    lng = F.col("_lng")
    distance = F.col("_dist")
    visibility = F.col("_vis")
    wind = F.col("_wind")
    signal = F.col("_signal")

    # deterministic over the materialized draws — safe inside when()
    score = (
        1.1 * distance
        + 0.18 * (10 - visibility)
        + 0.045 * wind
        - 0.8 * signal.cast("double")
        + F.col("_noise")
    )
    severity = (
        F.when(score < 0.35, 1)
        .when(score > 3.6, 4)
        .when(score > 2.2, 3)
        .otherwise(2)
        .cast("int")
    )

    def nullify(col, rate: float, salt: int):
        return F.when(F.rand(seed + salt) < rate, F.lit(None)).otherwise(col)

    def u(lo: float, hi: float, salt: int):
        # independent uniform draws for feature columns outside the
        # label formula — each instance evaluated exactly once per row
        return F.rand(seed + salt) * (hi - lo) + lo

    df = base
    out = df.select(
        F.concat(F.lit("A-"), F.col("id")).alias("ID"),
        severity.alias("Severity"),
        (
            F.timestamp_seconds(
                F.lit(1454284800) + (F.rand(seed + 9) * 7 * 365.25 * 86400).cast("long")
            )
        ).alias("Start_Time"),
        F.when(
            F.rand(seed + 10) < 0.3,
            F.lit('Accident on I-5, "heavy traffic", lane blocked'),
        )
        .otherwise(F.lit("Minor incident reported"))
        .alias("Description"),
        nullify(lat, 0.01, 11).alias("Start_Lat"),
        nullify(lng, 0.01, 12).alias("Start_Lng"),
        nullify(distance, 0.05, 13).alias("Distance(mi)"),
        F.element_at(
            F.array(
                F.lit("Springfield"),
                F.lit("Fairview"),
                F.lit(""),
                F.lit("Riverton"),
                F.lit("Midland"),
            ),
            (F.rand(seed + 14) * 5).cast("int") + 1,
        ).alias("City"),
        F.element_at(
            F.array(F.lit("North"), F.lit("South"), F.lit("East"), F.lit("West")),
            (F.rand(seed + 15) * 4).cast("int") + 1,
        ).alias("County"),
        F.element_at(
            F.array(*[F.lit(s) for s in STATES]),
            (F.rand(seed + 16) * len(STATES)).cast("int") + 1,
        ).alias("State"),
        nullify(u(-20, 115, 17), 0.03, 18).alias("Temperature(F)"),
        nullify(u(0, 100, 19), 0.03, 20).alias("Humidity(%)"),
        nullify(u(28, 31, 21), 0.03, 22).alias("Pressure(in)"),
        nullify(visibility, 0.03, 23).alias("Visibility(mi)"),
        nullify(wind, 0.08, 24).alias("Wind_Speed(mph)"),
        nullify(-F.log(F.rand(seed + 25)) * 0.05, 0.2, 26).alias(
            "Precipitation(in)"
        ),
        F.element_at(
            F.array(*[F.lit(w) for w in WEATHER + [""]]),
            (F.rand(seed + 27) * (len(WEATHER) + 1)).cast("int") + 1,
        ).alias("Weather_Condition"),
        (F.rand(seed + 28) < 0.05).alias("Amenity"),
        (F.rand(seed + 29) < 0.1).alias("Crossing"),
        (F.rand(seed + 30) < 0.15).alias("Junction"),
        (F.rand(seed + 31) < 0.03).alias("Railway"),
        (F.rand(seed + 32) < 0.05).alias("Station"),
        (F.rand(seed + 33) < 0.08).alias("Stop"),
        signal.alias("Traffic_Signal"),
        F.when(F.rand(seed + 34) < 0.5, "Day").otherwise("Night").alias(
            "Sunrise_Sunset"
        ),
    )
    return out
