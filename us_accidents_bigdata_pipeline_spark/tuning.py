"""Physical tuning operators (SURVEY §2.12 X1-X6) + the driver-collect
size guards (SURVEY §7.4.7).

The reference sprinkles cache()/persist()/repartition() ad hoc; these
helpers make the same knobs explicit and add the one policy the
reference lacked: a hard row-count guard before anything crosses the
executor→driver boundary (its v2:cell35 pulled 7.7M rows through a
non-Arrow toPandas — the engine refuses that by default).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame


class DriverCollectGuard(RuntimeError):
    pass


def safe_collect(df: DataFrame, max_rows: int = 1_000_000) -> list:
    """S13 with a guard: refuse collects beyond ``max_rows`` (counted
    first — one cheap job vs an OOM'd driver)."""
    n = df.count()
    if n > max_rows:
        raise DriverCollectGuard(
            f"collect() of {n} rows exceeds guard ({max_rows}); "
            "aggregate or sample first"
        )
    return df.collect()


def safe_to_pandas(df: DataFrame, max_rows: int = 5_000_000) -> pd.DataFrame:
    """Arrow-batched toPandas behind the same guard (SURVEY §7.4.7)."""
    n = df.count()
    if n > max_rows:
        raise DriverCollectGuard(
            f"toPandas() of {n} rows exceeds guard ({max_rows}); "
            "sample or aggregate first"
        )
    return arrow_to_pandas(df)


def arrow_to_pandas(df: DataFrame) -> pd.DataFrame:
    """Unguarded Arrow-batched toPandas, for frames bounded by
    construction. The conf is set at call time because a caller-owned
    session need not carry session.py's defaults."""
    df.sparkSession.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return df.toPandas()


def right_size_partitions(
    df: DataFrame,
    n_rows: int | None = None,
    rows_per_partition: int = 20_000,
    max_parts: int | None = None,
    allow_grow: bool = False,
) -> DataFrame:
    """Size partitions by data volume before an iterative ML stage.

    MLlib tree/center aggregations pay a fixed per-task cost every
    iteration (stats arrays built and merged per partition); with tiny
    per-partition row counts that overhead dominates — measured 7.7x
    slower RF training at 32 partitions vs 8 on 48k rows. The flip side
    at larger tiers: too FEW partitions starves parallelism and load
    balance (2M-row tier, local[32]: 64 partitions fit RF ~15% faster
    than 32). AQE fixes this for SQL shuffles but not for MLlib
    training inputs, so ML stages right-size explicitly:
    ~rows_per_partition rows per task, capped at ``max_parts`` (default
    the cluster parallelism; iterative trainers that benefit from
    over-decomposition pass 2-4x that). Shrinking uses coalesce (no
    shuffle); growing — only with ``allow_grow`` — pays one repartition
    shuffle up front, amortized over the trainer's many passes.
    """
    n = n_rows if n_rows is not None else df.count()
    sc = df.sparkSession.sparkContext
    cap = max_parts or sc.defaultParallelism
    target = max(2, min(cap, (n + rows_per_partition - 1) // rows_per_partition))
    current = df.rdd.getNumPartitions()
    if target < current:
        return df.coalesce(int(target))
    if allow_grow and target > current:
        return df.repartition(int(target))
    return df


def salted_aggregate(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage aggregation for skewed keys.

    Stage 1 groups by (key, salt) — the hot key's rows spread over
    ``n_salts`` reducers; stage 2 merges the partials by key. Supported
    aggs: sum/count/min/max (decomposable). For unskewed data Catalyst's
    partial aggregation already does this implicitly; use salting when a
    single key dominates (the partial-agg hash map degrades to one
    entry and the final shuffle sends one giant partition).
    AQE's skew-join handling (enabled in session.py) covers the JOIN
    side; this covers groupBy.
    """
    from pyspark.sql import functions as F

    salt = F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    staged = df.withColumn("_salt", salt)

    stage1_aggs, stage2_aggs = [], []
    for col, how in aggs.items():
        partial = f"_p_{how}_{col}"
        if how == "count":
            stage1_aggs.append(F.count(F.lit(1)).alias(partial))
            stage2_aggs.append(F.sum(partial).alias(f"{how}_{col}"))
        elif how == "sum":
            stage1_aggs.append(F.sum(col).alias(partial))
            stage2_aggs.append(F.sum(partial).alias(f"{how}_{col}"))
        elif how == "min":
            stage1_aggs.append(F.min(col).alias(partial))
            stage2_aggs.append(F.min(partial).alias(f"{how}_{col}"))
        elif how == "max":
            stage1_aggs.append(F.max(col).alias(partial))
            stage2_aggs.append(F.max(partial).alias(f"{how}_{col}"))
        else:
            raise ValueError(f"non-decomposable agg: {how}")
    stage1 = staged.groupBy(*key_cols, "_salt").agg(*stage1_aggs)
    return stage1.groupBy(*key_cols).agg(*stage2_aggs)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table: joins/aggs on ``bucket_cols`` between
    co-bucketed tables skip the shuffle entirely (SortMergeJoin reads
    pre-partitioned buckets). The at-scale answer to repeated joins on
    the same key (e.g. fact tables bucketed by orderkey)."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    how: str = "inner",
    n_salts: int = 16,
) -> DataFrame:
    """Skew-safe equi-join via key salting (X-family extension).

    When one join key dominates the ``skewed`` side, a plain shuffle
    join sends every row of that key to ONE reducer — the straggler
    that defines the stage's wall-clock at 100 TB. Salting spreads it:
    the skewed side gets a random salt in [0, n_salts); the ``other``
    side is replicated n_salts× (explode over the full salt range) so
    every (key, salt) pair still finds its match; the join keys become
    (key, salt) and the hot key fans out over n_salts reducers.

    Trade-off: ``other`` is shuffled n_salts× — use when ``other`` is
    the smaller side yet too big to broadcast (broadcast beats salting
    whenever it fits; AQE's skew-join split handles moderate skew
    without replication — this helper is for the pathological key that
    AQE still can't split because it's ONE map-side partition).
    Supported: inner / left (semantics preserved because every skewed
    row carries exactly one salt and every other-row copy exists for
    every salt). Result is column-identical to the unsalted join.
    """
    from pyspark.sql import functions as F

    if how not in ("inner", "left"):
        raise ValueError(f"salted_join: unsupported how={how!r}")
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    left = skewed.withColumn("_salt", salt.cast("int"))
    right = other.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return left.join(right, on + ["_salt"], how).drop("_salt")


def write_with_metrics(
    df: DataFrame,
    path: str,
    metrics: dict,
    mode: str = "overwrite",
) -> dict:
    """Write parquet AND collect aggregate audit metrics in the SAME
    job via ``df.observe`` (``pyspark.sql.Observation``) — the
    zero-extra-pass audit. The naive pattern (``df.count()`` then
    ``df.write``, or write then re-read to count) scans the data
    twice; at 100 TB the second scan is hours. ``observe`` piggybacks
    the aggregates on the write job's task completion events, so the
    metrics are free and EXACTLY describe what was written (a separate
    count can silently disagree if the input is nondeterministic or
    changed between jobs).

    ``metrics``: name → aggregate Column (count/sum/min/max —
    Observation requires commutative aggregates, no distinct).
    Returns the observed values, e.g. ``{"n_rows": 123, ...}``.
    """
    from pyspark.sql import Observation

    obs = Observation("write_metrics")
    observed = df.observe(
        obs, *[expr.alias(name) for name, expr in metrics.items()]
    )
    observed.write.mode(mode).parquet(path)
    return obs.get
