"""Structured Streaming extension (SURVEY §2.10).

The reference's streaming story stops at a Kafka *producer*
(scripts/kafka_producer.py) — no Spark job ever consumes the topic.
This module completes the capability the architecture gestures at,
idiomatically: readStream → from_json → withWatermark → windowed
aggregation → sink, with ``applyInPandasWithState`` available for
custom stateful operators.

For environments without a broker (this container), the same pipeline
runs over a file stream: ``parquet_stream_reader`` +
``run_windowed_batch`` drive it synchronously to completion with a
memory sink — the pattern the tests and the driver's rows-only check
use. The Kafka reader is config-identical (swap the source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.io import read_nanos_ts


def parse_kafka_frame(raw: DataFrame, schema: T.StructType) -> DataFrame:
    """(key, value) Kafka wire frame → typed event frame: the consumer
    half of the producer's message shape (``sources/io.kafka_payload``
    builds the other half). Factored out of the Kafka reader so the
    parse logic is executable — and round-trip-testable against the
    payload builder — without a broker."""
    return raw.select(
        F.col("key").cast("string").alias("_key"),
        F.from_json(F.col("value").cast("string"), schema).alias("_data"),
    ).select("_key", "_data.*")


def kafka_stream_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema: T.StructType,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source → parsed event frame.

    Consumes the message shape the reference's producer writes (one
    JSON object per row, key = ID, kafka_producer.py:49-78). Requires
    the spark-sql-kafka package on the classpath (not in this
    container — the parse half is exercised broker-free via
    ``parse_kafka_frame``).
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_kafka_frame(raw, schema)


def parquet_stream_reader(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    glob_filter: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based stream source with identical downstream semantics.

    ``path`` must be a DIRECTORY (file-stream source requirement);
    ``glob_filter`` narrows to specific files within it. Schema must be
    explicit for streams. ``max_files_per_trigger`` splits available
    files across micro-batches — the lever tests use to force REAL
    multi-batch execution (state carry-over, timeouts) on bounded
    input."""
    reader = spark.readStream.format("parquet").schema(schema)
    if glob_filter:
        reader = reader.option("pathGlobFilter", glob_filter)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def adaptive_ts_stream(
    spark: SparkSession,
    path: str,
    glob_filter: str = "events.parquet",
) -> DataFrame:
    """File stream whose ``ts`` encoding is detected, not assumed.

    Parquet fixtures have shipped ``ts`` three ways: TIMESTAMP(NANOS)
    (Spark's vectorized reader surfaces it as **long** under
    ``spark.sql.legacy.parquet.nanosAsLong``), TIMESTAMP_MICROS
    (``TIMESTAMP_NTZ``), and adjusted-to-UTC ``TIMESTAMP``. A stream
    source needs an explicit schema, so hardcoding any one encoding
    silently corrupts the others (a micros value divided by 1000 lands
    in 1970). Probe a cheap batch read (footer-only schema resolution)
    and decode exactly as the batch loader does
    (``sources.io.read_nanos_ts``): long nanos → a microsecond timestamp;
    native timestamp types pass through untouched. Session timezone is
    pinned UTC so NTZ and UTC-adjusted values agree wall-clock."""

    def open_stream() -> DataFrame:
        probe = spark.read.option("pathGlobFilter", glob_filter).parquet(path)
        return parquet_stream_reader(spark, path, probe.schema, glob_filter)

    stream = read_nanos_ts(spark, open_stream)
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        # withWatermark (EVENT_TIME) accepts only TIMESTAMP; the cast is
        # wall-clock-preserving because the session tz is pinned UTC.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    value_col: str | None = "value",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation: count (+ sum of
    ``value_col`` when present/valid) per (window, key).

    Late-data semantics are OUTPUT-MODE dependent: in ``update``/
    ``append`` mode (production sinks) the watermark evicts window
    state and drops rows later than it — state is bounded, which is
    what makes this run forever at scale. In ``complete`` mode (the
    memory-sink smoke path, ``run_windowed_batch``) Spark keeps ALL
    window state and drops nothing — fine for bounded test input, not a
    production configuration.

    ``value_col=None`` (or a column absent from the frame, e.g. the
    accidents stream shape of FIXTURES §5) yields counts only."""
    w = (
        F.window(ts_col, window_duration, slide)
        if slide
        else F.window(ts_col, window_duration)
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    out_cols = ["n"]
    if value_col and value_col in events.columns:
        aggs.append(F.sum(value_col).alias(f"sum_{value_col}"))
        out_cols.append(f"sum_{value_col}")
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(w.alias("win"), F.col(key_col))
        .agg(*aggs)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            *out_cols,
        )
    )


def session_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session-window aggregation: events closer than ``gap`` merge into
    one session per key (``F.session_window`` — the streaming twin of
    the batch ``sessionize_events`` lag/running-sum query).

    Output: (session_start, session_end, key, n_events) where
    session_start = first event ts and session_end = last event ts +
    gap. Same mode caveat as ``windowed_counts``: the watermark bounds
    state in update/append mode; the complete-mode smoke path keeps all
    state. Session windows are merge-on-trigger state — at scale the
    shuffle partitions by key, and numShufflePartitions sizes the state
    store."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sw"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def run_to_files(
    agg: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    fmt: str = "parquet",
) -> None:
    """Drive a streaming query to completion through a FILE sink — the
    production shape (exactly-once via checkpointed offsets + file
    manifest), complementing ``run_windowed_batch``'s complete-mode
    memory smoke path.

    Append mode + file sink is where watermark semantics become real:
    a windowed aggregate emits a window only once its watermark passes
    the window end (finality), rows later than the watermark are
    DROPPED, and state for closed windows is evicted — the behavior
    that bounds state forever on an unbounded stream. Restarting with
    the same ``checkpoint`` resumes exactly-once from the recorded
    offsets."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_windowed_batch(
    agg: DataFrame,
    query_name: str = "windowed_out",
    output_mode: str = "complete",
) -> DataFrame:
    """Drive a streaming query synchronously to completion via the
    memory sink and return the result as a batch DataFrame — the local
    smoke-path for streaming pipelines.

    Default COMPLETE output mode (aggregations): every window ever seen
    is emitted and none is evicted, so on bounded input the result
    equals the batch aggregation. This intentionally differs from
    production semantics — with update/append + a real sink the
    watermark drops late rows and bounds state (see
    ``windowed_counts``); tests that need the late-drop behavior should
    assert through an append-mode file sink instead. Stateful
    ``applyInPandasWithState`` plans require ``output_mode="update"``
    (rows accumulate per trigger in the memory table — aggregate
    monotone columns with max() to get finals); non-aggregated streams
    (e.g. streaming dedup) require ``"append"``."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark = agg.sparkSession
    return spark.table(query_name)
