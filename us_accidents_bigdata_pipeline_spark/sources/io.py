"""Readers and writers (SURVEY §2.1 S1-S13).

The reference reads a 3 GB CSV with ``inferSchema=true`` (an extra full
pass; ``BigDataPipeline/spark/data_cleaning.py:27-30``) and writes
snappy parquet (``data_cleaning.py:133``). At 100 TB, schema inference
is a non-starter: every reader here takes an explicit schema, and the
parquet writer supports ``partitionBy`` so downstream scans get
partition pruning (SURVEY §4 "partition pruning" improvement).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """Parquet scan (S2). Column pruning is explicit when ``columns``
    given so the scan's ReadSchema only carries what is needed."""
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def read_nanos_ts(spark: SparkSession, read: Callable[[], DataFrame]) -> DataFrame:
    """Run ``read`` (a batch or stream parquet read of the events table)
    so that its TIMESTAMP(NANOS) ``ts`` arrives as a microsecond timestamp.

    Spark's vectorized reader rejects TIMESTAMP(NANOS); under
    ``spark.sql.legacy.parquet.nanosAsLong`` it surfaces the column as
    long nanos, rebuilt here with integer division (double division
    would lose precision at 1e18 magnitudes — 53-bit mantissa). DuckDB's
    microsecond TIMESTAMP truncates the same way, so oracles agree.
    Both confs are set at read time because a caller's session may lack
    session.py's defaults; the session timezone is pinned UTC so
    timestamp extraction matches DuckDB's UTC-naive semantics. Columns
    of any other type pass through untouched."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read()
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan with explicit schema (S1) — never ``inferSchema`` at scale.

    Quote/escape handling defaults match Spark's RFC-4180-ish parser, the
    source of truth for quoted-comma fields (SURVEY §7.4.9: the
    reference's Hive TEXTFILE serde would mis-split them).
    """
    reader = spark.read.option("header", str(header).lower())
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.schema(schema).csv(path)


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Snappy parquet sink (S3) that overwrites ``path``, optionally
    hive-partitioned for pruning."""
    writer = df.write.mode("overwrite").option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed JSON sink (S4, v2:cell62-64)."""
    df.write.mode(mode).json(path)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load the driver testdata tables and register them as temp views so
    both the DataFrame API and ``spark.sql`` can address them (the
    reference's Hive-catalog path, SURVEY §3.4, minus the metastore)."""
    out = {}
    for name in names:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def write_csv(
    df: DataFrame, path: str, mode: str = "overwrite", header: bool = True
) -> None:
    """Distributed CSV sink (S7 done right: the reference funnels samples
    through ``limit(n).toPandas().to_csv`` — driver-bound; this writes
    part-files from executors)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_table(
    df: DataFrame, name: str, format: str = "parquet", mode: str = "overwrite"
) -> None:
    """Catalog-managed table (S10 — the Hive ORC tables of the
    reference, ``hive/create_tables.hql:99-100,116-117`` ORC+SNAPPY,
    re-expressed as ``saveAsTable``). Default format is parquet per
    SURVEY §1.1; pass ``format="orc"`` for byte-for-byte parity with
    the reference's managed-table layout (Spark's native ORC writer,
    snappy-compressed by default)."""
    df.write.mode(mode).format(format).saveAsTable(name)


def kafka_sink_options(bootstrap_servers: str, topic: str) -> dict[str, str]:
    """The exact writer options ``kafka_batch_sink`` sets — factored out
    so tests can assert the plumbing without a broker."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
    }


def kafka_batch_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    key_col: str,
    sink_format: str = "kafka",
) -> None:
    """Kafka batch sink (S11): replaces the reference's driver-side
    kafka-python producer loop (scripts/kafka_producer.py:40-88 — one
    process, row-at-a-time) with the distributed
    ``to_json(struct(*))`` writer: every executor publishes its
    partitions in parallel. Requires the spark-sql-kafka package on the
    classpath. ``sink_format`` is a test seam: brokerless environments
    pass ``"noop"`` (Spark's built-in discard sink) to execute the
    identical payload + writer path end-to-end."""
    writer = kafka_payload(df, key_col).write.format(sink_format).mode("append")
    for k, v in kafka_sink_options(bootstrap_servers, topic).items():
        writer = writer.option(k, v)
    writer.save()


def kafka_payload(df: DataFrame, key_col: str) -> DataFrame:
    """The (key, value) frame the Kafka sink publishes: key = key_col,
    value = whole-row JSON (the producer's message shape,
    kafka_producer.py:49-65)."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )


def mongodb_sink_options(uri: str, database: str, collection: str) -> dict[str, str]:
    """The exact writer options ``mongodb_sink`` sets (mongo-spark-
    connector v10 naming) — factored out so tests can assert the
    plumbing without a running MongoDB."""
    return {
        "spark.mongodb.write.connection.uri": uri,
        "spark.mongodb.write.database": database,
        "spark.mongodb.write.collection": collection,
    }


def mongodb_sink(
    df: DataFrame,
    uri: str,
    database: str,
    collection: str,
    mode: str = "append",
    sink_format: str = "mongodb",
) -> None:
    """MongoDB sink (S6, knn_classification.py:267-271). Requires the
    mongo-spark-connector on the classpath; callers without it should
    catch the AnalysisException and fall back to ``write_json`` (the
    reference keeps the same dual-sink pattern). ``sink_format`` is a
    test seam: brokerless environments pass ``"noop"`` to execute the
    identical writer path end-to-end."""
    writer = df.write.format(sink_format).mode(mode)
    for k, v in mongodb_sink_options(uri, database, collection).items():
        writer = writer.option(k, v)
    writer.save()


def read_csv_audited(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    corrupt_col: str = "_corrupt_record",
    **options: str,
) -> DataFrame:
    """CSV scan with malformed-row CAPTURE instead of silent nulls
    (S1 hardened). PERMISSIVE mode + an explicit corrupt-record column:
    rows that fail to parse land whole in ``corrupt_col`` (typed
    columns null), so ingest can quarantine them —
    ``df.filter(col(corrupt_col).isNotNull())`` — rather than losing
    them (DROPMALFORMED) or failing the 100 TB job on one bad line
    (FAILFAST). The schema passed in must NOT contain the corrupt
    column; it is appended here. Spark caveat handled: referencing only
    the corrupt column of a raw-parse frame is disallowed, so always
    select it alongside at least one data column (or cache first)."""
    full = T.StructType(
        schema.fields + [T.StructField(corrupt_col, T.StringType())]
    )
    reader = (
        spark.read.option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.schema(full).csv(path)


def read_parquet_evolving(
    spark: SparkSession, path: str, **options: str
) -> DataFrame:
    """Parquet scan across files with EVOLVED schemas (``mergeSchema``):
    the union schema is reconciled from all footers; files missing a
    column yield nulls for it. The pattern for long-lived datasets
    whose writers add columns over time. mergeSchema costs a
    footer-read per file at planning — at 100 TB pin the merged schema
    in a catalog table once it stabilizes instead of re-merging every
    read."""
    return spark.read.option("mergeSchema", "true").options(**options).parquet(
        path
    )


def schema_diff(before, after) -> dict:
    """Schema contract check between two StructTypes (or DataFrames):
    added / removed / type-changed / nullability-tightened columns.

    The review gate for schema evolution at scale: `mergeSchema`
    silently widens, so upstream contract breaks (a column vanishing,
    a double becoming a string) surface first as wrong results — this
    makes them a diffable artifact instead. Nullability TIGHTENING
    (nullable → required) is called out separately: it breaks writers
    that used to emit nulls, while loosening is compatible.
    """
    bs = before.schema if hasattr(before, "schema") else before
    as_ = after.schema if hasattr(after, "schema") else after
    b = {f.name: f for f in bs.fields}
    a = {f.name: f for f in as_.fields}
    return {
        "added": sorted(set(a) - set(b)),
        "removed": sorted(set(b) - set(a)),
        "type_changed": sorted(
            n
            for n in set(a) & set(b)
            if a[n].dataType != b[n].dataType
        ),
        "nullability_tightened": sorted(
            n
            for n in set(a) & set(b)
            if b[n].nullable and not a[n].nullable
        ),
    }
