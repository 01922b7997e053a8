"""Sink + tuning operator tests (SURVEY §2.1 S4-S11, §2.12, §7.4.7)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from us_accidents_bigdata_pipeline_spark.sources.io import (
    kafka_payload,
    load_tables,
    read_csv,
    write_csv,
    write_json,
    write_table,
)
from us_accidents_bigdata_pipeline_spark.tuning import (
    DriverCollectGuard,
    safe_collect,
    safe_to_pandas,
)

from .conftest import SF_ORACLE


def test_json_and_csv_sinks_roundtrip(spark, tmp_path):
    df = spark.read.parquet(f"{SF_ORACLE}/region.parquet")
    write_json(df, str(tmp_path / "j"))
    back_j = spark.read.json(str(tmp_path / "j"))
    assert back_j.count() == df.count()
    write_csv(df, str(tmp_path / "c"))
    back_c = read_csv(spark, str(tmp_path / "c"), "r_regionkey int, r_name string")
    assert {r.r_name for r in back_c.collect()} == {r.r_name for r in df.collect()}


def test_csv_quoted_commas_roundtrip(spark, tmp_path):
    # SURVEY §7.4.9: quoted commas must survive (the Hive TEXTFILE serde
    # in the reference would mis-split these)
    df = spark.createDataFrame(
        [(1, 'on I-5, "heavy traffic", blocked'), (2, "plain")], ["id", "desc"]
    )
    write_csv(df, str(tmp_path / "q"))
    back = read_csv(spark, str(tmp_path / "q"), "id int, desc string")
    assert {r.desc for r in back.collect()} == {r.desc for r in df.collect()}


def test_write_table_catalog(spark):
    df = spark.read.parquet(f"{SF_ORACLE}/nation.parquet")
    write_table(df, "nation_tbl")
    assert spark.table("nation_tbl").count() == 25
    assert spark.sql("SELECT count(*) AS n FROM nation_tbl").head().n == 25
    spark.sql("DROP TABLE nation_tbl")


def test_write_table_orc_passthrough(spark):
    """S10's format passthrough matches the reference's ORC tables
    (hive/create_tables.hql:99-100 uses ORC+Snappy); SURVEY §1.1 keeps
    parquet as the default, ORC stays one argument away."""
    df = spark.read.parquet(f"{SF_ORACLE}/region.parquet")
    write_table(df, "region_orc", format="orc")
    back = spark.table("region_orc")
    assert back.count() == 5
    assert {r.r_name for r in back.collect()} == {r.r_name for r in df.collect()}
    prov = spark.sql("DESCRIBE FORMATTED region_orc").collect()
    assert any("orc" in str(r).lower() for r in prov)
    spark.sql("DROP TABLE region_orc")


def test_kafka_payload_shape(spark):
    df = spark.read.parquet(f"{SF_ORACLE}/region.parquet")
    payload = kafka_payload(df, "r_regionkey")
    rows = payload.collect()
    assert set(payload.columns) == {"key", "value"}
    doc = json.loads(rows[0].value)
    assert set(doc) == {"r_regionkey", "r_name"}


def test_load_tables_registers_views(spark):
    tables = load_tables(spark, SF_ORACLE, ("region", "nation"))
    assert set(tables) == {"region", "nation"}
    joined = spark.sql(
        """SELECT r.r_name, count(*) AS n FROM nation n
           JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY r.r_name"""
    )
    assert joined.agg(F.sum("n")).head()[0] == 25


def test_collect_guards(spark):
    df = spark.range(1000)
    assert len(safe_collect(df, max_rows=1000)) == 1000
    with pytest.raises(DriverCollectGuard):
        safe_collect(df, max_rows=999)
    pdf = safe_to_pandas(df, max_rows=1000)
    assert len(pdf) == 1000
    with pytest.raises(DriverCollectGuard):
        safe_to_pandas(df, max_rows=10)


def test_kafka_batch_sink_executes_via_noop(spark):
    # the full sink path (payload build -> format -> options -> save)
    # runs end-to-end against Spark's built-in noop sink; only the
    # format string differs from a real broker write
    from us_accidents_bigdata_pipeline_spark.sources.io import (
        kafka_batch_sink,
        kafka_sink_options,
    )

    df = spark.read.parquet(f"{SF_ORACLE}/region.parquet")
    kafka_batch_sink(
        df, "broker:9092", "events_topic", "r_regionkey", sink_format="noop"
    )
    assert kafka_sink_options("broker:9092", "events_topic") == {
        "kafka.bootstrap.servers": "broker:9092",
        "topic": "events_topic",
    }


def test_mongodb_sink_executes_via_noop(spark):
    from us_accidents_bigdata_pipeline_spark.sources.io import (
        mongodb_sink,
        mongodb_sink_options,
    )

    df = spark.read.parquet(f"{SF_ORACLE}/nation.parquet")
    mongodb_sink(
        df, "mongodb://host:27017", "bigdata", "results", sink_format="noop"
    )
    opts = mongodb_sink_options("mongodb://host:27017", "bigdata", "results")
    assert opts == {
        "spark.mongodb.write.connection.uri": "mongodb://host:27017",
        "spark.mongodb.write.database": "bigdata",
        "spark.mongodb.write.collection": "results",
    }


def test_catalog_registration_and_pure_sql(spark):
    # S9/S10: CREATE TABLE ... USING parquet LOCATION over existing
    # testdata, then query by pure spark.sql — the Hive DDL analog
    from us_accidents_bigdata_pipeline_spark.sources.catalog import (
        register_external_tables,
        sql_on_catalog,
    )

    register_external_tables(
        spark, SF_ORACLE, names=("region", "nation"), database="uabp_test"
    )
    tables = {t.name for t in spark.catalog.listTables("uabp_test")}
    assert {"region", "nation"} <= tables
    n = spark.sql("SELECT count(*) AS n FROM uabp_test.nation").head()[0]
    assert n == 25
    # EXTERNAL semantics: dropping the table must not delete the data
    spark.sql("DROP TABLE uabp_test.nation")
    assert spark.read.parquet(f"{SF_ORACLE}/nation.parquet").count() == 25
    # re-registration is idempotent and the helper restores the db
    out = sql_on_catalog(
        spark,
        SF_ORACLE,
        """SELECT r.r_name, count(*) AS n FROM nation n
           JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY r.r_name""",
        database="uabp_test",
    )
    assert out.agg(F.sum("n")).head()[0] == 25
    assert spark.catalog.currentDatabase() == "default"


def test_kafka_payload_parse_roundtrip(spark):
    # producer payload builder -> consumer parse logic: lossless
    # round-trip of the wire shape without a broker
    from us_accidents_bigdata_pipeline_spark.streaming import (
        parse_kafka_frame,
    )

    df = spark.read.parquet(f"{SF_ORACLE}/nation.parquet")
    wire = kafka_payload(df, "n_nationkey")
    back = parse_kafka_frame(wire, df.schema)
    rows = {r.n_nationkey: (r._key, r.n_name) for r in back.collect()}
    orig = {r.n_nationkey: r.n_name for r in df.collect()}
    assert len(rows) == len(orig)
    for k, (key_str, name) in rows.items():
        assert key_str == str(k)
        assert name == orig[k]


def test_ship_package_zip_contents(spark):
    # the addPyFile archive must contain the full package importable at
    # its canonical name, and re-shipping the same context is a no-op
    import zipfile

    from us_accidents_bigdata_pipeline_spark import session as sess

    sess.ship_package(spark)
    sess.ship_package(spark)  # idempotent per SparkContext
    assert id(spark.sparkContext) in sess._SHIPPED
    # rebuild the archive the same way to inspect expected contents
    sess._SHIPPED.discard(id(spark.sparkContext))
    sess.ship_package(spark)
    # the most recent zip registered with the context lives in its
    # addedFiles; instead verify by rebuilding: walk the package and
    # confirm every module would be archived under the package root
    import us_accidents_bigdata_pipeline_spark as pkg
    import os

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    mods = {
        os.path.relpath(os.path.join(root, f), os.path.dirname(pkg_dir))
        for root, _d, files in os.walk(pkg_dir)
        if "__pycache__" not in root
        for f in files
        if f.endswith(".py")
    }
    assert "us_accidents_bigdata_pipeline_spark/__init__.py" in mods
    assert "us_accidents_bigdata_pipeline_spark/plans/queries.py" in mods
    # and the archive itself (latest tmp zip) holds the same names
    import glob
    import tempfile

    zips = sorted(
        glob.glob(
            os.path.join(
                tempfile.gettempdir(), "uabp_pyfiles_*",
                "us_accidents_bigdata_pipeline_spark.zip",
            )
        ),
        key=os.path.getmtime,
    )
    assert zips
    with zipfile.ZipFile(zips[-1]) as zf:
        names = set(zf.namelist())
    assert mods <= names


def test_write_table_orc_roundtrip(spark):
    # S10: the reference's Hive ORC tables -> saveAsTable(format="orc");
    # catalog read-back must be lossless
    from us_accidents_bigdata_pipeline_spark.sources.io import write_table

    df = spark.read.parquet(f"{SF_ORACLE}/region.parquet")
    spark.sql("DROP TABLE IF EXISTS uabp_orc_region")
    write_table(df, "uabp_orc_region", format="orc")
    try:
        back = spark.table("uabp_orc_region")
        assert back.count() == df.count()
        assert {r.r_name for r in back.collect()} == {
            r.r_name for r in df.collect()
        }
        fmt = spark.sql("DESCRIBE FORMATTED uabp_orc_region").collect()
        assert any("orc" in str(r).lower() for r in fmt)
    finally:
        spark.sql("DROP TABLE IF EXISTS uabp_orc_region")


def test_haversine_km_known_distances(spark):
    """Pin haversine against independently-known great-circle facts:
    one degree of latitude ~111.19 km anywhere; antipodal points =
    half the earth circumference; zero distance; NULL propagation."""
    from us_accidents_bigdata_pipeline_spark.functions import haversine_km

    rows = [
        # (lat1, lng1, lat2, lng2, expected_km, tol)
        (0.0, 0.0, 1.0, 0.0, 111.195, 0.01),     # 1 deg lat at equator
        (51.5, -0.1, 51.5, -0.1, 0.0, 1e-9),      # same point
        (0.0, 0.0, 0.0, 180.0, 20015.1, 1.0),     # antipodal on equator
        (40.7128, -74.0060, 34.0522, -118.2437, 3935.7, 5.0),  # NYC-LA
    ]
    df = spark.createDataFrame(
        [(a, b, c, d) for a, b, c, d, _, _ in rows],
        "lat1 double, lng1 double, lat2 double, lng2 double",
    )
    got = df.select(
        haversine_km("lat1", "lng1", "lat2", "lng2").alias("km")
    ).collect()
    for (_, _, _, _, exp, tol), r in zip(rows, got):
        assert abs(r.km - exp) <= tol, (exp, r.km)

    nulls = spark.createDataFrame(
        [(None, 0.0, 1.0, 1.0)],
        "lat1 double, lng1 double, lat2 double, lng2 double",
    )
    assert (
        nulls.select(haversine_km("lat1", "lng1", "lat2", "lng2").alias("km"))
        .first()
        .km
        is None
    )


def test_read_csv_audited_quarantines_malformed(spark, tmp_path):
    from us_accidents_bigdata_pipeline_spark.sources.io import read_csv_audited

    import pyspark.sql.types as T

    p = tmp_path / "bad.csv"
    p.write_text(
        "id,qty,price\n"
        "1,5,9.99\n"
        "2,notanumber,3.50\n"       # qty fails the int cast
        "3,7,1.25\n"
        '4,"unterminated,2.00\n'    # broken quoting
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("qty", T.IntegerType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    df = read_csv_audited(spark, str(p), schema).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert {r.id for r in good.collect()} == {1, 3}
    # quarantined rows keep their raw text for repair
    bad_rows = bad.collect()
    assert len(bad_rows) == 2
    assert any("notanumber" in r._corrupt_record for r in bad_rows)
    df.unpersist()


def test_read_parquet_evolving_merges_schemas(spark, tmp_path):
    from us_accidents_bigdata_pipeline_spark.sources.io import (
        read_parquet_evolving,
    )

    d = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.mode(
        "append"
    ).parquet(d)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.mode("append").parquet(d)
    df = read_parquet_evolving(spark, d)
    assert set(df.columns) == {"id", "v", "score"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows == {1: None, 2: 9.5}


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    import glob

    from us_accidents_bigdata_pipeline_spark.operators.layout import compact_parquet

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    e = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    # simulate a streaming sink's fragmentation: 64 tiny files
    e.repartition(64).write.parquet(src)

    n_out = compact_parquet(spark, src, dst, target_rows_per_file=e.count())
    assert len(glob.glob(f"{src}/*.parquet")) == 64
    assert n_out == 1  # the whole table fits one file's row target
    back = spark.read.parquet(dst)
    assert back.count() == e.count()
    assert (
        back.agg(F.sum("event_id")).first()[0]
        == e.agg(F.sum("event_id")).first()[0]
    )


def test_write_audit_publish_gates_bad_data(spark, tmp_path):
    from us_accidents_bigdata_pipeline_spark.sources.table import (
        read_current,
        write_audit_publish,
    )

    d = str(tmp_path / "wap")
    good = spark.range(100).selectExpr("id", "id * 2 AS v")
    checks = [
        ("nonempty", lambda df: df.count() > 0),
        ("no_null_ids", lambda df: df.filter("id IS NULL").count() == 0),
        ("v_even", lambda df: df.filter("v % 2 != 0").count() == 0),
    ]
    r1 = write_audit_publish(good, d, checks)
    assert r1["published"] and all(r1["audit"].values())
    assert read_current(spark, d).count() == 100

    # a bad batch fails its audit; the LIVE pointer must not move
    bad = spark.range(10).selectExpr("id", "id * 2 + 1 AS v")
    r2 = write_audit_publish(bad, d, checks)
    assert not r2["published"]
    assert r2["audit"]["v_even"] is False
    live = read_current(spark, d)
    assert live.count() == 100  # still version 1

    # next good batch publishes at a later version
    r3 = write_audit_publish(good.limit(7), d, checks)
    assert r3["published"] and r3["version"] > r2["version"]
    assert read_current(spark, d).count() == 7


def test_write_audit_publish_versions_join_the_snapshot_log(spark, tmp_path):
    """Write-Audit-Publish commits through the versioned-table protocol:
    its versions are listed, time-travelled and vacuumed like any other,
    and a rejected audit adds no version."""
    from us_accidents_bigdata_pipeline_spark.sources.table import (
        list_versions,
        read_current,
        read_version,
        vacuum_versions,
        write_audit_publish,
    )

    d = str(tmp_path / "wap_log")
    checks = [("v_even", lambda df: df.filter("v % 2 != 0").count() == 0)]

    def rows(n, odd=False):
        return spark.range(n).selectExpr("id", f"id * 2 + {int(odd)} AS v")

    assert write_audit_publish(rows(10), d, checks)["published"]
    assert write_audit_publish(rows(4), d, checks)["published"]
    assert list_versions(d) == [1, 2]
    assert read_version(spark, d, 1).count() == 10
    assert read_current(spark, d).count() == 4

    rejected = write_audit_publish(rows(3, odd=True), d, checks)
    assert not rejected["published"]
    assert list_versions(d) == [1, 2]
    with pytest.raises(FileNotFoundError):
        read_version(spark, d, rejected["version"])
    assert read_current(spark, d).count() == 4

    r = write_audit_publish(rows(6), d, checks)
    assert r["published"] and r["version"] > rejected["version"]
    assert vacuum_versions(d, keep=2) == [1]
    assert list_versions(d) == [2, r["version"]]
    assert read_current(spark, d).count() == 6


def test_observe_metrics_piggyback_on_query(spark):
    """The Observation API collects accumulator-style metrics DURING a
    query (no second scan) — production pipelines use it to emit row
    counts / null rates / value sums alongside the real output instead
    of paying a separate audit pass over 100 TB."""
    from pyspark.sql import Observation

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    obs = Observation("audit")
    out = (
        li.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").alias("total_qty"),
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias(
                "n_discounted"
            ),
        )
        .groupBy("l_returnflag")
        .agg(F.sum("l_extendedprice").alias("rev"))
    )
    n_groups = out.count()  # one pass drives BOTH the query and the metrics
    m = obs.get
    assert n_groups == 3
    assert m["n_rows"] == li.count()
    assert abs(m["total_qty"] - li.agg(F.sum("l_quantity")).first()[0]) < 1e-6
    assert m["n_discounted"] == li.filter(F.col("l_discount") > 0.05).count()


def test_file_metadata_column_lineage(spark, tmp_path):
    """File-source lineage via the hidden `_metadata` struct: every row
    can carry the file it came from (and size/mod time) with zero extra
    scan cost — the ingest-audit primitive for 100 TB backfills where
    'which file produced this bad row' must be answerable."""
    src = str(tmp_path / "parts")
    df = spark.range(100).withColumn("bucket", F.col("id") % 4)
    df.write.partitionBy("bucket").parquet(src)

    back = spark.read.parquet(src).select(
        "id", "bucket", F.col("_metadata.file_path").alias("fp")
    )
    rows = back.collect()
    assert len(rows) == 100
    # every row's file path lies inside its own partition directory
    for r in rows:
        assert f"bucket={r.bucket}/" in r.fp, (r.bucket, r.fp)
    # lineage is per-file: distinct files ≥ partitions
    n_files = back.select("fp").distinct().count()
    assert n_files >= 4


def test_pandas_api_on_spark_surface(spark):
    """pyspark.pandas over the same tables: users migrating notebook
    pandas code get the distributed engine underneath — a groupby in
    the pandas dialect must agree with the SQL aggregation."""
    import pyspark.pandas as ps

    ps.set_option("compute.ops_on_diff_frames", True)
    pdf = ps.read_parquet(f"{SF_ORACLE}/orders.parquet")
    got = (
        pdf.groupby("o_orderpriority")["o_totalprice"]
        .sum()
        .round(2)
        .sort_index()
    )
    expected = {
        r.o_orderpriority: r.t
        for r in spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("t"))
        .collect()
    }
    assert got.to_dict() == expected


def test_schema_diff_contract_check(spark):
    from pyspark.sql import types as T

    from us_accidents_bigdata_pipeline_spark.sources.io import schema_diff

    before = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.DoubleType(), True),
            T.StructField("gone", T.StringType(), True),
            T.StructField("tightened", T.StringType(), True),
        ]
    )
    after = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.StringType(), True),  # type change
            T.StructField("new_col", T.IntegerType(), True),
            T.StructField("tightened", T.StringType(), False),
        ]
    )
    d = schema_diff(before, after)
    assert d == {
        "added": ["new_col"],
        "removed": ["gone"],
        "type_changed": ["v"],
        "nullability_tightened": ["tightened"],
    }


def test_delete_rows_tombstone_publish(spark, tmp_path):
    from us_accidents_bigdata_pipeline_spark.sources.table import (
        delete_rows,
        list_versions,
        read_current,
        write_audit_publish,
    )

    d = str(tmp_path / "wap_del")
    base = spark.range(100).selectExpr("id", "id * 3 AS v")
    assert write_audit_publish(base, d, [("nonempty", lambda df: df.count() > 0)])[
        "published"
    ]

    tomb = spark.createDataFrame([(3,), (50, ), (99,)], "id long")
    r = delete_rows(spark, d, tomb, "id")
    assert r["published"] and r["audit"]["tombstones_absent"]
    live = read_current(spark, d)
    assert live.count() == 97
    assert live.filter("id IN (3, 50, 99)").count() == 0
    # prior version still on disk for the retention window
    assert 1 in list_versions(d)


def test_dynamic_partition_overwrite(spark, tmp_path):
    """Dynamic partition overwrite: an incremental job rewrites ONLY
    the partitions present in its output — static mode (the default)
    would drop every other partition of the table first, which at
    100 TB turns a daily backfill into a table wipe."""
    path = str(tmp_path / "dpo")
    base = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c")], "id long, part string"
    )
    base.write.partitionBy("part").parquet(path)

    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try:
        patch = spark.createDataFrame([(99, "b")], "id long, part string")
        patch.write.mode("overwrite").partitionBy("part").parquet(path)
    finally:
        spark.conf.set(key, old)

    got = {
        (r.id, r.part) for r in spark.read.parquet(path).collect()
    }
    # partition b replaced; a and c untouched
    assert got == {(1, "a"), (2, "a"), (99, "b"), (4, "c")}


def test_streaming_query_progress_observable(spark, tmp_path):
    """Streaming observability: lastProgress exposes per-batch row
    counts and state metrics — what a production monitor scrapes; the
    numbers must reconcile with the data actually processed."""
    src = str(tmp_path / "stream_src")
    df = spark.range(100).selectExpr("id", "id % 5 AS k")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    agg = stream.groupBy("k").count()
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("progress_probe")
        .start()
    )
    try:
        q.processAllAvailable()
        p = q.lastProgress
        assert p is not None
        assert p["stateOperators"][0]["numRowsTotal"] == 5
        total_in = sum(
            rp["numInputRows"] for rp in q.recentProgress
        )
        assert total_in == 100
    finally:
        q.stop()


def test_write_with_metrics_single_job_audit(spark, tmp_path):
    """df.observe piggybacks audit aggregates on the write job — the
    metrics must exactly describe the written data, with no second
    scan of the input."""
    from pyspark.sql import functions as F

    from us_accidents_bigdata_pipeline_spark.tuning import write_with_metrics

    df = spark.range(0, 1000).withColumn(
        "v", F.when(F.col("id") % 10 == 0, F.lit(None)).otherwise(F.col("id"))
    )
    out = str(tmp_path / "observed")
    got = write_with_metrics(
        df,
        out,
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_v": F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)),
            "max_id": F.max("id"),
        },
    )
    assert got["n_rows"] == 1000
    assert got["n_null_v"] == 100
    assert got["max_id"] == 999
    back = spark.read.parquet(out)
    assert back.count() == got["n_rows"]
    assert back.filter(F.col("v").isNull()).count() == got["n_null_v"]
