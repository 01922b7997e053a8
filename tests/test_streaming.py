"""Structured Streaming extension tests (SURVEY §2.10): sliding
windows, session windows, and a custom stateful operator via
applyInPandasWithState — the full streaming surface the reference's
architecture gestures at but never executes."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from us_accidents_bigdata_pipeline_spark.streaming import (
    adaptive_ts_stream,
    run_windowed_batch,
    windowed_counts,
)

from .conftest import SF_ORACLE


def _event_stream(spark):
    # dtype-adaptive: probes whether the fixture stores ts as
    # nanos-as-long or a native timestamp (streaming/windows.py)
    return adaptive_ts_stream(spark, SF_ORACLE, glob_filter="events.parquet")


def _event_batch(spark):
    from us_accidents_bigdata_pipeline_spark.plans.queries import _t

    return _t(spark, SF_ORACLE, "events")


def test_sliding_window_stream_matches_batch(spark):
    agg = windowed_counts(
        _event_stream(spark),
        window_duration="2 hours",
        slide="1 hour",
        watermark="4 hours",
    )
    out = run_windowed_batch(agg, query_name="sliding_out")
    stream_rows = {
        (r.window_start, r.event_type): r.n for r in out.collect()
    }
    batch = (
        _event_batch(spark)
        .groupBy(
            F.window("ts", "2 hours", "1 hour").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n")
    )
    batch_rows = {(r.window_start, r.event_type): r.n for r in batch.collect()}
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_session_window_batch(spark):
    # session_window is the declarative form of the sessionize_events
    # contract query; each user's sessions partition their events
    ev = _event_batch(spark)
    sessions = (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    total = sessions.agg(F.sum("n_events")).head()[0]
    assert total == ev.count()
    # session windows must not overlap per user
    rows = sessions.select(
        "user_id", F.col("sw.start").alias("s"), F.col("sw.end").alias("e")
    ).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.s, r.e))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2


def test_stateful_timeout_evicts_idle_keys(spark, tmp_path):
    # EventTimeTimeout lifecycle: batch 1 carries keys {1, 2} at t0,
    # batch 2 (forced via maxFilesPerTrigger=1) carries only key 1 an
    # hour later — the advancing watermark passes key 2's idle timer
    # (t0 + 5 min), so it fires hasTimedOut, emits its final row, and
    # its state is evicted.
    import datetime as dt
    import time

    from us_accidents_bigdata_pipeline_spark.streaming import (
        counts_with_timeout,
        parquet_stream_reader,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    t1 = t0 + dt.timedelta(hours=1)
    # the file-stream source lists FLAT files only, so append two
    # single-part write jobs into one directory (distinct mtimes order
    # them into separate micro-batches under maxFilesPerTrigger=1)
    src = str(tmp_path / "timeout_src")
    batch1 = spark.createDataFrame(
        [(1, t0), (1, t0), (2, t0)], "user_id long, ts timestamp"
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    batch2 = spark.createDataFrame([(1, t1)], "user_id long, ts timestamp")
    batch2.coalesce(1).write.mode("append").parquet(src)

    stream = parquet_stream_reader(
        spark,
        src,
        batch1.schema,
        glob_filter="*.parquet",
        max_files_per_trigger=1,
    )
    out = counts_with_timeout(
        stream,
        key_col="user_id",
        ts_col="ts",
        watermark="10 minutes",
        idle_gap_ms=5 * 60 * 1000,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("timeout_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("timeout_out").collect()
    finals = {r.key: r.n_events for r in rows if r.final}
    updates = [(r.key, r.n_events) for r in rows if not r.final]
    # key 2 timed out with its batch-1 count; key 1 never timed out
    assert finals == {2: 1}
    # key 1's count carried state across micro-batches: 2 then 3
    assert (1, 2) in updates and (1, 3) in updates


def test_append_mode_file_sink_drops_late_data(spark, tmp_path):
    # Production semantics (append mode + file sink + watermark):
    # windows emit exactly once when the watermark passes their end,
    # and rows older than the watermark are DROPPED — the behavior
    # that bounds state on an unbounded stream. The complete-mode
    # memory smoke path intentionally keeps everything; this pins the
    # other half of the contract.
    import datetime as dt
    import time

    from us_accidents_bigdata_pipeline_spark.streaming import (
        parquet_stream_reader,
        run_to_files,
        windowed_counts,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "late_src")
    schema = "event_type string, ts timestamp, value double"
    batches = [
        # batch 0: two rows in the [00:00, 01:00) window
        [("a", t0, 1.0), ("a", t0 + dt.timedelta(minutes=10), 2.0)],
        # batch 1: an event 6h later — advances the watermark to 05:30
        # effective from the NEXT batch
        [("a", t0 + dt.timedelta(hours=6), 4.0)],
        # batch 2: late row while the window is being finalized in this
        # very batch — still ADMITTED (verified Spark 4.1 behavior: the
        # state is live until this batch's finalization pass)
        [("a", t0 + dt.timedelta(minutes=20), 8.0)],
        # batch 3: late row AFTER finalization — dropped by the
        # watermark, and the emitted window must NOT re-emit
        [("a", t0 + dt.timedelta(minutes=25), 16.0)],
    ]
    schema_df = None
    for b in batches:
        df = spark.createDataFrame(b, schema)
        schema_df = schema_df or df
        df.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    stream = parquet_stream_reader(
        spark, src, schema_df.schema, glob_filter="*.parquet",
        max_files_per_trigger=1,
    )
    agg = windowed_counts(
        stream, window_duration="1 hour", watermark="30 minutes",
        key_col="event_type",
    )
    out_dir = str(tmp_path / "late_out")
    run_to_files(agg, out_dir, str(tmp_path / "late_ckpt"))
    rows = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in spark.read.parquet(out_dir).collect()
    }
    # exactly one emission of the finalized window: batch-2's late row
    # made it in (3 rows, 11.0), batch-3's did not, and the still-open
    # 06:00 window was not emitted — append-mode finality + bounded
    # state, the semantics that run forever at scale
    assert rows == {(t0, "a"): (3, 11.0)}


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    # Exactly-once across restarts: run a windowed aggregation to
    # completion, STOP the query, append new source data, restart the
    # SAME query from the SAME checkpoint — the recovered offsets must
    # resume without re-emitting finalized windows or double-counting
    # rows already processed.
    import datetime as dt
    import time

    from us_accidents_bigdata_pipeline_spark.streaming import (
        parquet_stream_reader,
        run_to_files,
        windowed_counts,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "ck_src")
    out_dir = str(tmp_path / "ck_out")
    ckpt = str(tmp_path / "ck_ckpt")
    schema = "event_type string, ts timestamp, value double"

    def launch():
        stream = parquet_stream_reader(
            spark,
            src,
            spark.createDataFrame([], schema).schema,
            glob_filter="*.parquet",
            max_files_per_trigger=1,
        )
        agg = windowed_counts(
            stream, window_duration="1 hour", watermark="30 minutes",
            key_col="event_type",
        )
        run_to_files(agg, out_dir, ckpt)

    # run 1: window [00:00) data + a 3h event that finalizes it
    spark.createDataFrame(
        [("a", t0, 1.0), ("a", t0 + dt.timedelta(minutes=5), 2.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(
        [("a", t0 + dt.timedelta(hours=3), 4.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(
        [("a", t0 + dt.timedelta(hours=3, minutes=5), 8.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    launch()
    first = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert first == {(t0, "a"): (2, 3.0)}

    # run 2 (restart from checkpoint): a 6h event finalizes the 03:00
    # window; the 00:00 window must NOT re-emit
    time.sleep(1.1)
    spark.createDataFrame(
        [("a", t0 + dt.timedelta(hours=6), 16.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(
        [("a", t0 + dt.timedelta(hours=9), 32.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    launch()
    final = {}
    for r in spark.read.parquet(out_dir).collect():
        key = (r.window_start, r.event_type)
        assert key not in final, f"window {key} emitted more than once"
        final[key] = (r.n, r.sum_value)
    assert final == {
        (t0, "a"): (2, 3.0),
        (t0 + dt.timedelta(hours=3), "a"): (2, 12.0),
        (t0 + dt.timedelta(hours=6), "a"): (1, 16.0),
    }


def test_session_window_exact_gap_boundary(spark):
    # Spark merges events EXACTLY gap apart into one session — the
    # break condition is strictly '>'. The streaming_session_windows
    # SQL oracle encodes the same strict break; this pins the boundary
    # so the two formulations can never silently diverge on exact-gap
    # data.
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0)),
        (1, dt.datetime(2024, 1, 1, 0, 30, 0)),  # exactly gap → merges
        (1, dt.datetime(2024, 1, 1, 1, 0, 1)),  # gap + 1s → new session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    sizes = sorted(
        r.n_events
        for r in df.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    assert sizes == [1, 2]
    # the oracle's lag-based formulation (strict '>') agrees
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    brk = F.when(gap_s > 30 * 60, 1).otherwise(0)
    sid = F.sum(brk).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    lag_sizes = sorted(
        r.n
        for r in df.select("user_id", sid.alias("sid"))
        .groupBy("user_id", "sid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert lag_sizes == sizes


def test_apply_in_pandas_with_state(spark):
    # custom stateful operator: running per-key event counter across
    # micro-batches (applyInPandasWithState, SURVEY §2.10 mapping)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def count_events(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"event_type": [key[0]], "n_total": [total]})

    agg = (
        _event_stream(spark)
        .groupBy("event_type")
        .applyInPandasWithState(
            count_events,
            outputStructType="event_type string, n_total long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    result = {
        r.event_type: r.n_total
        for r in spark.table("stateful_out").collect()
    }
    expected = {
        r.event_type: r.n
        for r in _event_batch(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert result == expected


def test_timestamp_outputs_are_ntz(spark):
    """Instant (TIMESTAMP) outputs collect() through the PROCESS-local
    timezone, so a driver on a non-UTC host would hash different wall
    clocks than the UTC-naive DuckDB oracle. Every query emitting
    window/session/cohort bounds must emit TIMESTAMP_NTZ (wall-clock
    pinned at compute time under the UTC session)."""
    from us_accidents_bigdata_pipeline_spark.plans import REGISTRY

    from .conftest import SF_ORACLE

    expect = {
        "streaming_windowed_counts": ["window_start", "window_end"],
        "streaming_sliding_counts": ["window_start", "window_end"],
        "streaming_static_join_counts": ["window_start", "window_end"],
        "streaming_session_windows": ["session_start", "session_end"],
        "cohort_retention": ["cohort_month"],
    }
    for name, cols in expect.items():
        df = REGISTRY[name].builder(spark, SF_ORACLE)
        dtypes = dict(df.dtypes)
        for c in cols:
            assert dtypes[c] == "timestamp_ntz", (name, c, dtypes[c])


def test_python_streaming_datasource_multibatch(spark):
    """Spark 4 SimpleDataSourceStreamReader: the custom streaming
    source emits 250 rows across 100-row micro-batches; the memory
    sink must hold exactly the deterministic (i, i*i) set once the
    stream drains (offset stops advancing)."""
    from us_accidents_bigdata_pipeline_spark.sources.pyds import (
        register_stream,
    )

    register_stream(spark)
    stream = (
        spark.readStream.format("squares_stream")
        .option("n", "250")
        .option("batch_rows", "100")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sq_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {(r.i, r.i_squared) for r in spark.table("sq_stream").collect()}
    assert rows == {(i, i * i) for i in range(250)}


def test_foreach_batch_upsert_multibatch_and_replay(spark, tmp_path):
    """Streaming upsert via foreachBatch: three micro-batches of keyed
    updates (forced with maxFilesPerTrigger=1) must converge to the
    batch latest-wins snapshot, and replaying the last batch with the
    same batch_id (Structured Streaming's failure semantics) must leave
    the table unchanged."""
    import pyspark.sql.types as T

    from us_accidents_bigdata_pipeline_spark.streaming import (
        read_current,
        streaming_upsert,
        upsert_batch_fn,
    )

    src = tmp_path / "src"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    batches = [
        [(1, "a0", 0), (2, "b0", 1), (3, "c0", 2)],
        [(2, "b1", 3), (4, "d0", 4), (2, "b2", 5)],  # in-batch dup: k=2
        [(1, "a1", 6), (5, "e0", 7)],
    ]
    # file-stream source lists FLAT files: append single-part jobs into
    # one dir; distinct mtimes order them into separate micro-batches
    import time as _time

    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(src))
    )
    root = str(tmp_path / "table")
    streaming_upsert(
        stream,
        root,
        key_cols=["k"],
        order_col="seq",
        checkpoint=str(tmp_path / "ckpt"),
    )

    expected = {1: "a1", 2: "b2", 3: "c0", 4: "d0", 5: "e0"}
    got = {r.k: r.v for r in read_current(spark, root).collect()}
    assert got == expected

    # replay the LAST batch with its original batch_id → identical state
    last_df = spark.createDataFrame(batches[2], schema)
    upsert_batch_fn(root, ["k"], "seq")(last_df, 2)
    got2 = {r.k: r.v for r in read_current(spark, root).collect()}
    assert got2 == expected
    # and a genuinely NEW batch still applies on top
    upsert_batch_fn(root, ["k"], "seq")(
        spark.createDataFrame([(3, "c9", 99)], schema), 3
    )
    got3 = {r.k: r.v for r in read_current(spark, root).collect()}
    assert got3 == {**expected, 3: "c9"}


def test_upsert_in_batch_tie_is_row_order_independent(spark, tmp_path):
    """Two rows of one key with the same order value: the winner is
    chosen by row content, so the batch and its reverse publish the
    same table (a replayed batch need not arrive in its first order)."""
    from us_accidents_bigdata_pipeline_spark.streaming import (
        read_current,
        upsert_batch_fn,
    )

    rows = [(1, "x", 5), (1, "y", 5), (2, "z", 1)]
    got = []
    for i, batch in enumerate([rows, rows[::-1]]):
        root = str(tmp_path / f"t{i}")
        df = spark.createDataFrame(batch, "k long, v string, seq long")
        upsert_batch_fn(root, ["k"], "seq")(df, 0)
        got.append(sorted(tuple(r) for r in read_current(spark, root).collect()))
    assert got[0] == got[1]
    assert len(got[0]) == 2


def test_upsert_table_time_travel_and_vacuum(spark, tmp_path):
    """Each commit leaves a readable historical snapshot (VERSION AS OF
    semantics); vacuum drops old versions but never the current one or
    fewer than 2 (the replay guard's rebuild source)."""
    import pytest as _pytest

    from us_accidents_bigdata_pipeline_spark.streaming import (
        list_versions,
        read_current,
        read_version,
        upsert_batch_fn,
        vacuum_versions,
    )

    root = str(tmp_path / "tt")
    fn = upsert_batch_fn(root, ["k"], "seq")
    schema = "k long, v string, seq long"
    fn(spark.createDataFrame([(1, "a0", 0)], schema), 0)
    fn(spark.createDataFrame([(1, "a1", 1), (2, "b0", 2)], schema), 1)
    fn(spark.createDataFrame([(3, "c0", 3)], schema), 2)

    assert list_versions(root) == [0, 1, 2]
    assert {r.k: r.v for r in read_version(spark, root, 0).collect()} == {
        1: "a0"
    }
    assert {r.k: r.v for r in read_version(spark, root, 1).collect()} == {
        1: "a1",
        2: "b0",
    }
    assert {r.k: r.v for r in read_current(spark, root).collect()} == {
        1: "a1",
        2: "b0",
        3: "c0",
    }

    with _pytest.raises(ValueError):
        vacuum_versions(root, keep=1)
    assert vacuum_versions(root, keep=2) == [0]
    assert list_versions(root) == [1, 2]
    with _pytest.raises(FileNotFoundError):
        read_version(spark, root, 0)
    # current still intact after vacuum
    assert {r.k for r in read_current(spark, root).collect()} == {1, 2, 3}


def test_stateful_totals_on_rocksdb_state_store(spark):
    """The default HDFSBacked state store keeps every key's state on
    the executor HEAP — at 100 TB/day key cardinalities that's an OOM,
    and RocksDB (spilling to local disk, bundled in Spark) is the
    production provider. The stateful operators must be
    provider-agnostic: same running totals through RocksDB as through
    the default store and as the batch oracle."""
    from us_accidents_bigdata_pipeline_spark.streaming import (
        running_totals_stateful,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        totals = running_totals_stateful(_event_stream(spark))
        emitted = run_windowed_batch(
            totals, query_name="rocksdb_totals", output_mode="update"
        )
        final = (
            emitted.groupBy("key")
            .agg(F.max(F.struct("n_events", "total_value")).alias("_f"))
            .select(
                "key",
                F.col("_f.n_events").alias("n_events"),
                F.round("_f.total_value", 4).alias("total_value"),
            )
        )
        got = {r.key: (r.n_events, r.total_value) for r in final.collect()}
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    expected = {
        r.user_id: (r.n, r.t)
        for r in _event_batch(spark)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("t"),
        )
        .collect()
    }
    assert got == expected


def test_available_now_trigger_backfill(spark):
    """Trigger.AvailableNow: process everything currently in the
    source through STREAMING semantics (watermarks, state, exactly-
    once) and then STOP — the backfill mode that lets one codepath
    serve both live streams and historical catch-up, instead of
    maintaining a separate batch variant."""
    from us_accidents_bigdata_pipeline_spark.streaming import windowed_counts

    agg = windowed_counts(
        _event_stream(spark), window_duration="1 hour", watermark="2 hours"
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("avail_now")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)  # self-terminates: that's the contract
    assert not q.isActive
    got = spark.table("avail_now").count()
    expected = (
        _event_batch(spark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
        .count()
    )
    assert got == expected


def test_foreach_batch_cdc_tombstones_and_replay(spark, tmp_path):
    """CDC sink: a change stream with updates, inserts AND delete
    tombstones folds into the correct table; replaying the last batch
    with its original batch_id leaves the table unchanged; a new batch
    can re-insert a previously deleted key."""
    import time as _time

    import pyspark.sql.types as T

    from us_accidents_bigdata_pipeline_spark.streaming import (
        cdc_batch_fn,
        read_current,
        streaming_cdc,
    )

    src = tmp_path / "cdc_src"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
        ]
    )
    batches = [
        [(1, "a0", 1, "I"), (2, "b0", 2, "I"), (3, "c0", 3, "I")],
        # update 1, delete 2, insert 4; in-batch insert+delete of 5
        [
            (1, "a1", 4, "U"),
            (2, None, 5, "D"),
            (4, "d0", 6, "I"),
            (5, "e0", 7, "I"),
            (5, None, 8, "D"),
        ],
        [(3, None, 9, "D"), (1, "a2", 10, "U")],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(src))
    )
    root = str(tmp_path / "cdc_table")
    streaming_cdc(
        stream, root, key_cols=["k"], checkpoint=str(tmp_path / "cdc_ckpt")
    )

    expected = {1: "a2", 4: "d0"}
    got = {r.k: r.v for r in read_current(spark, root).collect()}
    assert got == expected

    # replay last batch (same batch_id) → unchanged
    cdc_batch_fn(root, ["k"])(spark.createDataFrame(batches[2], schema), 2)
    assert {
        r.k: r.v for r in read_current(spark, root).collect()
    } == expected

    # a NEW batch re-inserting a deleted key applies on top
    cdc_batch_fn(root, ["k"])(
        spark.createDataFrame([(2, "b9", 11, "I")], schema), 3
    )
    assert {r.k: r.v for r in read_current(spark, root).collect()} == {
        **expected,
        2: "b9",
    }


def test_left_outer_join_null_emission_on_eviction(spark, tmp_path):
    """LEFT OUTER stream-stream join eviction timing: an unmatched
    view's NULL row is emitted ONLY once the global watermark passes
    its admissible window and its state is evicted. Without a later
    batch advancing the watermark, the NULL row is WITHHELD at stream
    end (Spark's documented outer-join behavior — state never evicts);
    a far-future sentinel batch plus the no-data final micro-batch
    flushes it. This is the production subtlety behind the sentinel in
    plans/queries.py::q_streaming_stream_stream_left_outer."""
    import datetime as dt
    import time

    from us_accidents_bigdata_pipeline_spark.streaming import (
        parquet_stream_reader,
        run_windowed_batch,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "user_id long, event_id long, event_type string, ts timestamp"
    main_rows = [
        (1, 10, "view", t0),  # no purchase -> outer NULL row
        (2, 20, "view", t0),
        (2, 21, "purchase", t0 + dt.timedelta(minutes=10)),  # matched
    ]
    sentinel_rows = [
        (-1, -1, "view", t0 + dt.timedelta(hours=10)),
        (-1, -2, "purchase", t0 + dt.timedelta(hours=20)),
    ]

    def _run(src: str, name: str):
        sch = spark.read.parquet(src).schema
        views = (
            parquet_stream_reader(
                spark, src, sch, glob_filter="*.parquet",
                max_files_per_trigger=1,
            )
            .filter(F.col("event_type") == "view")
            .select(
                "user_id",
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("view_ts"),
            )
            .withWatermark("view_ts", "10 minutes")
        )
        purchases = (
            parquet_stream_reader(
                spark, src, sch, glob_filter="*.parquet",
                max_files_per_trigger=1,
            )
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user_id"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "10 minutes")
        )
        joined = views.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
            "leftOuter",
        )
        out = run_windowed_batch(
            joined, query_name=name, output_mode="append"
        )
        return {
            (r["user_id"], r["view_id"]): r["purchase_id"]
            for r in out.filter(F.col("user_id") >= 0).collect()
        }

    # WITHOUT the sentinel: matched row emits, unmatched view withheld
    src_a = str(tmp_path / "no_sentinel")
    spark.createDataFrame(main_rows, schema).coalesce(1).write.parquet(src_a)
    got_a = _run(src_a, "louter_nosent")
    assert got_a == {(2, 20): 21}, got_a

    # WITH the sentinel second batch: the watermark passes every
    # admissible window, state evicts, the NULL row appears
    src_b = str(tmp_path / "with_sentinel")
    spark.createDataFrame(main_rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src_b)
    time.sleep(1.1)  # distinct mtimes -> ordered micro-batches
    spark.createDataFrame(sentinel_rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src_b)
    got_b = _run(src_b, "louter_sent")
    assert got_b == {(2, 20): 21, (1, 10): None}, got_b
