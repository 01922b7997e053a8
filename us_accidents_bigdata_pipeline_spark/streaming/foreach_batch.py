"""foreachBatch sinks: streaming upsert into a versioned parquet table.

The built-in file sink is append-only; real pipelines maintain a
keyed TABLE from a change stream (the ``MERGE INTO`` shape the
reference approximates with overwrite-mode Mongo writes,
BigDataPipeline/spark/knn_classification.py:267-271). Without a
transactional table format the engine-native primitive is
``foreachBatch``: each micro-batch runs an ordinary batch merge
(operators/merge.py::merge_upsert) producing the NEXT snapshot, written
to a fresh version directory, then a pointer file is atomically
replaced — a minimal snapshot-log, the same commit shape Delta/Iceberg
implement with manifests (``sources/table.py``).

Correctness properties:

- **Replay idempotence.** Each micro-batch commits version
  ``v{batch_id}`` through ``sources.table.commit``, whose replay guard
  rebuilds a re-delivered batch from the version before it — exactly-
  once table state from at-least-once batch delivery.
- **Latest-wins within a batch.** A key updated twice in one batch is
  collapsed by (order_col DESC, whole-row hash DESC) row_number before
  merging, so merge_upsert's key-unique precondition holds and an
  order_col tie resolves the same way whatever order the batch's rows
  arrive in.

Scale shape: the merge anti-join broadcasts the (small) batch against
the (large) base — the base snapshot never shuffles; the rewrite cost
is one pass over the base per batch, which is the honest cost of
keyed mutation on immutable storage (table formats pay it too,
amortized via partition-level rewrite; partition the snapshot and
prune by the batch's touched partitions to get the same amortization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..operators.merge import cdc_apply, merge_upsert
from ..sources.table import commit


def upsert_batch_fn(
    root: str,
    key_cols: list[str],
    order_col: str,
):
    """Build the foreachBatch(batch_df, batch_id) callable. Exposed
    separately so tests can invoke it directly (e.g. to replay a batch
    and assert idempotence)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # latest-wins in-batch dedupe → key-unique updates frame; an
        # order_col tie goes to the larger whole-row hash (as in
        # cdc_apply), so a batch's row order cannot pick the winner
        w = W.partitionBy(*key_cols).orderBy(
            F.col(order_col).desc(), F.xxhash64(*batch_df.columns).desc()
        )
        updates = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        def build_next(base: DataFrame | None) -> DataFrame:
            return updates if base is None else merge_upsert(base, updates, key_cols)

        commit(batch_df.sparkSession, root, batch_id, build_next)

    return apply


def streaming_upsert(
    stream: DataFrame,
    root: str,
    key_cols: list[str],
    order_col: str,
    checkpoint: str,
) -> None:
    """Drive a bounded stream to completion through the upsert sink.
    Unbounded production use: drop ``processAllAvailable`` and let the
    query run with its trigger; the checkpoint + replay guard give
    exactly-once table state across restarts."""
    q = (
        stream.writeStream.foreachBatch(
            upsert_batch_fn(root, key_cols, order_col)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def cdc_batch_fn(
    root: str,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
):
    """foreachBatch callable folding a CDC change stream (I/U/D ops +
    monotone sequence — the Debezium topic shape) into the same
    versioned-snapshot table ``upsert_batch_fn`` maintains. The upsert
    sink can only add/overwrite keys; this one also DELETES them
    (tombstones), turning a change stream into a continuously-correct
    materialized table.

    Same commit protocol (version dir + atomic pointer replace) and
    the same replay guard, so exactly-once table state holds across
    Structured Streaming's at-least-once batch redelivery. Per batch:
    operators/merge.py::cdc_apply — one hash shuffle of base ∪ batch
    on the key, latest-seq-wins, tombstones drop.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        payload = [c for c in batch_df.columns if c not in (seq_col, op_col)]

        def build_next(base: DataFrame | None) -> DataFrame:
            if base is None:
                base = spark.createDataFrame([], batch_df.select(*payload).schema)
            return cdc_apply(base, batch_df, key_cols, seq_col, op_col)

        commit(spark, root, batch_id, build_next)

    return apply


def streaming_cdc(
    stream: DataFrame,
    root: str,
    key_cols: list[str],
    checkpoint: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> None:
    """Drive a bounded CDC stream to completion through the cdc sink
    (production use: drop processAllAvailable, keep the trigger)."""
    q = (
        stream.writeStream.foreachBatch(
            cdc_batch_fn(root, key_cols, seq_col, op_col)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
