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
implement with manifests.

Correctness properties:

- **Replay idempotence.** After a failure, Structured Streaming re-runs
  the last uncommitted batch with the SAME batch_id. The sink writes
  version ``v{batch_id}`` with overwrite mode and derives it from the
  PREVIOUS version's pointer recorded at first attempt, so a replay
  rewrites the identical snapshot and re-points the same pointer —
  exactly-once table state from at-least-once batch delivery.
- **Latest-wins within a batch.** A key updated twice in one batch is
  collapsed by (order_col DESC, tie-break) row_number before merging,
  so merge_upsert's key-unique precondition holds.

Scale shape: the merge anti-join broadcasts the (small) batch against
the (large) base — the base snapshot never shuffles; the rewrite cost
is one pass over the base per batch, which is the honest cost of
keyed mutation on immutable storage (table formats pay it too,
amortized via partition-level rewrite; partition the snapshot and
prune by the batch's touched partitions to get the same amortization).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.merge import merge_upsert

_POINTER = "_CURRENT.json"


def _pointer_path(root: str) -> str:
    return os.path.join(root, _POINTER)


def _read_pointer(root: str) -> dict | None:
    """The pointer record ``{version, batch_id, prev}`` of the last
    commit, or None before the first one."""
    p = _pointer_path(root)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _commit(
    spark: SparkSession,
    root: str,
    batch_id: int,
    build_next: Callable[[DataFrame | None], DataFrame],
) -> None:
    """The one commit protocol of the versioned table: write
    ``build_next(previous snapshot or None)`` to ``v{batch_id}``, then
    atomically replace the pointer.

    Replay guard: if this batch_id already committed, the previous
    snapshot is the version BEFORE it (recorded as ``prev`` in its
    pointer), so the rewrite is identical instead of double-applied."""
    os.makedirs(root, exist_ok=True)
    meta = _read_pointer(root) or {}
    replay = meta.get("batch_id") == batch_id
    prev_version = meta.get("prev" if replay else "version")
    base = None
    if prev_version:
        base = spark.read.parquet(os.path.join(root, prev_version))
    version = f"v{batch_id}"
    build_next(base).write.mode("overwrite").parquet(os.path.join(root, version))
    p = _pointer_path(root)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {"version": version, "batch_id": batch_id, "prev": prev_version}, f
        )
    os.replace(tmp, p)


def read_current(spark: SparkSession, root: str) -> DataFrame | None:
    """Load the snapshot the pointer file names (None before the first
    commit). Readers never see a half-written version: the pointer is
    replaced only after its version directory is fully written."""
    meta = _read_pointer(root)
    if meta is None:
        return None
    return spark.read.parquet(os.path.join(root, meta["version"]))


def upsert_batch_fn(
    root: str,
    key_cols: list[str],
    order_col: str,
):
    """Build the foreachBatch(batch_df, batch_id) callable. Exposed
    separately so tests can invoke it directly (e.g. to replay a batch
    and assert idempotence)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # latest-wins in-batch dedupe → key-unique updates frame
        w = W.partitionBy(*key_cols).orderBy(
            F.col(order_col).desc(), *[F.col(k) for k in key_cols]
        )
        updates = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        def build_next(base: DataFrame | None) -> DataFrame:
            return updates if base is None else merge_upsert(base, updates, key_cols)

        _commit(batch_df.sparkSession, root, batch_id, build_next)

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


def read_version(spark: SparkSession, root: str, batch_id: int) -> DataFrame:
    """Time travel: load the snapshot a given batch committed
    (``v{batch_id}``). Every commit leaves its full snapshot directory
    in place, so any historical table state remains readable until
    ``vacuum_versions`` removes it — the same contract table formats
    expose as VERSION AS OF."""
    path = os.path.join(root, f"v{batch_id}")
    if not os.path.isdir(path):
        raise FileNotFoundError(f"no committed version v{batch_id} in {root}")
    return spark.read.parquet(path)


def list_versions(root: str) -> list[int]:
    """Committed batch ids, ascending (the snapshot log)."""
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        if name.startswith("v") and name[1:].isdigit():
            out.append(int(name[1:]))
    return sorted(out)


def vacuum_versions(root: str, keep: int = 2) -> list[int]:
    """Drop all but the newest ``keep`` snapshot versions (never the
    one the pointer names). Returns the removed batch ids. The replay
    guard needs the CURRENT version's predecessor to rebuild after a
    failure mid-commit, so ``keep`` must be >= 2 — enforced."""
    import shutil

    if keep < 2:
        raise ValueError("vacuum_versions: keep must be >= 2 (replay guard)")
    versions = list_versions(root)
    meta = _read_pointer(root)
    current = meta["version"] if meta is not None else None
    doomed = versions[:-keep] if len(versions) > keep else []
    removed = []
    for b in doomed:
        if f"v{b}" == current:
            continue
        shutil.rmtree(os.path.join(root, f"v{b}"), ignore_errors=True)
        removed.append(b)
    return removed


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
    from ..operators.merge import cdc_apply

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        payload = [c for c in batch_df.columns if c not in (seq_col, op_col)]

        def build_next(base: DataFrame | None) -> DataFrame:
            if base is None:
                base = spark.createDataFrame([], batch_df.select(*payload).schema)
            return cdc_apply(base, batch_df, key_cols, seq_col, op_col)

        _commit(spark, root, batch_id, build_next)

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
