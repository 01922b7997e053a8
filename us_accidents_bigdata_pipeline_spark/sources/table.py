"""Versioned parquet table: a snapshot log with one commit protocol.

A table is a directory of full snapshots ``v{n}`` plus a pointer file
``_CURRENT.json`` naming the live one — the commit shape Delta/Iceberg
implement with manifests, on plain parquet. Every writer goes through
``commit``: the streaming upsert/CDC sinks (one version per
micro-batch), Write-Audit-Publish and row deletion.

Commit steps:

1. WRITE the next snapshot to ``_staging-v{n}`` (never a readable path);
2. AUDIT it, when checks are given: each check is
   ``(name, fn: DataFrame -> bool)`` run on a re-READ of the staged
   files — what readers would see, so writer-side truncation shows up,
   not just logical errors in the in-memory frame;
3. PUBLISH: rename the staged copy to ``v{n}``, then atomically replace
   the pointer.

A failed audit leaves the pointer and every ``v{n}`` untouched and
keeps ``_staging-v{n}`` on disk for inspection, so neither readers nor
time travel ever see rejected data.

Replay idempotence: Structured Streaming re-runs the last uncommitted
micro-batch with the SAME id after a failure. The pointer records the
version its commit was built from (``prev``), so re-committing the id
the pointer names rebuilds from that predecessor — the identical
snapshot — instead of applying the batch twice.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_POINTER = "_CURRENT.json"
_VERSION_DIR = re.compile(r"(?:_staging-)?v(\d+)")

Check = tuple[str, Callable[[DataFrame], bool]]


def _read_pointer(root: str) -> dict | None:
    """The pointer record ``{version, batch_id, prev}`` of the last
    commit, or None before the first one. ``batch_id`` is the commit's
    id (the micro-batch id for stream tables)."""
    p = os.path.join(root, _POINTER)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def commit(
    spark: SparkSession,
    root: str,
    version: int,
    build_next: Callable[[DataFrame | None], DataFrame],
    checks: Sequence[Check] = (),
) -> dict:
    """Commit ``build_next(live snapshot or None)`` as version
    ``version`` of the table at ``root`` (see the module doc for the
    write/audit/publish steps and the replay guard).

    Returns ``{"published": bool, "version": version, "audit":
    {name: ok}}``."""
    os.makedirs(root, exist_ok=True)
    meta = _read_pointer(root) or {}
    replay = meta.get("batch_id") == version
    prev_version = meta.get("prev" if replay else "version")
    base = None
    if prev_version:
        base = spark.read.parquet(os.path.join(root, prev_version))
    staged = os.path.join(root, f"_staging-v{version}")
    build_next(base).write.mode("overwrite").parquet(staged)

    staged_df = spark.read.parquet(staged) if checks else None
    audit = {name: bool(fn(staged_df)) for name, fn in checks}
    if not all(audit.values()):
        return {"published": False, "version": version, "audit": audit}

    final = os.path.join(root, f"v{version}")
    shutil.rmtree(final, ignore_errors=True)  # a replay's earlier attempt
    os.rename(staged, final)
    p = os.path.join(root, _POINTER)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {"version": f"v{version}", "batch_id": version, "prev": prev_version}, f
        )
    os.replace(tmp, p)  # atomic on POSIX
    return {"published": True, "version": version, "audit": audit}


def read_current(spark: SparkSession, root: str) -> DataFrame | None:
    """Load the snapshot the pointer file names (None before the first
    commit). Readers never see a half-written version: the pointer is
    replaced only after its version directory is fully written."""
    meta = _read_pointer(root)
    if meta is None:
        return None
    return spark.read.parquet(os.path.join(root, meta["version"]))


def read_version(spark: SparkSession, root: str, version: int) -> DataFrame:
    """Time travel: load the snapshot committed as ``v{version}``.
    Every commit leaves its full snapshot directory in place, so any
    historical table state remains readable until ``vacuum_versions``
    removes it — the same contract table formats expose as VERSION AS
    OF."""
    path = os.path.join(root, f"v{version}")
    if not os.path.isdir(path):
        raise FileNotFoundError(f"no committed version v{version} in {root}")
    return spark.read.parquet(path)


def list_versions(root: str) -> list[int]:
    """Committed version ids, ascending (the snapshot log)."""
    if not os.path.isdir(root):
        return []
    return sorted(
        int(name[1:])
        for name in os.listdir(root)
        if name.startswith("v") and name[1:].isdigit()
    )


def vacuum_versions(root: str, keep: int = 2) -> list[int]:
    """Drop all but the newest ``keep`` snapshot versions (never the
    one the pointer names). Returns the removed version ids. The replay
    guard needs the CURRENT version's predecessor to rebuild after a
    failure mid-commit, so ``keep`` must be >= 2 — enforced."""
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


def _next_version(root: str) -> int:
    """One more than any committed or staged version id, so a new
    commit never reuses a rejected audit's staging directory."""
    names = os.listdir(root) if os.path.isdir(root) else []
    ids = [int(m.group(1)) for m in map(_VERSION_DIR.fullmatch, names) if m]
    return 1 + max(ids, default=0)


def write_audit_publish(df: DataFrame, root: str, checks: Sequence[Check]) -> dict:
    """Write-Audit-Publish: commit ``df`` as the next version, published
    only if every check passes on the staged copy (the Iceberg/Delta WAP
    branch pattern). Returns ``commit``'s result; read the live table
    with ``read_current``."""
    return commit(df.sparkSession, root, _next_version(root), lambda _base: df, checks)


def delete_rows(
    spark: SparkSession,
    root: str,
    tombstones: DataFrame,
    key_col: str,
) -> dict:
    """Right-to-be-forgotten deletion: commit the live snapshot minus
    every row whose ``key_col`` is in ``tombstones`` as the next
    version, audited so that no tombstoned key survives. The old
    version stays on disk for the retention window — physical erasure
    is ``vacuum_versions``."""
    tomb = tombstones.select(F.col(key_col).alias("_tomb_key")).distinct()

    def build_next(base: DataFrame | None) -> DataFrame:
        if base is None:
            raise FileNotFoundError(f"delete_rows: no committed version in {root}")
        return base.join(tomb, base[key_col] == tomb["_tomb_key"], "left_anti")

    def tombstones_absent(df: DataFrame) -> bool:
        return df.join(tomb, df[key_col] == tomb["_tomb_key"], "left_semi").isEmpty()

    return commit(
        spark, root, _next_version(root), build_next,
        [("tombstones_absent", tombstones_absent)],
    )
