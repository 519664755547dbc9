"""Streaming CDC compaction: maintain an upserted snapshot from a changelog
stream — ``foreachBatch`` + sources/upsert.apply_changes + versioned
snapshot directories with an atomic pointer.

Semantics: each micro-batch folds into the current snapshot exactly once.
``foreachBatch`` is at-least-once (a failed batch replays), so the sink is
made idempotent the standard way: the committed pointer records the last
applied ``batch_id`` and a replayed batch is skipped. Snapshots are
immutable ``v=N`` directories — a batch reads v=N and writes v=N+1, so
readers never observe a half-written table and the write never races its
own read. The pointer file is JSON, written to a temp name and renamed
(atomic on POSIX and object stores with atomic rename; on S3-style stores
use a conditional put).

Scale notes: each batch costs one apply_changes — a single shuffle of
(snapshot ∪ batch) on the key. For large snapshots with small batches
that's the classic copy-on-write compaction cost; mitigations at cluster
scale are partitioned snapshots (rewrite only key-range partitions the
batch touches — pair with layout.write_optimized range sorting) and
batching the trigger interval up. State in the STREAM is zero: all state
lives in the snapshot itself.
"""
from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..sources.layout import read_sidecar, write_atomic
from ..sources.upsert import apply_changes

_POINTER = "_CURRENT.json"


def _read_pointer(snapshot_dir: str) -> dict:
    p = os.path.join(snapshot_dir, _POINTER)
    if not os.path.exists(p):
        return {"version": 0, "last_batch_id": -1}
    return read_sidecar(p)


def _write_pointer(snapshot_dir: str, meta: dict) -> None:
    write_atomic(os.path.join(snapshot_dir, _POINTER), json.dumps(meta))


def read_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame | None:
    """The current committed snapshot, or None before the first batch."""
    meta = _read_pointer(snapshot_dir)
    if meta["version"] == 0:
        return None
    return spark.read.parquet(os.path.join(snapshot_dir,
                                           f"v={meta['version']}"))


def upsert_batch(batch: DataFrame, snapshot_dir: str, keys: list[str],
                 order_col: str, op_col: str | None = None,
                 batch_id: int | None = None,
                 retain_versions: int = 2) -> bool:
    """Fold one (micro-)batch of changes into the snapshot. Returns False
    when ``batch_id`` was already applied (replay — skipped). Usable
    directly for batch CDC too (leave batch_id None to always apply)."""
    os.makedirs(snapshot_dir, exist_ok=True)
    meta = _read_pointer(snapshot_dir)
    if batch_id is not None and batch_id <= meta["last_batch_id"]:
        return False
    spark = batch.sparkSession
    base = read_snapshot(spark, snapshot_dir)
    if base is None:
        cols = [c for c in batch.columns if c != op_col]
        base = spark.createDataFrame([], batch.select(*cols).schema)
    new = apply_changes(base, batch, keys, order_col, op_col)
    version = meta["version"] + 1
    new.write.mode("overwrite").parquet(
        os.path.join(snapshot_dir, f"v={version}"))
    _write_pointer(snapshot_dir, {
        "version": version,
        "last_batch_id": batch_id if batch_id is not None
        else meta["last_batch_id"]})
    # prune old immutable versions beyond the retention window
    for d in os.listdir(snapshot_dir):
        if d.startswith("v=") and int(d[2:]) <= version - retain_versions - 1:
            shutil.rmtree(os.path.join(snapshot_dir, d), ignore_errors=True)
    return True


def stream_apply_changes(changes: DataFrame, snapshot_dir: str,
                         keys: list[str], order_col: str,
                         op_col: str | None = None,
                         checkpoint: str | None = None,
                         available_now: bool = True):
    """Attach the upsert sink to a streaming changelog: every micro-batch
    folds into the snapshot exactly once. Returns the StreamingQuery."""
    writer = (changes.writeStream
              .foreachBatch(lambda b, bid: upsert_batch(
                  b, snapshot_dir, keys, order_col, op_col, batch_id=bid))
              .outputMode("append"))
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
