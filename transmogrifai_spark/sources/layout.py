"""Storage layout: optimized parquet writes, Z-order clustering keys,
and the on-disk form of every per-batch index store.

At 100 TB the scan is the query: the wins come from (a) row-group pruning
via min/max zone maps — which only bite when files are SORTED on the filter
columns, (b) parquet column bloom filters for point lookups on high-
cardinality keys, (c) zstd + dictionary encoding for byte volume, and
(d) right-sized files (too-small files swamp the driver with tasks,
too-large files kill parallelism).

``write_optimized`` packages those; ``zorder_key`` provides the classic
bit-interleave clustering key so range filters on ANY of 2-3 columns prune
well from ONE sort order (the lakehouse OPTIMIZE ZORDER BY trick, public
Morton-order construction).

Per-batch index stores (the MinHash-LSH, SimHash, IVF, IVF-PQ and BM25
indexes) share one layout, ``<root>/batch=<id>/<shard_col>=<s>/*.parquet``
plus JSON sidecars, and this module is its one owner: ``write_atomic``
(sidecars, stats, manifests, pointers), ``read_sidecar`` (their read,
with the parameter check), ``write_batch`` (one batch
directory, replay-idempotent overwrite), ``read_batches`` (the probe read,
tolerant of an index with no batch yet), ``stream_batches`` (one batch
directory per micro-batch) and ``compact_batch_dirs`` / ``merge_batches``
(small-file compaction).
"""
from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["zorder_key", "write_optimized", "write_atomic", "read_sidecar",
           "write_batch", "read_batches", "stream_batches", "merge_batches",
           "compact_batch_dirs"]

# what a parquet read of a batch root raises while no batch has landed:
# no directory yet, or directories without parquet footers
_BOOTSTRAP_ERRORS = ("UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND",
                     "Unable to infer schema", "Path does not exist")

_ZBITS = 21  # 3 columns * 21 bits = 63 bits, fits a long


def _rank_scaled(c: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Scale a numeric column to an unsigned ``bits``-bit integer via its
    [lo, hi] range (computed by the caller in one pass)."""
    span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
    frac = (c.cast("double") - lo) / span
    clamped = F.greatest(F.least(frac, F.lit(1.0)), F.lit(0.0))
    return F.floor(clamped * ((1 << bits) - 1)).cast("long")


def _interleave(vals: list[Column], bits: int) -> Column:
    """Morton order: bit i of value j lands at position i*n + j."""
    n = len(vals)
    out = F.lit(0).cast("long")
    for i in range(bits):
        for j, v in enumerate(vals):
            bit = F.shiftright(v, i).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, i * n + j))
    return out


def zorder_key(df: DataFrame, cols: list[str], bits: int | None = None) -> Column:
    """A Z-order (Morton) key over 2-3 numeric columns: each column is
    range-scaled to ``bits`` bits (ranges from one min/max pass over the
    frame), then bit-interleaved. Sorting/range-partitioning by this key
    clusters rows so a range filter on ANY input column touches a bounded
    fraction of files — one sort order serves several filter columns.
    Pure expression (the two-row stats collection is the only driver work).
    """
    if not 2 <= len(cols) <= 3:
        raise ValueError("zorder_key wants 2 or 3 columns")
    bits = bits or min(_ZBITS, 63 // len(cols))
    row = df.agg(*[F.min(F.col(c).cast("double")).alias(f"_lo_{c}") for c in cols],
                 *[F.max(F.col(c).cast("double")).alias(f"_hi_{c}") for c in cols]).first()
    scaled = [_rank_scaled(F.col(c), F.lit(float(row[f"_lo_{c}"] or 0.0)),
                           F.lit(float(row[f"_hi_{c}"] or 1.0)), bits)
              for c in cols]
    return _interleave(scaled, bits)


def write_optimized(df: DataFrame, path: str, *,
                    sort_cols: list[str] | None = None,
                    zorder_cols: list[str] | None = None,
                    bloom_cols: list[str] | None = None,
                    codec: str = "zstd",
                    target_files: int | None = None,
                    mode: str = "overwrite") -> None:
    """Write parquet laid out for scan pruning:

    * ``sort_cols``   — range-partition + sort within files so min/max zone
      maps prune on these columns;
    * ``zorder_cols`` — instead sort by the Morton key over 2-3 columns
      (mutually exclusive with sort_cols);
    * ``bloom_cols``  — parquet bloom filters for point-lookup columns;
    * ``codec``       — zstd default (dictionary encoding is parquet-default);
    * ``target_files``— repartition count before the sort (file sizing).
    """
    if sort_cols and zorder_cols:
        raise ValueError("pass sort_cols or zorder_cols, not both")
    out = df
    if zorder_cols:
        out = out.withColumn("_zkey", zorder_key(df, zorder_cols))
        if target_files:
            out = out.repartitionByRange(target_files, F.col("_zkey"))
        out = out.sortWithinPartitions("_zkey")
    elif sort_cols:
        scols = [F.col(c) for c in sort_cols]
        if target_files:
            out = out.repartitionByRange(target_files, *scols)
        out = out.sortWithinPartitions(*scols)
    elif target_files:
        out = out.repartition(target_files)
    writer = out.drop("_zkey").write.mode(mode).option("compression", codec)
    for c in (bloom_cols or []):
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    writer.parquet(path)


def write_atomic(path: str, text: str) -> None:
    """Write ``text`` to ``path + ".tmp"``, then rename it onto ``path``
    (atomic on POSIX and on stores with atomic rename): readers see the old
    file or the new one, never half of one. Creates no directories."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def read_sidecar(path: str, **expected) -> dict:
    """The JSON sidecar at ``path``. Every ``expected`` value that is not
    None must equal the stored field of that name: an index read with
    other parameters than it was built with (hash family, bucket count)
    joins on misaligned keys and answers wrong without an error, so a
    mismatch raises ``ValueError`` naming the field."""
    with open(path) as f:
        meta = json.load(f)
    for name, want in expected.items():
        if want is not None and want != meta.get(name):
            raise ValueError(
                f"{path} was written with {name}={meta.get(name)!r}, "
                f"the caller expects {name}={want!r}")
    return meta


def write_batch(df: DataFrame, root: str, batch_id: int,
                shard_col: str) -> None:
    """Write ``df`` as ``<root>/batch=<batch_id>/<shard_col>=<s>/``. The
    overwrite makes a replayed batch converge: an at-least-once writer that
    runs a batch twice leaves the same directory."""
    df.write.mode("overwrite").partitionBy(shard_col) \
        .parquet(os.path.join(root, f"batch={batch_id}"))


def read_batches(spark, root: str, empty: DataFrame) -> DataFrame:
    """Every batch under ``root`` (``batch`` and the shard column are
    discovered partition columns). ONLY the bootstrap case — an index whose
    sidecar exists but no batch with rows has landed yet (the
    streaming-ingest pattern), so there are no parquet footers — is
    recoverable, shaped as ``empty.limit(0)``. Any other read failure
    (permissions, corrupt footers, transient FS errors) must surface:
    treating it as an empty index would silently skip the probe."""
    try:
        return spark.read.parquet(root)
    except AnalysisException as e:
        if not any(s in str(e) for s in _BOOTSTRAP_ERRORS):
            raise
        return empty.limit(0)


def stream_batches(stream: DataFrame, append_fn, checkpoint: str | None,
                   available_now: bool, batch_id_base: int):
    """Start a stream that appends each micro-batch through
    ``append_fn(spark, batch, batch_id_base + batch_id)``. Micro-batch ids
    start at 0, so an index bootstrapped with real data at ``batch=0``
    needs ``batch_id_base=1`` or the first micro-batch overwrites it."""
    def write(batch: DataFrame, batch_id: int) -> None:
        append_fn(batch.sparkSession, batch, batch_id_base + batch_id)

    writer = stream.writeStream.foreachBatch(write).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _batch_ids(root: str) -> list[int]:
    return sorted(int(d[len("batch="):]) for d in os.listdir(root)
                  if d.startswith("batch="))


def merge_batches(spark, root: str, ids: list[int], shard_col: str) -> int:
    """Merge the ``batch=<id>`` directories ``ids`` into ONE new batch
    directory and return its id, a FRESH NEGATIVE one (min(existing)-1):
    it never collides with real batch ids, keeps the partition column's
    integer type, and can never be named by a replaying micro-batch's
    ``exclude_batches``. The merged rows go to a staging dot-dir
    (invisible to partition discovery) that is then renamed into place;
    the source directories are left for the caller to delete."""
    cid = min([0] + _batch_ids(root)) - 1
    src = (spark.read.option("basePath", root)
           .parquet(*[os.path.join(root, f"batch={i}") for i in ids])
           .drop("batch"))
    staging = os.path.join(root, f".compact-{uuid.uuid4().hex[:8]}")
    (src.repartition(F.col(shard_col))
        .write.mode("overwrite").partitionBy(shard_col).parquet(staging))
    os.rename(staging, os.path.join(root, f"batch={cid}"))
    return cid


def compact_batch_dirs(spark, root: str, upto_batch: int,
                       shard_col: str = "_shard") -> dict:
    """OPTIMIZE-style small-file compaction for per-batch index stores
    (``<root>/batch=<id>/<shard_col>=<s>/*.parquet``): merge every batch
    subdirectory with ``0 <= id <= upto_batch`` (plus all previously
    compacted, negative-id dirs) into ONE consolidated batch directory
    (``merge_batches``).

    Why: each streamed micro-batch adds one file per touched shard; after
    B batches a probe of shard s opens B small files. Compaction restores
    O(1) files per shard while keeping the append path untouched — the
    standard lakehouse maintenance op (Delta OPTIMIZE / Iceberg rewrite,
    public pattern), rebuilt here for the manifest-less bands layout.

    Crash-safe order: staging write -> rename into place (briefly
    DUPLICATED with the source dirs — harmless for consumers that
    ``distinct`` candidates, which all banded-index probes do; BM25 needs
    the sidecar-gated probe, see retrieval.compact_bm25_index) -> delete
    source dirs. A crash leaves either the old state or a
    duplicated-but-correct state; rerun to converge.

    Precondition: ``upto_batch`` must be strictly below any batch id that
    may still replay (the stream's checkpoint frontier)."""
    merge = [i for i in _batch_ids(root) if i < 0 or i <= upto_batch]
    if len(merge) <= 1:
        return {"merged_batches": [], "compacted_id": None,
                "skipped": "nothing to merge"}
    cid = merge_batches(spark, root, merge, shard_col)
    for i in merge:
        shutil.rmtree(os.path.join(root, f"batch={i}"), ignore_errors=True)
    return {"merged_batches": merge, "compacted_id": cid}
