"""Deterministic training-shard export — the output side of a training-data
pipeline: split a curated corpus into N pseudo-randomly shuffled shards
whose assignment AND intra-shard order are pure functions of the row id
(the multiplicative id-hash every sampler in llm/curation uses), so the
exact same shards come out on every run and every cluster layout, with no
RNG state and no global sort.

Published practice this re-expresses: large-corpus training sets ship as
size-balanced shard files with a deterministic global shuffle baked in
(WebDataset/TFRecord shard conventions, GPT/LLaMA data pipelines), because
shuffling at train time over object storage is a seek storm. The shard
id is ``hash(id) mod n_shards`` and the intra-shard order key is
``(hash(id), id)`` — a deterministic permutation, NOT insertion order, so
adjacent source documents (same crawl, same domain) scatter across shards
and across positions within a shard.

Physical shape at 100 TB:
  * ONE shuffle (repartition on shard) then a partitioned write —
    ``path/_shard=K/`` directories; a shard may span multiple files (fine:
    a 100-GB shard SHOULD be many files) because the order key ``_rank``
    is persisted in the rows, files are written rank-sorted
    (``sortWithinPartitions``) so parquet row-group min/max on ``_rank``
    prune resume-from-step reads, and readers that need the stream order
    sort a single shard, never the corpus.
  * The manifest (row/token counts + rank bounds per shard) is computed by
    ONE aggregation job (n_shards result rows) and written as a JSON
    sidecar; integrity verification re-aggregates the written files and
    diffs against the manifest — the check a resumable trainer runs before
    trusting a shard set.
  * Reads of a single shard prune at the DIRECTORY level via the
    ``_shard`` partition column (PartitionFilters, tested).
"""
from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..llm.curation import hash_bucket
from .layout import read_sidecar, write_atomic

MANIFEST = "_shard_manifest.json"


def shard_assignment(df: DataFrame, id_col: str, n_shards: int,
                     seed: int = 42) -> DataFrame:
    """Add ``_shard`` (= hash(id) mod n_shards) and ``_rank`` (1-based
    position in the shard's deterministic order, by (hash(id), id)).
    Pure function of the id — layout-independent and SQL-replicable."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1: {n_shards}")
    b = hash_bucket(F.col(id_col), seed)
    w = (Window.partitionBy("_shard")
         .orderBy(F.col("_bucket").asc(), F.col(id_col).asc()))
    return (df.withColumn("_bucket", b)
              .withColumn("_shard", F.pmod(F.col("_bucket"), F.lit(n_shards))
                          .cast("int"))
              .withColumn("_rank", F.row_number().over(w))
              .drop("_bucket"))


def export_shards(df: DataFrame, id_col: str, path: str, n_shards: int,
                  token_col: str | None = None, seed: int = 42) -> dict:
    """Write ``df`` as ``n_shards`` deterministic shards under
    ``path/_shard=K/`` and return the manifest (also written as a JSON
    sidecar). One shuffle; files are rank-sorted within each shard."""
    assigned = shard_assignment(df, id_col, n_shards, seed)
    (assigned
     .repartition(n_shards, F.col("_shard"))
     .sortWithinPartitions("_shard", "_rank")
     .write.mode("overwrite").partitionBy("_shard").parquet(path))
    tok = (F.sum(F.col(token_col)).cast("long") if token_col
           else F.lit(None).cast("long"))
    stats = (assigned.groupBy("_shard")
             .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                  tok.alias("n_tokens"),
                  F.min("_rank").alias("min_rank"),
                  F.max("_rank").alias("max_rank"))
             .collect())  # bounded: n_shards rows
    manifest = {
        "n_shards": n_shards,
        "seed": seed,
        "id_col": id_col,
        "token_col": token_col,
        "shards": {str(r["_shard"]): {
            "n_rows": r["n_rows"],
            "n_tokens": r["n_tokens"],
            "min_rank": r["min_rank"],
            "max_rank": r["max_rank"],
        } for r in sorted(stats, key=lambda r: r["_shard"])},
    }
    write_atomic(os.path.join(path, MANIFEST),
                 json.dumps(manifest, indent=2, sort_keys=True))
    return manifest


def read_shards(spark: SparkSession, path: str,
                shards: list[int] | None = None) -> DataFrame:
    """Read a shard set; restricting ``shards`` prunes whole ``_shard=K``
    directories (partition pruning, not a post-scan filter)."""
    df = spark.read.parquet(path)
    if shards is not None:
        df = df.where(F.col("_shard").isin([int(s) for s in shards]))
    return df


def load_manifest(path: str) -> dict:
    return read_sidecar(os.path.join(path, MANIFEST))


def verify_shards(spark: SparkSession, path: str) -> list[str]:
    """Integrity check a trainer runs before trusting a shard set:
    re-aggregate the written files and diff against the manifest. Returns
    a list of human-readable problems (empty = verified). Catches lost or
    duplicated files, truncated shards and rank-sequence corruption."""
    manifest = load_manifest(path)
    tok_col = manifest.get("token_col")
    tok = (F.sum(F.col(tok_col)).cast("long") if tok_col
           else F.lit(None).cast("long"))
    actual = {str(r["_shard"]): r for r in
              read_shards(spark, path).groupBy("_shard")
              .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                   tok.alias("n_tokens"),
                   F.min("_rank").alias("min_rank"),
                   F.max("_rank").alias("max_rank"),
                   F.count_distinct("_rank").alias("n_ranks"))
              .collect()}
    problems = []
    for sid, want in manifest["shards"].items():
        got = actual.pop(sid, None)
        if got is None:
            problems.append(f"shard {sid}: missing on disk")
            continue
        for k in ("n_rows", "n_tokens", "min_rank", "max_rank"):
            if got[k] != want[k]:
                problems.append(
                    f"shard {sid}: {k} mismatch (manifest {want[k]}, "
                    f"disk {got[k]})")
        # ranks must be the contiguous 1..n sequence (no dupes, no holes)
        if got["n_ranks"] != got["n_rows"] or got["min_rank"] != 1 \
                or got["max_rank"] != got["n_rows"]:
            problems.append(f"shard {sid}: rank sequence corrupt")
    for sid in actual:
        problems.append(f"shard {sid}: on disk but not in manifest")
    return problems
