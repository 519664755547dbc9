"""SparkSession factory with the engine's scale-tuned defaults."""
from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Session confs every engine result assumes, applied by session() and by
# the registry entry (apply_engine_confs) — never per call by a library
# function. UTC: calendar functions must not depend on the caller's locale
# (the oracle gate's DuckDB timestamps are naive/UTC; it also makes the
# TIMESTAMP_NTZ -> TIMESTAMP cast an identity on the wall clock).
# nanosAsLong: harmless for micros/NTZ parquet files, required to read
# int64-nanos ones at all (sources.tables.ts_to_timestamp decodes them).
ENGINE_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def session(app: str = "transmogrifai-spark", cpus: int | None = None,
            shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or get) a session with the settings every operator assumes:

    * AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
      the engine relies on it instead of hand-tuned partition counts.
    * Arrow on — every pandas-UDF boundary ships columnar batches.
    * ``ENGINE_CONFS`` — UTC session timezone (determinism for the oracle
      gate) and nanos-as-long parquet timestamps.
    * shuffle partitions sized to the local box (``$SPARK_GRAFT_CPUS``,
      default the machine's core count); on a real cluster AQE coalesces
      from a higher initial value.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    shuffle = shuffle_partitions or cpus
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # semi-join reduction: build a bloom filter on the small side of a
        # selective join and push it into the big side's scan — at 100 TB
        # this keeps non-matching fact rows out of the shuffle entirely
        # (bloom_filter_agg/might_contain are optimizer-internal in Spark 4,
        # so this conf IS the public bloom-join surface)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(map=ENGINE_CONFS)
        .getOrCreate()
    )


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """The registry entry's one explicit session step: set ``ENGINE_CONFS``
    on a session the engine did not build (a stock session handed to
    ``__spark_entry__``). Library functions never call this — a caller's
    own session keeps its confs. Returns ``spark``."""
    for k, v in ENGINE_CONFS.items():
        spark.conf.set(k, v)
    return spark
