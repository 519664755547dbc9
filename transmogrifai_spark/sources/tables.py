"""Canonical loaders for the driver testdata tables (TESTDATA.md).

``load_table(spark, sf_dir, name)`` returns the parquet table with
engine-normalized columns. The events table's ``ts`` column has been written
differently across testdata generations (TIMESTAMP(NANOS), TIMESTAMP(MICROS)
as NTZ, …), so the loader is schema-driven, not format-assuming:
``normalize_events`` inspects the *loaded* dtype of ``ts`` and derives

  * ``ts``     — TimestampType (instant, UTC session) truncated to micros,
  * ``ts_ms``  — epoch milliseconds (the reference's DateTime physical form,
                 FeatureSparkTypes.scala: DateTime -> LongType epoch ms).

Both are instant-based (timezone-independent), which the oracle gate needs.
All conversions are integer (`div`, unix_micros) — epoch-nanos (~1.7e18)
exceed double's 2^53 exact-integer range, so any float path corrupts the low
digits on a subset of rows.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def ts_to_timestamp(col_name: str, dtype: T.DataType) -> Column:
    """An instant TimestampType column from whatever physical form ``ts``
    loaded as: int64 epoch-nanos (nanosAsLong), TIMESTAMP, or TIMESTAMP_NTZ
    (naive wall time interpreted as UTC — the session TZ must be UTC)."""
    if isinstance(dtype, T.LongType):  # nanosAsLong: int64 epoch-nanos
        return F.timestamp_micros(F.expr(f"{col_name} div 1000").cast("long"))
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.col(col_name).cast("timestamp")
    raise TypeError(f"unsupported events ts dtype: {dtype}")


def normalize_events(df: DataFrame) -> DataFrame:
    """Schema-driven ``ts``/``ts_ms`` normalization for the events table.
    Branches on the loaded dtype so a testdata re-spec (nanos-as-long vs
    timestamp[us] vs timestamp_ntz) cannot silently break every consumer."""
    dtype = df.schema["ts"].dataType
    ts = ts_to_timestamp("ts", dtype)
    if isinstance(dtype, T.LongType):
        # integer division on the raw nanos (`div`, NOT `/`): epoch-nanos
        # exceed double's 2^53 exact range, floor(ts/1e6) is off-by-1ms on a
        # measurable fraction of rows
        ts_ms = F.expr("ts div 1000000").cast("long")
    else:
        # micros fit in 2^53, but keep the integer form anyway (ADVICE r3)
        ts_ms = F.expr(
            "unix_micros(cast(ts as timestamp)) div 1000").cast("long")
    return df.withColumn("ts_ms", ts_ms).withColumn("ts", ts)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table; ``events`` comes back with normalized
    ``ts``/``ts_ms``. Assumes the engine session confs
    (``session.ENGINE_CONFS``: a UTC session, and nanosAsLong so an
    int64-nanos ``ts`` can be read at all) and does not set them on the
    caller's session."""
    if name == "events":
        return normalize_events(spark.read.parquet(f"{sf_dir}/events.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
