"""Structured Streaming: scoring and event-time windowed aggregation.

The reference's streaming surface is legacy DStreams used only for scoring
(readers/.../StreamingReader.scala:54, FileStreamingAvroReader
AvroReaders.scala:110, OpWorkflowRunner.streamingScore
core/.../OpWorkflowRunner.scala:232-250) — no watermarks, no event-time
windows. The rebuild is Structured Streaming (SURVEY.md §2.13): the batch
cutoff-aggregation semantics (§2.4) become watermark + tumbling-window
aggregation, and model scoring becomes the same column pipeline under
``foreachBatch``/``transform``.

Scale notes: windowed aggregation state is partitioned by (key, window) —
the same hash-partitioned shuffle as the batch groupBy; the watermark bounds
state size. ``available_now`` runs the stream to completion over existing
files, which is also how the correctness oracle checks streaming output
against the equivalent batch SQL.
"""
from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..aggregators import agg_sum_exact
from ..util import scoped_conf

# scale-AWARE state-partition sizing (r13; guide §2/§5). Every stateful
# streaming operator creates ONE state store per shuffle partition and pays
# a commit + offset-WAL entry per store per micro-batch — a fixed cost that
# does not shrink with data. Under the session default (partitions = cores)
# a megabytes-sized backfill spreads a handful of keys over 32 stores whose
# commits dominate the query (the r12 bench: streaming_window 9.2 s at 32
# cores vs 1.4 s at 8 — pure store/commit fan-out, per the driver's own
# scaling block). Deriving the partition count from INPUT BYTES (not from
# the core count, and not a local[N] constant) keeps the bench comparable
# across core counts and still hands a 100 TB backfill the session's full
# partition count: ceil(bytes / target) clamps to the session value.
_STATE_PARTITION_TARGET_BYTES = 32 * 1024 * 1024


def scaled_state_partitions(spark: SparkSession, *paths: str) -> int | None:
    """Shuffle/state-partition count for a run-to-completion stream over
    ``paths``: one partition per ``_STATE_PARTITION_TARGET_BYTES`` of
    input, clamped to [1, session shuffle partitions]. Returns None (no
    override) when the size cannot be determined — unknown stays at the
    session default, never a guess."""
    try:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        nbytes = 0
        for p in paths:
            jp = jvm.org.apache.hadoop.fs.Path(p)
            fs = jp.getFileSystem(conf)
            nbytes += fs.getContentSummary(jp).getLength()
    except Exception:
        return None
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(cur, -(-nbytes // _STATE_PARTITION_TARGET_BYTES)))


def windowed_event_aggregate(events: DataFrame, time_col: str = "ts",
                             window: str = "1 day", watermark: str = "1 day",
                             group_cols: list[str] | None = None) -> DataFrame:
    """Tumbling event-time window aggregation with a watermark (the modern
    carrier of the reference's cutoff/window semantics)."""
    group_cols = group_cols if group_cols is not None else ["event_type"]
    w = events.withWatermark(time_col, watermark) if events.isStreaming else events
    return (
        w.groupBy(F.window(F.col(time_col), window).alias("win"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n_events"),
             agg_sum_exact(F.col("value")).alias("total_value"))
        .select(F.unix_millis(F.col("win.start")).alias("window_start_ms"),
                *group_cols, "n_events", "total_value")
    )


def session_windowed_aggregate(events: DataFrame, key_col: str,
                               time_col: str = "ts", gap: str = "30 minutes",
                               watermark: str = "1 hour") -> DataFrame:
    """Gap-based session windows (F.session_window) — the native streaming
    form of stateful.sessionize_batch: same gap semantics, state bounded by
    the watermark. Per (key, session): event count + exact value sum."""
    w = events.withWatermark(time_col, watermark) if events.isStreaming else events
    return (
        w.groupBy(F.session_window(F.col(time_col), gap).alias("win"),
                  F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"),
             agg_sum_exact(F.col("value")).alias("total_value"))
        .select(F.col(key_col),
                F.unix_millis(F.col("win.start")).alias("session_start_ms"),
                F.unix_millis(F.col("win.end")).alias("session_end_ms"),
                "n_events", "total_value")
    )


def file_stream(spark: SparkSession, src_path: str, schema=None,
                ts_col: str | None = None,
                max_files_per_trigger: int | None = None,
                latest_first: bool = False) -> DataFrame:
    """A parquet file-source stream over an existing path (single files are
    expressed as parent dir + glob, since the file source wants a
    directory).

    The stream schema is derived from the batch parquet footer
    (``spark.read.parquet(path).schema``), never hardcoded — a hardcoded
    ``ts long`` against a micros-timestamp file reads garbage *silently*.
    ``ts_col`` normalizes that column to an instant TimestampType whatever
    its physical form (int64-nanos, TIMESTAMP, TIMESTAMP_NTZ) via the same
    schema-driven branch as the batch loader (sources.tables).

    ``max_files_per_trigger`` bounds each micro-batch (backfill over a
    100 TB directory must not load everything into one batch);
    ``latest_first`` processes newest files first (catch-up mode).

    Like ``sources.tables.load_table`` this assumes the engine session
    confs (``session.ENGINE_CONFS``: UTC, and nanosAsLong to read
    int64-nanos files at all); it does not set them on the caller's
    session."""
    from ..sources.tables import ts_to_timestamp

    if schema is None:
        schema = spark.read.parquet(src_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if latest_first:
        reader = reader.option("latestFirst", "true")
    if src_path.endswith(".parquet"):
        parent, _, fname = src_path.rpartition("/")
        reader = reader.option("pathGlobFilter", fname)
        src_path = parent
    stream = reader.parquet(src_path)
    if ts_col:
        dtype = stream.schema[ts_col].dataType
        stream = stream.withColumn(ts_col, ts_to_timestamp(ts_col, dtype))
    return stream


def run_stream_available_now(spark: SparkSession, src_path: str, schema=None,
                             transform=None, ts_col: str | None = None,
                             output_mode: str = "complete") -> DataFrame:
    """Run a file-source stream to completion (Trigger.AvailableNow) into a
    memory sink and return the result as a DataFrame.

    ``transform`` maps the streaming DataFrame to the output frame. Used by
    tests and the oracle gate: a stream over static files must equal the
    batch plan on the same files. ``output_mode="append"`` exercises the
    watermark-expiry path: only windows the final watermark has passed are
    emitted (stream-stream joins likewise require append).

    State partitions are sized from the INPUT BYTES (scaled_state_partitions)
    — partitioning never changes what a keyed aggregation computes, only how
    many state stores pay the per-batch commit fixed cost."""
    out = transform(file_stream(spark, src_path, schema, ts_col))
    return run_to_memory(out, output_mode,
                         state_partitions=scaled_state_partitions(
                             spark, src_path))


def run_to_memory(out: DataFrame, output_mode: str = "complete",
                  state_partitions: int | None = None) -> DataFrame:
    """Run any streaming frame to completion (AvailableNow) into a memory
    sink; returns the sink contents. ``state_partitions`` (optional) pins
    spark.sql.shuffle.partitions for the duration of the run — pass
    ``scaled_state_partitions(...)`` so small backfills do not fan out over
    the session's full state-store count (restored afterwards)."""
    sink = f"mem_{uuid.uuid4().hex[:12]}"
    spark = out.sparkSession
    # the state partition count is pinned from this conf when the query
    # starts; the session's own value is back once the run ends
    pin = ({} if state_partitions is None
           else {"spark.sql.shuffle.partitions": str(state_partitions)})
    with scoped_conf(spark, pin):
        q = (out.writeStream.format("memory").queryName(sink)
             .outputMode(output_mode).trigger(availableNow=True).start())
        q.awaitTermination()
    return spark.table(sink)


def stream_stream_interval_join(left: DataFrame, right: DataFrame,
                                left_key: str, right_key: str,
                                left_time: str, right_time: str,
                                within: str = "1 hour",
                                watermark: str = "2 hours",
                                how: str = "inner") -> DataFrame:
    """Stream-stream join with an event-time interval bound: right-side rows
    must land in [left_time, left_time + within].

    Both sides are watermarked; Spark derives each side's state watermark
    from the interval condition, so buffered state is dropped once the
    watermark passes the bound — state stays bounded regardless of stream
    length (the 100 TB/day requirement). Works identically on batch frames
    (watermarks are skipped), which is how the oracle checks it.
    Column names must be pre-disambiguated (the two inputs share no output
    column names other than via the keys)."""
    l = left.withWatermark(left_time, watermark) if left.isStreaming else left
    r = right.withWatermark(right_time, watermark) if right.isStreaming else right
    cond = F.expr(
        f"{left_key} = {right_key} AND {right_time} >= {left_time} "
        f"AND {right_time} <= {left_time} + INTERVAL {within}")
    return l.join(r, cond, how)


def score_stream(stream: DataFrame, model, checkpoint: str | None = None):
    """Streaming scoring: apply a fitted WorkflowModel's column pipeline to a
    stream (OpWorkflowRunner.streamingScore re-expressed). Returns the
    transformed streaming DataFrame; caller attaches the sink. Pure column
    pipelines apply directly — no foreachBatch needed unless the model
    contains df-level (ml-wrapped) transformers."""
    return model.transform(stream)


def windowed_distinct_approx(events: DataFrame, value_col: str,
                             time_col: str = "ts", window: str = "1 day",
                             watermark: str = "1 day",
                             group_cols: list[str] | None = None,
                             lg_k: int = 12) -> DataFrame:
    """Approximate distinct-count per tumbling window (streaming or batch):
    HLL sketch aggregation under a watermark — the streaming form of
    operators/sketches.hll_partial. Exact streaming distinct needs
    unbounded per-window state (every value seen); the sketch caps state at
    2^lg_k registers per (window, group) regardless of cardinality, which
    is the only form that survives 100 TB/day. Batch frames take the same
    plan minus the watermark, which is how the stream==batch law checks it.
    """
    group_cols = group_cols if group_cols is not None else ["event_type"]
    w = events.withWatermark(time_col, watermark) if events.isStreaming else events
    return (
        w.groupBy(F.window(F.col(time_col), window).alias("win"), *group_cols)
        .agg(F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("_hll"),
             F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_millis(F.col("win.start")).alias("window_start_ms"),
                *group_cols, "n_events",
                F.hll_sketch_estimate("_hll").cast("long")
                 .alias("approx_distinct"))
    )


def windowed_quantile_approx(events: DataFrame, value_col: str,
                             quantiles: list[float],
                             time_col: str = "ts", window: str = "1 day",
                             watermark: str = "1 day",
                             group_cols: list[str] | None = None,
                             k: int = 200) -> DataFrame:
    """Approximate percentiles per tumbling window (streaming or batch):
    KLL sketch aggregation under a watermark — p95/p99 latency per window
    with per-(window, group) state bounded by the sketch size (a few KB)
    instead of the value count. Same stream==batch contract as
    windowed_distinct_approx."""
    group_cols = group_cols if group_cols is not None else ["event_type"]
    w = events.withWatermark(time_col, watermark) if events.isStreaming else events
    agg = (w.groupBy(F.window(F.col(time_col), window).alias("win"),
                     *group_cols)
           .agg(F.kll_sketch_agg_double(F.col(value_col).cast("double"),
                                        F.lit(k)).alias("_kll"),
                F.count(F.lit(1)).alias("n_events")))
    qcols = [F.kll_sketch_get_quantile_double(F.col("_kll"), F.lit(float(q)))
             .alias(f"p{str(q).replace('0.', '')}") for q in quantiles]
    return agg.select(
        F.unix_millis(F.col("win.start")).alias("window_start_ms"),
        *group_cols, "n_events", *qcols)


def stream_rollup_partials(events: DataFrame, partials_path: str,
                           time_col_ms: str, resolution_ms: int,
                           group_cols: list[str],
                           stats: dict[str, tuple[str, str | None]],
                           checkpoint: str | None = None,
                           available_now: bool = True):
    """Streaming continuous-aggregate maintenance: each micro-batch appends
    its rollup carrier partials (operators/rollup.rollup_partials) to the
    partial store; readers answer any resolution/grouping/date-range with
    rollup_merge + rollup_finalize — raw events are read once, at ingest.

    Append-only is the right sink shape here BECAUSE partials are monoid
    carriers: a bucket split across micro-batches yields multiple partial
    rows that merge exactly at read time (the same law the batch form
    tests), so no read-modify-write of the store is ever needed.

    Replay safety: foreachBatch is AT-LEAST-ONCE — a batch that fails
    mid-write replays with the same batch_id, and a plain ``append``
    would double its partials, silently inflating every downstream sum.
    (The checkpoint does NOT fix this: it only skips batches whose
    foreachBatch call RETURNED; it cannot make a manual append atomic.)
    Each batch therefore writes mode("overwrite") into its own
    ``partials_path/batch=<batch_id>/`` directory — the replay rewrites
    the same directory and the store converges to exactly-once contents,
    the same deterministic-subdir guard upsert_sink/CowSnapshot use.
    Readers just ``spark.read.parquet(partials_path)``: the discovered
    ``batch`` partition column is ignored by rollup_merge's groupBy."""
    from ..operators.rollup import rollup_partials

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        rollup_partials(batch, time_col_ms, resolution_ms, group_cols,
                        stats).write.mode("overwrite") \
            .parquet(f"{partials_path}/batch={batch_id}")

    writer = events.writeStream.foreachBatch(write_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_freq_partials(events: DataFrame, partials_path: str,
                         group_cols: list[str], item_col: str,
                         k: int = 256,
                         checkpoint: str | None = None,
                         available_now: bool = True):
    """Streaming frequent-items maintenance: each micro-batch appends its
    Misra-Gries summary partials (operators/sketches.freq_partial) to the
    partial store; readers answer heavy-hitter queries over any group
    subset with ``freq_merge`` — raw events are read once, at ingest.

    Append-only is correct for the same reason as stream_rollup_partials:
    the summary is mergeable with a TRACKED error bound (the
    mergeable-summaries merge), so a group split across micro-batches
    yields partial rows whose merge obeys the same stored <= true <=
    stored + err law as a single-pass summary — and in the exact regime
    (distinct items <= k per group in every batch) is IDENTICAL to it
    (stream == batch law in tests). Replay safety: per-batch
    ``batch=<id>/`` overwrite, the standard at-least-once guard."""
    from ..operators.sketches import freq_partial

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        freq_partial(batch, group_cols, item_col, k=k) \
            .write.mode("overwrite") \
            .parquet(f"{partials_path}/batch={batch_id}")

    writer = events.writeStream.foreachBatch(write_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_bloom_partials(events: DataFrame, partials_path: str,
                          value_col: str, m: int, k: int = 3,
                          portable: bool = False,
                          checkpoint: str | None = None,
                          available_now: bool = True):
    """Streaming Bloom-filter maintenance: each micro-batch appends its
    membership bitmap partial (operators/sketches.bloom_partial — sparse
    (word_idx, bits) rows) under ``batch=<id>/``; readers fold the store
    with ``bloom_merge`` into the current filter (blocklists, seen-URL
    sets, decontamination eval sets that grow over time).

    Append-only is correct because the bitmap is an idempotent commutative
    monoid (bit_or per word): duplicate batches, replay, and merge order
    cannot change the folded filter — replays overwrite their own
    ``batch=<id>/`` subdir AND re-OR to the same bits (stream == batch law
    in tests, exact row equality)."""
    from ..operators.sketches import bloom_partial

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        bloom_partial(batch, [], value_col, m, k, portable) \
            .write.mode("overwrite") \
            .parquet(f"{partials_path}/batch={batch_id}")

    writer = events.writeStream.foreachBatch(write_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
