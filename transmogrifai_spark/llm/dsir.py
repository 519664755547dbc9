"""DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
2023): select raw-corpus documents whose hashed-n-gram distribution looks
like a small TARGET corpus (the published recipe behind "give me 10M
web documents that look like Wikipedia+books").

Method: bag-of-hashed-ngrams (unigrams+bigrams into ``n_buckets``);
per-bucket probabilities under the raw and target corpora (Laplace
smoothed); a document's log importance weight = sum over its feature
occurrences of ``ln(p_target(b) / p_raw(b))``; resample ∝ exp(weight) —
here via deterministic Gumbel top-k (sampling WITHOUT replacement
proportional to exp(weight), with the Gumbel noise derived from the id
hash, so selection is reproducible on any cluster layout — the engine's
standard determinism contract).

Reference surface: TransmogrifAI has no data-selection layer; this sits
beside the quality classifier (`llm/quality_classifier.py`) as the
distribution-matching alternative (DSIR needs only a target CORPUS, no
labels).

100 TB design
-------------
* Feature hashing is a pure expression (tokenize -> grams -> hash ->
  pmod) — one linear scan per corpus, no vocabulary state.
* The bucket table is CONFIG-sized (``n_buckets`` rows, default 10k):
  built by two aggregations (raw + target counts) joined onto
  ``spark.range(n_buckets)``, then **broadcast** into the scoring scan —
  the raw corpus is never shuffled; its only aggregation groups by
  (id, total) AFTER the broadcast probe, map-side combined.
* Totals are 1-row aggregate collects (bounded scalars).
* ``portable=True``: md5-derived bucket hashes and per-bucket log ratios
  rounded to 6 dp then DECIMAL(18,6)-summed — order-independent and
  SQL-replicable (the BM25 quantized-scoring contract; ln() is libm,
  covered by the 6 dp rounding).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["hashed_ngram_buckets", "dsir_log_ratio_table",
           "dsir_log_weights", "dsir_sample", "dsir_count_partials",
           "stream_dsir_counts", "read_dsir_counts",
           "dsir_table_from_counts"]

_MOD = 1_000_000  # curation.hash_bucket's modulus (u = (h+0.5)/MOD)


def hashed_ngram_buckets(c: Column, n_buckets: int = 10_000,
                         max_n: int = 2, portable: bool = False) -> Column:
    """Bag of hashed word n-grams (n = 1..max_n) as ``array<long>`` bucket
    ids WITH multiplicity (DSIR weights count occurrences, not distinct
    features). Normalization matches llm/decontam: lowercase, alnum runs.
    """
    norm = F.lower(c)
    toks = F.filter(
        F.split(F.regexp_replace(norm, r"[^0-9a-z]+", " "), " "),
        lambda t: t != "")

    def per(t):
        # closure FACTORY per n: a `lambda i, n=n` would have arity 2 and
        # pyspark's transform feeds the ARRAY INDEX as the second argument,
        # silently clobbering n (slice length = position — found by the
        # python-mirror law test)
        def gram_hash(n):
            if portable:
                from .dedup import portable_hash64
                return lambda i: portable_hash64(
                    F.concat_ws(" ", F.slice(t, i, n))) % n_buckets
            return lambda i: F.pmod(
                F.xxhash64(F.concat_ws(" ", F.slice(t, i, n))),
                F.lit(n_buckets))

        parts = []
        for n in range(1, max_n + 1):
            starts = F.when(
                F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
            ).otherwise(F.array().cast("array<int>"))
            parts.append(F.transform(starts, gram_hash(n)))
        return F.concat(*parts)

    # bind toks once (transform-array trick: per-gram lambdas must not
    # re-evaluate the regex+split chain per element)
    return F.transform(F.array(toks), per)[0]


def _bucket_counts(df: DataFrame, text_col: str, n_buckets: int, max_n: int,
                   portable: bool):
    feats = df.select(F.explode(hashed_ngram_buckets(
        F.col(text_col), n_buckets, max_n, portable)).alias("bucket"))
    counted = feats.groupBy("bucket").agg(F.count("*").alias("cnt"))
    # snapshot the CONFIG-sized counts (<= n_buckets rows) driver-side:
    # NOTE the driver-memory coupling: the histogram crosses the driver
    # (collect + createDataFrame), fine at the 10k default but a caller
    # configuring millions of buckets pays it twice per corpus.
    # the total is exactly sum(cnt), so one featurize pass yields both —
    # the pre-r12 `feats.count()` burned a SECOND full featurize pass
    # per corpus for a number the counts frame already contains, and a
    # lazy counts frame would re-featurize AGAIN when the table is
    # consumed (r12 batch 3; same bounded-snapshot pattern as the
    # retrieval gate's bm25/weights frames)
    rows = counted.collect()
    total = sum(r["cnt"] for r in rows)
    counts = df.sparkSession.createDataFrame(rows, counted.schema)
    return counts, total


def _table_from_counts(rc: DataFrame, rt: int, tc: DataFrame, tt: int,
                       n_buckets: int, alpha: float) -> DataFrame:
    """Shared table arithmetic for the batch and streamed-count paths —
    identical by construction, so the stream == batch law is exact."""
    spark = rc.sparkSession
    buckets = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    a = float(alpha)
    rden = float(rt + a * n_buckets)
    tden = float(tt + a * n_buckets)
    t = (buckets
         .join(rc.withColumnRenamed("cnt", "rc"), "bucket", "left")
         .join(tc.withColumnRenamed("cnt", "tc"), "bucket", "left")
         .select("bucket",
                 ((F.coalesce(F.col("tc"), F.lit(0)) + F.lit(a))
                  / F.lit(tden)).alias("pt"),
                 ((F.coalesce(F.col("rc"), F.lit(0)) + F.lit(a))
                  / F.lit(rden)).alias("pr")))
    return t.select("bucket",
                    F.round(F.log(F.col("pt") / F.col("pr")), 6).alias("lr"))


def dsir_log_ratio_table(raw: DataFrame, target: DataFrame, text_col: str,
                         n_buckets: int = 10_000, max_n: int = 2,
                         alpha: float = 1.0,
                         portable: bool = False) -> DataFrame:
    """The config-sized scoring table: one row per bucket with
    ``lr = round(ln(p_target / p_raw), 6)`` under Laplace smoothing
    ``p = (cnt + alpha) / (total + alpha * n_buckets)``. Rounding at the
    table makes downstream decimal sums exact and engine-portable."""
    rc, rt = _bucket_counts(raw, text_col, n_buckets, max_n, portable)
    tc, tt = _bucket_counts(target, text_col, n_buckets, max_n, portable)
    return _table_from_counts(rc, rt, tc, tt, n_buckets, alpha)


def dsir_count_partials(df: DataFrame, text_col: str,
                        n_buckets: int = 10_000, max_n: int = 2,
                        portable: bool = False) -> DataFrame:
    """Mergeable DSIR state for one corpus slice: ``(bucket, cnt)``
    feature-occurrence counts. Integer counts are an exact monoid —
    merge = groupBy(bucket).sum — so per-batch partials reassemble the
    one-shot distribution regardless of batch boundaries."""
    feats = df.select(F.explode(hashed_ngram_buckets(
        F.col(text_col), n_buckets, max_n, portable)).alias("bucket"))
    return feats.groupBy("bucket").agg(F.count("*").alias("cnt"))


def _write_dsir_meta(path: str, n_buckets: int, max_n: int,
                     portable: bool) -> None:
    import json
    import os

    from ..sources.layout import write_atomic
    os.makedirs(path, exist_ok=True)
    write_atomic(os.path.join(path, "_DSIR_COUNTS.json"),
                 json.dumps({"n_buckets": n_buckets, "max_n": max_n,
                             "portable": portable}))


def read_dsir_counts(spark, path: str, n_buckets: int | None = None,
                     max_n: int | None = None,
                     portable: bool | None = None) -> DataFrame:
    """Merged ``(bucket, cnt)`` from a partial directory (per-batch
    subdirs written by ``stream_dsir_counts`` or manual appends). The
    path's file-listing cache is refreshed first: a replayed batch
    OVERWRITES its subdir, and a listing cached before the replay would
    point at deleted part files (FAILED_READ_FILE).

    The store's ``_DSIR_COUNTS.json`` sidecar (the LSH/BM25 params
    pattern) pins the hash parameters the counts were built with; any
    explicitly passed parameter is VERIFIED against it — counts joined
    into a table with mismatched n_buckets/portable would be silently
    wrong (buckets align by id, no error), so mismatch raises."""
    import os

    from ..sources.layout import read_sidecar
    meta_path = os.path.join(path, "_DSIR_COUNTS.json")
    if os.path.exists(meta_path):
        read_sidecar(meta_path, n_buckets=n_buckets, max_n=max_n,
                     portable=portable)
    # the sidecar's leading underscore keeps it invisible to the parquet
    # file index (the _SUCCESS rule), so it lives beside the batch dirs
    spark.catalog.refreshByPath(path)
    return (spark.read.parquet(path)
            .groupBy("bucket").agg(F.sum("cnt").alias("cnt")))


def dsir_table_from_counts(raw_counts: DataFrame, target_counts: DataFrame,
                           n_buckets: int = 10_000,
                           alpha: float = 1.0) -> DataFrame:
    """The log-ratio table from MERGED count frames (the streamed path).
    Totals are exact integer sums, the arithmetic is the shared helper —
    equals ``dsir_log_ratio_table`` over the same corpora exactly
    (law-tested).

    Inputs are aggregated to one row per bucket BEFORE the driver-side
    snapshot (identity on already-merged frames), so the collect is
    bounded by the distinct buckets, never by the caller's row count —
    an unaggregated partials frame no longer risks an unbounded driver
    collect (guide §5). Bucket ids outside [0, n_buckets) mean the
    counts were hashed with a different n_buckets and would silently
    misalign in the join — that raises. NULL cnt values count as 0 (the
    pre-r12 agg(sum) tolerance)."""
    spark = raw_counts.sparkSession

    def snap(counts: DataFrame, name: str):
        merged = counts.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
        rows = merged.collect()
        bad = [r["bucket"] for r in rows
               if r["bucket"] is None or not 0 <= r["bucket"] < n_buckets]
        if bad:
            raise ValueError(
                f"dsir_table_from_counts: {name} has bucket ids outside "
                f"[0, {n_buckets}) (e.g. {bad[:3]}) — counts built with a "
                "different n_buckets would silently misalign")
        total = sum(r["cnt"] or 0 for r in rows)
        return spark.createDataFrame(rows, merged.schema), total

    rc, rt = snap(raw_counts, "raw_counts")
    tc, tt = snap(target_counts, "target_counts")
    return _table_from_counts(rc, rt, tc, tt, n_buckets, alpha)


def stream_dsir_counts(stream: DataFrame, path: str, text_col: str,
                       n_buckets: int = 10_000, max_n: int = 2,
                       portable: bool = False,
                       checkpoint: str | None = None,
                       available_now: bool = True,
                       batch_id_base: int = 0):
    """Streaming maintenance of a DSIR bucket-count directory: each
    micro-batch's partial overwrites its own ``batch=<id>`` subdir
    (at-least-once replays converge — the LSH/BM25/bloom pattern), so
    the importance-weight table stays current as the corpus streams in:
    ``dsir_table_from_counts(read_dsir_counts(...), target_counts)``.
    Per-batch cost: one scan of the batch + a config-sized aggregation;
    the accumulated corpus is never re-read. No compaction op exists for
    this store ON PURPOSE: each batch dir holds at most ``n_buckets``
    rows (config-sized, unlike the posting/band indexes whose batch dirs
    scale with data), so even 10^5 batches fold in one trivial groupBy —
    small-file pressure is bounded by config, not corpus.

    If the directory was BOOTSTRAPPED with real counts (a manual
    ``dsir_count_partials(...).write`` at ``batch=0``), pass
    ``batch_id_base=1`` — stream micro-batch ids start at 0 and would
    silently overwrite the bootstrap (the stream_ivf_index /
    stream_lsh_index clobber trap, same guard)."""
    _write_dsir_meta(path, n_buckets, max_n, portable)

    def do_batch(batch: DataFrame, batch_id: int) -> None:
        dsir_count_partials(batch, text_col, n_buckets, max_n, portable) \
            .write.mode("overwrite") \
            .parquet(f"{path}/batch={batch_id_base + batch_id}")

    w = stream.writeStream.foreachBatch(do_batch).outputMode("update")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def dsir_log_weights(raw: DataFrame, target: DataFrame, id_col: str,
                     text_col: str, n_buckets: int = 10_000, max_n: int = 2,
                     alpha: float = 1.0, portable: bool = False,
                     table: DataFrame | None = None) -> DataFrame:
    """Per raw document: ``(id_col, n_feats, log_weight)`` where
    ``log_weight`` sums the broadcast table's log ratios over the doc's
    feature OCCURRENCES (featureless docs score 0.0). Pass a precomputed
    ``table`` to score several corpora against one target."""
    if table is None:
        table = dsir_log_ratio_table(raw, target, text_col, n_buckets,
                                     max_n, alpha, portable)
    feats = raw.select(
        F.col(id_col),
        F.explode_outer(hashed_ngram_buckets(
            F.col(text_col), n_buckets, max_n, portable)).alias("bucket"))
    joined = feats.join(F.broadcast(table), "bucket", "left")
    if portable:
        # lr is 6dp-rounded -> DECIMAL(18,6) is exact; the sum is
        # order-independent whatever the partitioning
        s = F.sum(F.col("lr").cast("decimal(18,6)")).cast("double")
    else:
        s = F.sum("lr")
    return (joined.groupBy(id_col)
            .agg(F.count("bucket").alias("n_feats"),
                 F.coalesce(s, F.lit(0.0)).alias("log_weight")))


def dsir_sample(raw: DataFrame, target: DataFrame, id_col: str,
                text_col: str, k: int, n_buckets: int = 10_000,
                max_n: int = 2, alpha: float = 1.0, seed: int = 42,
                portable: bool = False, quantize: int | None = None,
                weights: DataFrame | None = None) -> DataFrame:
    """Select ``k`` raw documents ∝ exp(log_weight) WITHOUT replacement
    via Gumbel top-k: key = log_weight + Gumbel(0,1) where the Gumbel
    noise comes from the deterministic id hash (``-ln(-ln(u))``,
    u = (hash+0.5)/MOD) — reproducible on any layout, no rand(). Returns
    the selected rows of ``raw`` (all columns) plus ``log_weight``.

    ``quantize`` rounds the selection key to that many decimals before the
    top-k (ties broken by id) — the BM25 determinism contract: the double
    ``log_weight - ln(-ln(u))`` is libm math, and 6-dp rounding makes the
    selected SET engine-portable/SQL-replicable. ``weights`` short-circuits
    the log-weight computation (pass a precomputed ``dsir_log_weights``
    frame to score once and sample several k's / seeds)."""
    from .curation import hash_bucket
    w = weights if weights is not None else dsir_log_weights(
        raw, target, id_col, text_col, n_buckets, max_n, alpha, portable)
    u = (hash_bucket(F.col(id_col), seed) + F.lit(0.5)) / F.lit(float(_MOD))
    key = F.col("log_weight") - F.log(-F.log(u))
    if quantize is not None:
        key = F.round(key, quantize)
    chosen = (w.select(id_col, "log_weight", key.alias("_gumbel_key"))
              .orderBy(F.col("_gumbel_key").desc(), F.col(id_col))
              .limit(k)
              .drop("_gumbel_key"))
    return raw.join(F.broadcast(chosen) if k <= 1_000_000 else chosen,
                    id_col, "inner")
