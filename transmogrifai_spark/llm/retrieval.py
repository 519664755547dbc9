"""BM25 full-text retrieval over a document corpus — the lexical
counterpart of llm/similarity.py's embedding ANN (the two legs of a
retrieval pipeline; hybrid = union + rerank).

Okapi BM25 (Robertson et al., TREC-3; the Lucene-default variant):

    score(q, d) = sum over t in q of
        idf(t) * tf(t,d) * (k1 + 1) / (tf(t,d) + k1 * (1 - b + b * dl/avgdl))
    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))

Scale design:
  * Postings are (term, doc_id, tf, dl) rows — built with one tokenize +
    explode + count pass, the inverted-index shape (the shuffle carries
    8B+term keys, never documents).
  * Query terms are tiny and broadcast; candidate generation is an
    equi-join on term, so cost scales with the postings of the QUERY's
    terms, never the corpus (``max_df`` drops stop-word-degenerate terms
    whose postings lists are huge and idf ~ 0 — the skew guard).
  * The persisted index partitions postings by ``_shard =
    pmod(xxhash64(term), n_shards)``: a query probes only the shard
    DIRECTORIES its terms hash into (directory pruning, the
    build_lsh_index contract), and per-batch subdirectories make appends
    replay-idempotent. df/N/avgdl stay EXACT across appends: df is
    counted from the pruned postings read itself (all batches of a
    probed shard are read), N/total_len accumulate in per-batch sidecar
    files.

Cross-engine determinism (the oracle-gated mode): per-term scores are
rounded to ``quantize`` decimals and accumulated as DECIMAL(18,6) — sums
of quantized decimals are exact and order-independent, so ranking is
identical whatever the partition layout or engine (the repo-wide
decimal-accumulation rule; plain double sums are the throughput default).
"""
from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokenize
from ..sources.layout import (merge_batches, read_batches, read_sidecar,
                              stream_batches, write_atomic, write_batch)
from ..util import cached, ensure_parallelism


def bm25_postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(term, doc_id, tf, dl) inverted-index rows; dl = doc token count."""
    toks = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        tokenize(F.col(text_col)).alias("_toks"))
    toks = toks.select("doc_id", F.size("_toks").alias("dl"),
                       F.explode("_toks").alias("term"))
    return (toks.groupBy("term", "doc_id", "dl")
            .agg(F.count(F.lit(1)).alias("tf")))


def _corpus_stats(docs: DataFrame, text_col: str) -> tuple[int, int]:
    """(n_docs, total_token_len) in one bounded one-row aggregate."""
    r = docs.select(F.count(F.lit(1)).alias("n"),
                    F.sum(F.size(tokenize(F.col(text_col))))
                    .cast("long").alias("len")).collect()[0]
    return int(r["n"]), int(r["len"] or 0)


def _score_terms(cand: DataFrame, n_docs: int, avgdl: float,
                 k1: float, b: float, quantize: int | None):
    """Per-(query,term,doc) BM25 contribution. Expression order mirrors the
    SQL oracle op-for-op (see ORACLES['corpus_mixture'] part='bm25')."""
    df_ = F.col("df").cast("double")
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - df_ + F.lit(0.5))
                / (df_ + F.lit(0.5)))
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    denom = tf + F.lit(k1) * (F.lit(1.0 - b) + (F.lit(b) * dl) / F.lit(avgdl))
    term_score = idf * ((tf * F.lit(k1 + 1.0)) / denom)
    if quantize is not None:
        return F.round(term_score, quantize).cast("decimal(18,6)")
    return term_score


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "doc_id", "rank",
                    F.col("score").cast("double").alias("score")))


def _query_terms(queries: DataFrame, qid_col: str, qtext_col: str) -> DataFrame:
    """Distinct (query_id, term) — repeated query terms count once (the
    Lucene-practical choice; qtf weighting adds nothing for short queries)."""
    return (queries.select(F.col(qid_col).alias("query_id"),
                           F.explode(tokenize(F.col(qtext_col))).alias("term"))
            .distinct())


def bm25_topk(docs: DataFrame, queries: DataFrame, id_col: str,
              text_col: str, qid_col: str, qtext_col: str, k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              max_df: int | None = None,
              quantize: int | None = None) -> DataFrame:
    """One-shot BM25 top-k: (query_id, doc_id, rank, score). ``quantize``
    enables the deterministic decimal-accumulated scoring mode."""
    n_docs, total_len = _corpus_stats(docs, text_col)
    avgdl = total_len / n_docs if n_docs else 1.0
    # persist: postings feed two plan branches (df pass + candidate join);
    # without it the tokenize/explode/count pipeline runs twice (the
    # ngram_jaccard_pairs lesson). The indexed path has no such issue —
    # its two reads are directory-pruned parquet scans.
    post = cached(bm25_postings(docs, id_col, text_col))
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        dfreq = dfreq.where(F.col("df") <= max_df)
    qt = _query_terms(queries, qid_col, qtext_col)
    cand = (post.join(F.broadcast(qt), "term")
            .join(F.broadcast(dfreq), "term"))
    scored = (cand
              .withColumn("_s", _score_terms(cand, n_docs, avgdl, k1, b,
                                             quantize))
              .groupBy("query_id", "doc_id")
              .agg(F.sum("_s").alias("score")))
    return _topk(scored, k)


def reciprocal_rank_fusion(rankings: list[DataFrame], k: int = 10,
                           c: int = 60) -> DataFrame:
    """Hybrid retrieval: fuse ranked lists (e.g. BM25 + embedding ANN) by
    Reciprocal Rank Fusion (Cormack et al., SIGIR'09):
    ``rrf(d) = sum over lists of 1 / (c + rank_list(d))``, absent = 0.

    Each input needs (query_id, doc_id, rank). Implemented as a chain of
    outer joins — NOT a groupBy sum — so the double additions happen in
    the fixed syntactic order of the ``rankings`` list: results are
    bit-deterministic whatever the partition layout (a grouped sum of
    doubles is not). The join keys are (query_id, doc_id): cost scales
    with the candidate lists, never the corpus."""
    assert rankings, "need at least one ranking"
    fused = None
    for i, r in enumerate(rankings):
        side = r.select("query_id", "doc_id",
                        (F.lit(1.0) / (F.lit(float(c)) + F.col("rank")))
                        .alias(f"_rrf{i}"))
        fused = side if fused is None else \
            fused.join(side, ["query_id", "doc_id"], "full_outer")
    score = F.lit(0.0)
    for i in range(len(rankings)):
        score = score + F.coalesce(F.col(f"_rrf{i}"), F.lit(0.0))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (fused.withColumn("score", score)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "doc_id", "rank", "score"))


# ---------------------------------------------------------------------------
# Persisted, incrementally-appendable BM25 index
# ---------------------------------------------------------------------------

def build_bm25_index(docs: DataFrame, id_col: str, text_col: str, path: str,
                     *, n_shards: int = 16, batch_id: int = 0) -> dict:
    """Persist the inverted index partitioned by term shard + a params
    sidecar; per-batch stats sidecars keep N/avgdl exact across appends."""
    post = bm25_postings(docs, id_col, text_col).withColumn(
        "_shard", F.pmod(F.xxhash64("term"), F.lit(n_shards)))
    write_batch(post, os.path.join(path, "postings"), batch_id, "_shard")
    n_docs, total_len = _corpus_stats(docs, text_col)
    os.makedirs(os.path.join(path, "stats"), exist_ok=True)
    meta = {"n_shards": n_shards}
    write_atomic(os.path.join(path, "_BM25_INDEX.json"), json.dumps(meta))
    _write_stats(path, batch_id, n_docs, total_len)
    return meta


def _write_stats(path: str, batch_id: int, n_docs: int, total_len: int,
                 covers: list[int] | None = None):
    payload = {"n_docs": n_docs, "total_len": total_len}
    if covers:
        payload["covers"] = sorted(covers)
    write_atomic(os.path.join(path, "stats", f"batch_{batch_id}.json"),
                 json.dumps(payload))


def _load_stats(path: str) -> tuple[int, int, list[int]]:
    """(n_docs, total_len, live_batch_ids) from the stats sidecars.

    The sidecars ARE the index's commit manifest: a postings batch counts
    only if its sidecar exists AND no compaction sidecar ``covers`` it.
    That makes compaction's switchover a single atomic sidecar write (see
    :func:`compact_bm25_index`) and makes a half-written postings dir
    (crash leftover, no sidecar yet) invisible rather than score-corrupting
    — BM25 probes, unlike the banded dedup probes, do NOT distinct away
    duplicate rows, so visibility must be manifest-exact."""
    stats_dir = os.path.join(path, "stats")
    sidecars = {}
    for fn in os.listdir(stats_dir):
        if fn.startswith("batch_") and fn.endswith(".json"):
            sidecars[int(fn[len("batch_"):-len(".json")])] = \
                read_sidecar(os.path.join(stats_dir, fn))
    covered = set()
    for s in sidecars.values():
        covered.update(s.get("covers", []))
    live = sorted(i for i in sidecars if i not in covered)
    n_docs = sum(sidecars[i]["n_docs"] for i in live)
    total_len = sum(sidecars[i]["total_len"] for i in live)
    return n_docs, total_len, live


def append_bm25_index(spark, path: str, docs: DataFrame, id_col: str,
                      text_col: str, batch_id: int) -> None:
    """Add a document batch: its own postings/batch=<id>/ subdirectory
    (overwrite — replay-idempotent) + its stats sidecar. No corpus rescan,
    no df re-merge: df is recomputed exactly from the pruned read at
    query time."""
    meta = read_sidecar(os.path.join(path, "_BM25_INDEX.json"))
    post = bm25_postings(docs, id_col, text_col).withColumn(
        "_shard", F.pmod(F.xxhash64("term"), F.lit(meta["n_shards"])))
    write_batch(post, os.path.join(path, "postings"), batch_id, "_shard")
    n_docs, total_len = _corpus_stats(docs, text_col)
    _write_stats(path, batch_id, n_docs, total_len)


def stream_bm25_index(stream: DataFrame, path: str, id_col: str,
                      text_col: str, checkpoint: str | None = None,
                      available_now: bool = True,
                      batch_id_base: int = 0):
    """Maintain the BM25 index from a document STREAM: each micro-batch's
    postings land in their own ``batch=<id>/`` subdirectory with overwrite
    (replay-idempotent, the stream_rollup_partials guard) plus the batch's
    stats sidecar. Queries through ``bm25_topk_indexed`` see exact
    df/N/avgdl at whatever point the stream has reached — the
    read-time-df design means no stats re-merge is ever needed.

    Bootstrap: call ``build_bm25_index`` once first (an EMPTY frame is
    fine — it just writes the params sidecar; the probe shapes an empty
    postings side until real batches land). If you bootstrap with REAL
    data instead, pass ``batch_id_base=1``: stream micro-batch ids start
    at 0 and would overwrite the bootstrap's ``batch=0`` directory (both
    writers are replay-idempotent overwriters by design — the
    stream_ivf_index clobber trap)."""
    return stream_batches(
        stream,
        lambda sp, b, bid: append_bm25_index(sp, path, b, id_col, text_col,
                                             batch_id=bid),
        checkpoint, available_now, batch_id_base)


def bm25_topk_indexed(spark, path: str, queries: DataFrame, qid_col: str,
                      qtext_col: str, k: int = 10, k1: float = 1.2,
                      b: float = 0.75, max_df: int | None = None,
                      quantize: int | None = None) -> DataFrame:
    """Query the persisted index: reads ONLY the shard directories the
    query terms hash into (a partition-column predicate — directory
    pruning), across every batch subdirectory, so results after appends
    equal a one-shot index over the union (law-tested)."""
    meta = read_sidecar(os.path.join(path, "_BM25_INDEX.json"))
    n_docs, total_len, live = _load_stats(path)
    avgdl = total_len / n_docs if n_docs else 1.0
    # qt is the small side (query tokenize) — recomputing it for the shard
    # collect + two broadcast builds is cheaper than a persist lifecycle
    qt = _query_terms(queries, qid_col, qtext_col).withColumn(
        "_shard", F.pmod(F.xxhash64("term"), F.lit(meta["n_shards"])))
    shards = sorted(r["_shard"] for r in qt.select("_shard").distinct().collect())
    post = read_batches(
        spark, os.path.join(path, "postings"),
        spark.createDataFrame(
            [], "term string, doc_id long, dl int, tf long, _shard int, "
                "batch int")) \
        .where(F.col("_shard").isin(shards)) \
        .where(F.col("batch").isin(live))
    # df from the pruned read itself: every batch of a probed shard is
    # present, so the count is the exact corpus-wide document frequency
    dfreq = (post.join(F.broadcast(qt.select("term").distinct()), "term")
             .groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    if max_df is not None:
        dfreq = dfreq.where(F.col("df") <= max_df)
    cand = (post.join(F.broadcast(qt.select("query_id", "term")), "term")
            .join(F.broadcast(dfreq), "term"))
    scored = (cand
              .withColumn("_s", _score_terms(cand, n_docs, avgdl, k1, b,
                                             quantize))
              .groupBy("query_id", "doc_id")
              .agg(F.sum("_s").alias("score")))
    return _topk(scored, k)


def compact_bm25_index(spark, path: str, upto_batch: int) -> dict:
    """Merge postings batch subdirectories with ``id <= upto_batch`` (and
    prior compactions) into one consolidated negative-id batch — the BM25
    flavor of sources/layout.compact_batch_dirs, with an exactly-consistent
    switchover:

      1. consolidated postings are written to ``postings/batch=<cid>``
         (``sources/layout.merge_batches``: a staging dot-dir, then a
         rename) — INVISIBLE to probes, which only read batches with a live
         stats sidecar;
      2. the ``batch_<cid>.json`` sidecar lands with one atomic rename,
         carrying the merged N/total_len and a ``covers`` list of the
         replaced batch ids — in that single step probes switch from the
         old batch set to the consolidated one (no window where postings
         are double-counted or missing: tf/df would corrupt under the
         duplication the banded indexes tolerate);
      3. replaced postings dirs + sidecars are deleted (already invisible;
         a crash here just leaves garbage for the next compaction).
    """
    import shutil

    root = os.path.join(path, "postings")
    _, _, live = _load_stats(path)
    merge = [i for i in live if i < 0 or i <= upto_batch]
    if len(merge) <= 1:
        return {"merged_batches": [], "compacted_id": None,
                "skipped": "nothing to merge"}
    stats_dir = os.path.join(path, "stats")
    n_docs = total_len = 0
    covers = set()
    for i in merge:
        s = read_sidecar(os.path.join(stats_dir, f"batch_{i}.json"))
        n_docs += s["n_docs"]
        total_len += s["total_len"]
        covers.update(s.get("covers", []))
        covers.add(i)
    cid = merge_batches(spark, root, merge, "_shard")
    _write_stats(path, cid, n_docs, total_len, covers=sorted(covers))
    for i in merge:
        shutil.rmtree(os.path.join(root, f"batch={i}"), ignore_errors=True)
        try:
            os.remove(os.path.join(stats_dir, f"batch_{i}.json"))
        except FileNotFoundError:
            pass
    return {"merged_batches": merge, "compacted_id": cid}
