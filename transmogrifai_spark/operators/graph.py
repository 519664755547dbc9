"""Distributed graph operators over edge DataFrames — the link-analysis
layer for web-corpus curation (domain authority as a quality prior, à la
CommonCrawl's harmonic-centrality ranking) and for any (src, dst, weight)
relation the engine produces (near-dup graphs from llm/dedup, host link
graphs from llm/web.extract_links).

Reference surface: TransmogrifAI has no graph layer (its DAG is a *stage*
graph, core/src/main/scala/com/salesforce/op/OpWorkflow.scala); connected
components already live in llm/dedup.duplicate_clusters. This module adds
weighted PageRank and HITS, the canonical iterative-aggregation algorithms.

Design (100 TB):

* Edges are normalized once — (src, dst) weights summed, out-weight per
  src joined, contribution fraction precomputed and PERSISTED. Each
  iteration is then one join (ranks × edges, both hash-partitioned on the
  same key across iterations) + one groupBy — map-side combined, AQE
  sized. No adjacency lists are collected anywhere.
* Ranks are snapshotted every round (``util.snapshot``), so LINEAGE
  stays one-iteration deep: with the scalar aggregates riding
  in-plan, each iteration's plan references the previous ranks several
  times, and persist alone (which stores computed rows but still nests the
  logical plan) would grow the analyzed plan exponentially over 10+
  iterations — the same iterative-Spark failure llm/dedup's connected
  components hit (driver OOM in plan analysis, reproduced here by the
  HITS mirror test when r9 first moved the norms in-plan).
* Dangling mass (nodes with no out-edges) is folded back uniformly, the
  standard correction that keeps sum(rank) == 1. r9: the dangling scalar
  (and HITS' norms) ride INSIDE the iteration plan as a broadcast 1-row
  aggregate join instead of a per-iteration driver collect — one driver
  action per iteration (the lineage-truncating count) instead of 2-3
  serialized round-trips; at cluster scale the scalar join is a
  broadcast of one row, at gate scale it halves the iteration latency.
* ``portable=True`` makes every floating-point sum order-independent —
  per-contribution values rounded to 9 dp and accumulated as
  DECIMAL(29,9) (exact integer arithmetic), the same trick the BM25
  scorer uses — so the whole iteration is bit-reproducible across
  partitionings AND replicable op-for-op in ANSI SQL / DuckDB (the
  oracle-gated mode). Default mode sums raw doubles (faster, tiny
  order-dependent jitter).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import cache_scope, cached, snapshot

__all__ = ["pagerank", "hits", "connected_components"]


def pagerank(edges: DataFrame, src_col: str = "src", dst_col: str = "dst",
             weight_col: str | None = None, iterations: int = 10,
             damping: float = 0.85, portable: bool = False) -> DataFrame:
    """Weighted PageRank with uniform dangling-mass redistribution:
    ``(node, rank)`` with ``sum(rank) == 1`` after ``iterations`` rounds
    from a uniform start. Follows rank_{i+1}(v) = (1-d)/N +
    d * (sum_{u->v} rank_i(u) * w(u,v)/outw(u) + dangling_i / N).

    The returned frame is a ``util.snapshot`` (r9 — one small row per
    node, lineage already truncated, so re-use never recomputes the
    iteration chain); the tables it keeps cached are released before
    it returns."""
    w = (F.col(weight_col) if weight_col else F.lit(1.0)).cast("double")
    with cache_scope():
        # cache the aggregated edge table FIRST: nodes/outw/frac/dangling
        # all derive from it — without the cache each one re-runs the
        # (possibly expensive) upstream plan that produced the edges
        e = cached(edges.select(F.col(src_col).alias("src"),
                                F.col(dst_col).alias("dst"), w.alias("w"))
                   .groupBy("src", "dst").agg(F.sum("w").alias("w")))
        nodes = cached(e.select(F.col("src").alias("node"))
                       .unionByName(e.select(F.col("dst").alias("node")))
                       .distinct())
        n = nodes.count()
        outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
        frac = cached(e.join(outw, "src")
                      .select("src", "dst",
                              (F.col("w") / F.col("outw")).alias("frac")))
        dangling = cached(nodes.join(outw.select(F.col("src").alias("node")),
                                     "node", "left_anti"))

        base = (1.0 - damping) / n
        ranks = cached(nodes.select("node", F.lit(1.0 / n).alias("rank")))
        ranks.count()
        for _ in range(iterations):
            if portable:
                dang_col = F.sum(F.round(F.col("rank"), 9)
                                 .cast("decimal(29,9)")).cast("double")
            else:
                dang_col = F.sum("rank")
            # the dangling mass rides in-plan as a broadcast 1-row aggregate
            # (an agg with no groupBy always yields exactly one row, NULL sum
            # on an empty input) — no per-iteration driver collect
            dang_df = (dangling.join(ranks, "node")
                       .agg(F.coalesce(dang_col, F.lit(0.0)).alias("_dang")))
            contrib = (frac.join(ranks.withColumnRenamed("node", "src"), "src")
                       .select("dst", (F.col("rank") * F.col("frac"))
                               .alias("c")))
            if portable:
                summed = (contrib
                          .groupBy("dst")
                          .agg(F.sum(F.round(F.col("c"), 9)
                                     .cast("decimal(29,9)"))
                               .cast("double").alias("s")))
            else:
                summed = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
            ranks = snapshot(
                nodes.join(summed.withColumnRenamed("dst", "node"),
                           "node", "left")
                .crossJoin(F.broadcast(dang_df))
                .select("node",
                        (F.lit(base) + F.lit(damping)
                         * (F.coalesce(F.col("s"), F.lit(0.0))
                            + F.col("_dang") / F.lit(float(n))))
                        .alias("rank")))
    return ranks.select("node", "rank")


def hits(edges: DataFrame, src_col: str = "src", dst_col: str = "dst",
         iterations: int = 10, portable: bool = False) -> DataFrame:
    """Kleinberg's HITS (hubs & authorities, JACM'99) by power iteration:
    ``(node, hub, authority)``, each vector L2-normalized per iteration.

    Same execution shape as pagerank: the edge list is persisted once,
    each iteration is two join+aggregate passes (auth from in-edges'
    hubs, hub from out-edges' auths); the L2 norms ride in-plan as
    broadcast 1-row aggregates (r9 — previously two serialized driver
    collects per iteration), so the only per-iteration driver action is
    the lineage-truncating count. ``portable`` applies the same
    round-9dp DECIMAL(29,9) order-independent summation; the norm's
    sqrt is IEEE-correctly-rounded, so portable runs are bit-reproducible
    (law-tested against a pure-Python mirror). The returned frame is a
    snapshot (see pagerank); each round's cached authority table is
    released when the round ends."""
    def _sum(c):
        if portable:
            return F.sum(F.round(c, 9).cast("decimal(29,9)")).cast("double")
        return F.sum(c)

    def _norm_df(df, col, out):
        # ||v||, 1-row frame: sqrt of the (portable: exact-decimal) sum
        # of squares; empty/zero vectors norm to 1.0 so the division is
        # a no-op — the python-mirror rule (s or 1.0)
        s = F.coalesce(_sum(F.col(col) * F.col(col)), F.lit(0.0))
        return df.agg(
            F.when(s == 0.0, F.lit(1.0)).otherwise(F.sqrt(s)).alias(out))

    with cache_scope():
        e = cached(edges.select(F.col(src_col).alias("src"),
                                F.col(dst_col).alias("dst")).distinct())
        nodes = cached(e.select(F.col("src").alias("node"))
                       .unionByName(e.select(F.col("dst").alias("node")))
                       .distinct())
        ranks = cached(nodes.select("node", F.lit(1.0).alias("hub"),
                                    F.lit(1.0).alias("authority")))
        ranks.count()
        for _ in range(iterations):
            with cache_scope():
                auth = (e.join(ranks.select(F.col("node").alias("src"), "hub"),
                               "src")
                        .groupBy("dst").agg(_sum(F.col("hub")).alias("a")))
                auth_full = cached(
                    nodes.join(auth.withColumnRenamed("dst", "node"),
                               "node", "left")
                    .select("node", F.coalesce("a", F.lit(0.0)).alias("a")))
                na_df = _norm_df(auth_full, "a", "_na")
                auth_n = (auth_full.crossJoin(F.broadcast(na_df))
                          .select("node", (F.col("a") / F.col("_na"))
                                  .alias("authority")))
                hub = (e.join(auth_n.select(F.col("node").alias("dst"),
                                            "authority"), "dst")
                       .groupBy("src")
                       .agg(_sum(F.col("authority")).alias("h")))
                hub_full = (nodes.join(hub.withColumnRenamed("src", "node"),
                                       "node", "left")
                            .select("node",
                                    F.coalesce("h", F.lit(0.0)).alias("h"))
                            .join(auth_full, "node")
                            .crossJoin(F.broadcast(na_df))
                            .select("node", "h", (F.col("a") / F.col("_na"))
                                    .alias("authority")))
                nh_df = _norm_df(hub_full, "h", "_nh")
                ranks = snapshot(
                    hub_full.crossJoin(F.broadcast(nh_df))
                    .select("node", (F.col("h") / F.col("_nh")).alias("hub"),
                            "authority"))
    return ranks.select("node", "hub", "authority")


def connected_components(edges: DataFrame, src_col: str = "src",
                         dst_col: str = "dst",
                         max_iter: int = 20) -> DataFrame:
    """Weakly connected components over an arbitrary edge list:
    ``(node, component)`` where component = the minimum reachable node id
    (orderable type — longs, strings/hosts). Delegates to
    llm/dedup.duplicate_clusters (iterative min-label propagation with
    pointer jumping, a few joins + one aggregation per round, rounds =
    O(log component diameter)) — the same machinery that clusters
    near-duplicate pairs, exposed here for host/domain graphs (mirror
    clusters, site families)."""
    from ..llm.dedup import duplicate_clusters
    out = duplicate_clusters(
        edges.select(F.col(src_col).alias("id1"),
                     F.col(dst_col).alias("id2")), max_iter=max_iter)
    return out.select(F.col("doc").alias("node"),
                      F.col("cluster_id").alias("component"))
