"""Hierarchical time-bucket rollups — multi-resolution continuous aggregates
(the "hypertable rollup" pattern) built the scale-correct way: aggregate raw
events ONCE at the finest resolution, then derive every coarser level by
RE-AGGREGATING THE PARTIALS, never re-reading the events.

At 100 TB the raw scan dominates; n resolutions as independent groupBys cost
n scans + n full-size shuffles. Here the finest rollup is the only pass over
events; each coarser level re-aggregates rows whose count is
|keys| x |finest buckets| — typically orders of magnitude smaller — so extra
resolutions are nearly free. Correct because every supported statistic is a
monoid with an explicit MERGE form (count -> sum, sum -> sum, min -> min,
max -> max; mean is carried as sum+count and finalized per level).

Related reference surface: the cutoff/time-window aggregations
(readers/DataReaders aggregate readers) and the streaming tumbling windows
(streaming/windows.py) share the same (key, window) partitioning; this module
adds the resolution hierarchy on top.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import cached


#: statistic -> (finest aggregation over the value col, merge aggregation
#: over the partial col). Mean is handled specially (sum + count carriers).
_MERGEABLE = {
    "count": (lambda v: F.count(F.lit(1)), F.sum),
    "sum": (lambda v: F.sum(v), F.sum),
    "sum_exact": (lambda v: F.sum(v.cast("decimal(30,6)")), F.sum),
    "min": (lambda v: F.min(v), F.min),
    "max": (lambda v: F.max(v), F.max),
}


def _build_carriers(stats: dict[str, tuple[str, str | None]]):
    """stats spec -> (carriers, finals): internal carrier columns with their
    (finest agg, merge agg) pair, and per-output finalizer expressions."""
    carriers: dict[str, tuple] = {}   # internal col -> (finest agg, merge)
    finals: dict[str, object] = {}    # output name -> final expr builder
    for name, (kind, col) in stats.items():
        v = F.col(col) if col else None
        if kind == "mean":
            carriers[f"__{name}_sum"] = (F.sum(v.cast("decimal(30,6)")),
                                         F.sum)
            carriers[f"__{name}_cnt"] = (F.count(v), F.sum)
            # exact decimal sum, ONE double division at finalize — identical
            # at every level by construction (no decimal-scale truncation)
            finals[name] = lambda n=name: (
                F.col(f"__{n}_sum").cast("double") / F.col(f"__{n}_cnt"))
        elif kind in _MERGEABLE:
            fine, merge = _MERGEABLE[kind]
            carriers[f"__{name}"] = (fine(v), merge)
            finals[name] = lambda n=name: F.col(f"__{n}")
        elif kind == "approx_distinct" or kind.startswith("approx_distinct:"):
            lg_k = int(kind.partition(":")[2] or 12)
            carriers[f"__{name}"] = (F.hll_sketch_agg(v, F.lit(lg_k)),
                                     F.hll_union_agg)
            finals[name] = lambda n=name: (
                F.hll_sketch_estimate(F.col(f"__{n}")).cast("long"))
        elif kind.startswith("approx_quantile:"):
            # approx_quantile:<q> — KLL double sketch carrier; same merge
            # exactness story as HLL (sketch-merge is the defined operation)
            q = float(kind.partition(":")[2])
            carriers[f"__{name}"] = (
                F.kll_sketch_agg_double(v.cast("double"), F.lit(200)),
                lambda c: F.kll_merge_agg_double(c, F.lit(200)))
            finals[name] = lambda n=name, q=q: (
                F.kll_sketch_get_quantile_double(F.col(f"__{n}"), F.lit(q)))
        else:
            raise ValueError(f"unsupported stat kind {kind!r}")
    return carriers, finals


def hierarchical_rollup(events: DataFrame, time_col: str,
                        resolutions_ms: list[int],
                        group_cols: list[str],
                        stats: dict[str, tuple[str, str | None]],
                        ) -> dict[int, DataFrame]:
    """Multi-resolution rollup: ``{resolution_ms: DataFrame}`` with columns
    (bucket_start_ms, *group_cols, *stats).

    ``time_col`` is epoch-ms (long); ``resolutions_ms`` must be sorted
    ascending with each coarser level an integer multiple of the FINEST
    (alignment is what makes partial reuse exact — enforced here).
    ``stats`` maps output name -> (kind, value_col) with kind in
    count|sum|sum_exact|min|max|mean|approx_distinct[:lg_k]|
    approx_quantile:<q>.

    ``approx_distinct`` carries an HLL sketch (register-max merge — the
    union of finer partials is bit-identical to sketching the coarse bucket
    directly), so approximate distinct counts come out at EVERY resolution
    for one events pass; lg_k defaults to 12 (~1.6% rel. std. error).

    Only the finest level touches ``events``; coarser levels fold the next-
    finer level's partials. Mean carries (sum, count) internally and emits
    the ratio at every level.
    """
    if not resolutions_ms or sorted(resolutions_ms) != list(resolutions_ms):
        raise ValueError("resolutions_ms must be ascending")
    finest = resolutions_ms[0]
    for r in resolutions_ms[1:]:
        if r % finest != 0:
            raise ValueError(
                f"resolution {r} is not a multiple of the finest {finest}; "
                "partials would straddle coarse buckets")

    carriers, finals = _build_carriers(stats)

    t = F.col(time_col).cast("long")
    fine_bucket = (t - (t % F.lit(finest))).alias("bucket_start_ms")
    partial = (events.groupBy(fine_bucket, *group_cols)
               .agg(*[a.alias(c) for c, (a, _) in carriers.items()]))
    partial = cached(partial)

    out: dict[int, DataFrame] = {}
    out[finest] = partial.select(
        "bucket_start_ms", *group_cols,
        *[finals[n]().alias(n) for n in stats])
    prev = partial
    for res in resolutions_ms[1:]:
        b = F.col("bucket_start_ms")
        coarse = (b - (b % F.lit(res))).alias("bucket_start_ms")
        prev = (prev.groupBy(coarse, *group_cols)
                .agg(*[m(F.col(c)).alias(c)
                       for c, (_, m) in carriers.items()]))
        out[res] = prev.select(
            "bucket_start_ms", *group_cols,
            *[finals[n]().alias(n) for n in stats])
    return out


def dimensional_rollup(df: DataFrame, hierarchy: list[str],
                       stats: dict[str, tuple[str, str | None]],
                       ) -> dict[int, DataFrame]:
    """Hierarchy rollup (country > region > city ...) by partial reuse:
    ``{depth: DataFrame}`` where depth d groups by ``hierarchy[:d]``
    (depth 0 = grand total).

    Spark's native ``df.rollup(...)`` expands EVERY input row once per
    grouping set before the shuffle — n levels cost an n× shuffle of the
    raw data. Here only the deepest level touches ``df``; every coarser
    level re-aggregates the next-deeper level's partials (bounded by the
    deepest group count), so the raw data is shuffled exactly once however
    deep the hierarchy. Results equal the native rollup level-for-level
    (law-tested) because every stat is carried as a mergeable monoid —
    the same contract as hierarchical_rollup, minus the time bucketing.

    ``stats`` kinds: count|sum|sum_exact|min|max|mean|
    approx_distinct[:lg_k]|approx_quantile:<q>.

    The deepest level is ``cached`` (every coarser level re-reads it):
    materialize the levels (write / collect) inside a ``util.cache_scope``
    to release it; without one a long-lived session accumulates one cached
    deepest level per call.
    """
    if not hierarchy:
        raise ValueError("hierarchy must name at least one column")
    carriers, finals = _build_carriers(stats)
    deepest = (df.groupBy(*hierarchy)
               .agg(*[a.alias(c) for c, (a, _) in carriers.items()]))
    deepest = cached(deepest)

    out: dict[int, DataFrame] = {}
    out[len(hierarchy)] = deepest.select(
        *hierarchy, *[finals[n]().alias(n) for n in stats])
    prev = deepest
    for depth in range(len(hierarchy) - 1, -1, -1):
        cols = hierarchy[:depth]
        prev = (prev.groupBy(*cols)
                .agg(*[m(F.col(c)).alias(c)
                       for c, (_, m) in carriers.items()]))
        out[depth] = prev.select(
            *cols, *[finals[n]().alias(n) for n in stats])
    return out


def rollup_partials(events: DataFrame, time_col: str, resolution_ms: int,
                    group_cols: list[str],
                    stats: dict[str, tuple[str, str | None]]) -> DataFrame:
    """The PERSISTABLE partial form of one rollup level: carrier columns
    (``__name`` internals — decimal sums, counts, HLL/KLL sketch bytes)
    instead of finalized statistics. This is the incremental-maintenance
    API: write today's partials next to yesterday's, then ``rollup_merge``
    any date range / coarser resolution / coarser grouping WITHOUT
    re-reading raw events — the continuous-aggregate pattern, with the
    merge-exactness guarantees of the carrier monoids (law-tested:
    merged partials across arbitrary splits == a direct single pass)."""
    carriers, _ = _build_carriers(stats)
    t = F.col(time_col).cast("long")
    bucket = (t - (t % F.lit(resolution_ms))).alias("bucket_start_ms")
    return (events.groupBy(bucket, *group_cols)
            .agg(*[a.alias(c) for c, (a, _) in carriers.items()]))


def rollup_merge(partials: DataFrame, resolution_ms: int,
                 group_cols: list[str],
                 stats: dict[str, tuple[str, str | None]]) -> DataFrame:
    """Re-aggregate persisted partials to a coarser resolution and/or
    coarser grouping (``group_cols`` may be any subset of the original).
    ``resolution_ms`` must be a multiple of the partials' resolution so
    buckets nest; pass the original resolution to merge only across files
    / days / groups."""
    carriers, _ = _build_carriers(stats)
    b = F.col("bucket_start_ms")
    coarse = (b - (b % F.lit(resolution_ms))).alias("bucket_start_ms")
    return (partials.groupBy(coarse, *group_cols)
            .agg(*[m(F.col(c)).alias(c) for c, (_, m) in carriers.items()]))


def rollup_finalize(partials: DataFrame, group_cols: list[str],
                    stats: dict[str, tuple[str, str | None]]) -> DataFrame:
    """Emit the user-facing statistics from carrier columns."""
    _, finals = _build_carriers(stats)
    return partials.select("bucket_start_ms", *group_cols,
                           *[finals[n]().alias(n) for n in stats])
