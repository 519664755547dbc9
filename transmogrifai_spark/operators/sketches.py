"""Mergeable sketches — the approximate-aggregation layer a 100 TB engine
needs: distinct counts, point frequencies, and set-overlap estimates whose
PARTIALS are small, persistable, and exactly re-aggregable, so daily/hourly
sketch tables replace full rescans (the same partial-reuse contract as
operators/rollup.py, which consumes the HLL carrier here).

Reference surface: TransmogrifAI's fit-time statistics are exact
(SummaryStatistics / Algebird-style monoids in
core/.../stages/impl/preparators/SanityChecker.scala and
utils/.../RichStructType aggregations); it has no sketch layer because its
scale target is single-table ML fitting. At 100 TB the monoid contract is
the part that transfers: every sketch here is a commutative monoid
(register-max for HLL, counter-sum for CMS, k-smallest-union for KMV), so
partition layout, merge order, and incremental update cannot change results.

Three families, three construction strategies — each the scale-correct one:

* **HLL** (Apache DataSketches via Spark's built-in ``hll_sketch_agg`` /
  ``hll_union_agg``): distinct counts. Bounded per-group state (2^lg_k
  registers), register-wise max merge => union of partial sketches is
  BIT-IDENTICAL to a single-pass sketch (law-tested). The rollup
  integration gives approximate distinct at every resolution for free.
* **CountMin** (Spark's ``count_min_sketch`` aggregate, decoded for point
  queries JVM-free in Python via the vendored murmur3): frequency
  estimates with one-sided error (est >= truth, est <= truth + eps*N).
  Partials merge by counter addition — byte-identical to a single-pass
  sketch when seeds match (law-tested).
* **Theta** (DataSketches via ``theta_sketch_agg`` /
  ``theta_union_agg`` / ``theta_intersection_agg``): distinct counts with
  REAL set algebra — union, intersection, AND difference between sketches
  (audiences, retained users, A∖B cohorts) without inclusion-exclusion
  error blowup. The production overlap path.
* **KLL** (DataSketches via ``kll_sketch_agg_{double,bigint,float}``):
  mergeable QUANTILE sketches — persisted per-group/per-day percentile
  partials with guaranteed rank error, re-aggregable to any coarser group
  (``percentile_approx`` computes but cannot persist partials).
* **Frequent items** (Misra-Gries-style mergeable summaries, Agarwal et
  al. PODS'12): per-group top-k item counts with a tracked uniform error
  bound (stored <= true <= stored + err). Partials are (map<item,count>,
  err, n) rows — plain columns, persistable, re-aggregable to coarser
  groups with the published merge bound; groups with <= k distinct items
  are EXACT (err = 0 — the oracle-gated regime). The heavy-hitters query
  CMS cannot answer without a second candidate pass.
* **KMV** (k minimum values, pure Catalyst expressions over xxhash64):
  the portable, inspectable overlap sketch — k-smallest-hash arrays
  (plain ``array<double>``, no opaque binary) estimating Jaccard and
  intersection cardinality (Beyer et al., SIGMOD'07). Use theta when the
  DataSketches binary format is acceptable; KMV when sketches must cross
  engines or be debuggable as columns. Payload <= k doubles.

Construction note (KMV): building a group's sketch takes the same
shuffle-the-distinct-hashes pass an exact distinct would — the SKETCH is
what's bounded (k doubles), making downstream merges/overlap queries cheap
and repeatable without touching raw data again.
"""
from __future__ import annotations

import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..serving import murmur3

# ---------------------------------------------------------------------------
# HLL — distinct-count sketches (mergeable partials, built-in DataSketches)
# ---------------------------------------------------------------------------


def hll_partial(df: DataFrame, group_cols: list[str], value_col: str,
                lg_k: int = 12, sketch_col: str = "hll") -> DataFrame:
    """Per-group HLL sketch over ``value_col`` — the persistable partial.
    2^lg_k registers (lg_k=12 -> ~1.6% rel. std. error, 4 KB/sketch)."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias(sketch_col))


def hll_merge(df: DataFrame, group_cols: list[str],
              sketch_col: str = "hll") -> DataFrame:
    """Re-aggregate persisted partials to coarser groups (register-max —
    associative/commutative, so any merge tree gives the same sketch)."""
    return df.groupBy(*group_cols).agg(
        F.hll_union_agg(sketch_col).alias(sketch_col))


def hll_estimate(sketch_col: str | Column) -> Column:
    """Distinct-count estimate from a sketch column (finalizer)."""
    return F.hll_sketch_estimate(sketch_col).cast("long")


# ---------------------------------------------------------------------------
# Theta — distinct-count sketches with set algebra (union/intersect/diff)
# ---------------------------------------------------------------------------


def theta_partial(df: DataFrame, group_cols: list[str], value_col: str,
                  lg_k: int = 12, sketch_col: str = "theta") -> DataFrame:
    """Per-group Theta sketch — like HLL a bounded distinct-count partial,
    but supporting true set algebra downstream (intersection/difference)."""
    return df.groupBy(*group_cols).agg(
        F.theta_sketch_agg(value_col, F.lit(lg_k)).alias(sketch_col))


def theta_merge(df: DataFrame, group_cols: list[str],
                sketch_col: str = "theta", lg_k: int = 12) -> DataFrame:
    """Union-reaggregate persisted partials to coarser groups."""
    return df.groupBy(*group_cols).agg(
        F.theta_union_agg(sketch_col, F.lit(lg_k)).alias(sketch_col))


def theta_estimate(sketch_col: str | Column) -> Column:
    return F.theta_sketch_estimate(sketch_col).cast("long")


def theta_overlap(a: str | Column, b: str | Column) -> Column:
    """Struct(union_est, intersection_est, a_not_b_est) — audience-overlap
    arithmetic between two sketch columns, the query HLL cannot answer
    (difference/intersection of cohorts, retained users, A∖B)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    est = F.theta_sketch_estimate
    return F.struct(
        est(F.theta_union(a, b)).cast("long").alias("union_est"),
        est(F.theta_intersection(a, b)).cast("long").alias("intersection_est"),
        est(F.theta_difference(a, b)).cast("long").alias("a_not_b_est"))


# ---------------------------------------------------------------------------
# KLL — mergeable quantile sketches (persisted percentile partials)
# ---------------------------------------------------------------------------

_KLL_SUFFIX = {"double": "double", "bigint": "bigint", "long": "bigint",
               "float": "float"}


def _kll_fns(value_type: str):
    try:
        sfx = _KLL_SUFFIX[value_type]
    except KeyError:
        raise ValueError(
            f"KLL supports double|bigint|float values, got {value_type!r}")
    return (getattr(F, f"kll_sketch_agg_{sfx}"),
            getattr(F, f"kll_merge_agg_{sfx}"),
            getattr(F, f"kll_sketch_get_quantile_{sfx}"),
            getattr(F, f"kll_sketch_get_rank_{sfx}"),
            getattr(F, f"kll_sketch_get_n_{sfx}"))


def kll_partial(df: DataFrame, group_cols: list[str], value_col: str,
                value_type: str = "double", k: int = 200,
                sketch_col: str = "kll") -> DataFrame:
    """Per-group KLL quantile sketch (rank error ~1.65% at k=200, a few KB)
    — the persistable form of ``percentile_approx``: daily partials merge
    into weekly/monthly percentiles without re-reading raw data."""
    agg, _, _, _, _ = _kll_fns(value_type)
    v = F.col(value_col).cast(
        "long" if value_type in ("bigint", "long") else value_type)
    return df.groupBy(*group_cols).agg(agg(v, F.lit(k)).alias(sketch_col))


def kll_merge(df: DataFrame, group_cols: list[str],
              value_type: str = "double", k: int = 200,
              sketch_col: str = "kll") -> DataFrame:
    _, merge, _, _, _ = _kll_fns(value_type)
    return df.groupBy(*group_cols).agg(
        merge(sketch_col, F.lit(k)).alias(sketch_col))


def kll_quantile(sketch_col: str | Column, q: float,
                 value_type: str = "double") -> Column:
    """Value at rank ``q`` in [0,1] from a sketch column (finalizer)."""
    _, _, quant, _, _ = _kll_fns(value_type)
    return quant(sketch_col, F.lit(float(q)))


def kll_rank(sketch_col: str | Column, value,
             value_type: str = "double") -> Column:
    """Normalized rank of ``value`` (fraction of mass <= value)."""
    _, _, _, rank, _ = _kll_fns(value_type)
    return rank(sketch_col, F.lit(value))


def kll_n(sketch_col: str | Column, value_type: str = "double") -> Column:
    """Number of items the sketch absorbed (exact, carried in the header)."""
    _, _, _, _, n = _kll_fns(value_type)
    return n(sketch_col).cast("long")


# ---------------------------------------------------------------------------
# CountMin — point-frequency sketch with JVM-free decode
# ---------------------------------------------------------------------------

_PRIME = (1 << 31) - 1  # CMS long-hash modulus (2^31 - 1)


def cms_agg(col: str | Column, eps: float = 0.001, confidence: float = 0.99,
            seed: int = 42) -> Column:
    """The Spark ``count_min_sketch`` aggregate as a reusable expression.
    depth = ceil(ln(1/(1-confidence))), width = ceil(2/eps); estimates are
    one-sided: truth <= est <= truth + eps * totalCount (w.p. confidence)."""
    return F.count_min_sketch(
        col, F.lit(float(eps)), F.lit(float(confidence)), F.lit(int(seed)))


def cms_partial(df: DataFrame, group_cols: list[str], value_col: str,
                eps: float = 0.001, confidence: float = 0.99,
                seed: int = 42, sketch_col: str = "cms") -> DataFrame:
    """Per-group CountMin partials. Merge across groups by decoding and
    ``CountMinSketch.merge`` (counter addition), or re-aggregate raw data —
    Spark exposes no cms-union aggregate, so partial reuse happens
    serving-side (the sketches are small: depth*width longs)."""
    return df.groupBy(*group_cols).agg(
        cms_agg(value_col, eps, confidence, seed).alias(sketch_col))


class CountMinSketch:
    """Decoded Spark CountMinSketch: point queries + merge without a JVM.

    Wire format (reverse-engineered from the serialized bytes and verified
    by tests against JVM-built sketches): big-endian ``int version(=1),
    long totalCount, int depth, int width, long hashA[depth],
    long table[depth][width]``.

    Point-query hashing matches the JVM exactly:
    * integers: ``h = hashA[i]*item`` in wrapping int64, ``h += h >> 32``
      (arithmetic shift), ``h &= 2^31-1``, bucket ``= h % width``;
    * strings/bytes: murmur3_x86_32 double hashing —
      ``h1 = m3(b, 0)``, ``h2 = m3(b, h1)``, bucket_i
      ``= |int32(h1 + i*h2)| % width``.
    """

    def __init__(self, depth: int, width: int, total: int,
                 hash_a: tuple[int, ...], table: list[int]):
        self.depth, self.width, self.total = depth, width, total
        self.hash_a, self.table = tuple(hash_a), list(table)

    @classmethod
    def from_bytes(cls, b: bytes) -> "CountMinSketch":
        ver, total, depth, width = struct.unpack_from(">iqii", b, 0)
        if ver != 1:
            raise ValueError(f"unsupported CountMinSketch version {ver}")
        hash_a = struct.unpack_from(f">{depth}q", b, 20)
        table = list(struct.unpack_from(f">{depth * width}q", b, 20 + 8 * depth))
        return cls(depth, width, total, hash_a, table)

    def to_bytes(self) -> bytes:
        return (struct.pack(">iqii", 1, self.total, self.depth, self.width)
                + struct.pack(f">{self.depth}q", *self.hash_a)
                + struct.pack(f">{self.depth * self.width}q", *self.table))

    def _buckets_long(self, item: int):
        m = 1 << 64
        for i in range(self.depth):
            h = (self.hash_a[i] * item) % m
            if h >= 1 << 63:                     # to signed int64
                h -= m
            h += h >> 32                         # python >> on signed int
            h &= _PRIME                          # == arithmetic shift in Java
            yield i, int(h) % self.width

    def _buckets_bytes(self, data: bytes):
        h1 = murmur3.hash_bytes(data, 0)
        h2 = murmur3.hash_bytes(data, h1 & 0xFFFFFFFF)
        for i in range(self.depth):
            x = h1 + i * h2
            x &= 0xFFFFFFFF
            if x >= 1 << 31:
                x -= 1 << 32
            yield i, abs(x) % self.width

    def _buckets(self, item):
        if isinstance(item, bool):
            raise TypeError("bool is not a sketchable item")
        if isinstance(item, int):
            return self._buckets_long(item)
        if isinstance(item, str):
            return self._buckets_bytes(item.encode("utf-8"))
        if isinstance(item, (bytes, bytearray)):
            return self._buckets_bytes(bytes(item))
        raise TypeError(f"unsupported item type {type(item).__name__}")

    def estimate(self, item) -> int:
        """Upper-bound frequency estimate (never below the true count)."""
        return min(self.table[i * self.width + j]
                   for i, j in self._buckets(item))

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        """Counter-wise sum — valid only for identical (depth,width,seed);
        identical seeds <=> identical hashA rows, which is what's checked."""
        if (self.depth, self.width, self.hash_a) != (
                other.depth, other.width, other.hash_a):
            raise ValueError("incompatible sketches (depth/width/seed differ)")
        return CountMinSketch(
            self.depth, self.width, self.total + other.total, self.hash_a,
            [a + b for a, b in zip(self.table, other.table)])


def cms_collect(df: DataFrame, value_col: str, eps: float = 0.001,
                confidence: float = 0.99, seed: int = 42) -> CountMinSketch:
    """Build and decode a frequency sketch for ``value_col`` in one pass."""
    b = df.agg(cms_agg(value_col, eps, confidence, seed).alias("s")) \
          .collect()[0]["s"]
    return CountMinSketch.from_bytes(bytes(b))


# ---------------------------------------------------------------------------
# KMV — k-minimum-values distinct sketch with union AND intersection
# ---------------------------------------------------------------------------


def _unit_hash(col: Column, seed: int) -> Column:
    """xxhash64 mapped to a uniform double in [0, 1): unsigned(h) / 2^64.
    The double mantissa keeps 52 bits of the hash — collisions at the kept-k
    scale are ~k^2/2^52, irrelevant for estimation (and deterministic)."""
    h = F.xxhash64(col, F.lit(seed))
    return (h.cast("double") / F.lit(float(1 << 64)) + F.lit(0.5)).alias("u")


def _unit_hash_portable(col: Column) -> Column:
    """md5-derived unit hash (llm.dedup.portable_hash64 / 2^60): the same
    value is one expression in ANSI SQL / DuckDB, which is what lets a KMV
    estimate be oracle-gated value-for-value (int64->double and the
    division are IEEE-identical across engines)."""
    from ..llm.dedup import portable_hash64
    return (portable_hash64(col).cast("double")
            / F.lit(float(1 << 60))).alias("u")


def kmv_partial(df: DataFrame, group_cols: list[str], value_col: str,
                k: int = 1024, seed: int = 77, portable: bool = False,
                sketch_col: str = "kmv") -> DataFrame:
    """Per-group KMV sketch: the k smallest unit-hashes of the DISTINCT
    values, ascending ``array<double>`` (length < k means the group's
    distinct count was under k — the estimate is then exact).

    Construction is distinct + per-group window top-k: one shuffle over the
    distinct (group, hash) pairs, sort spills handled by Spark — no
    unbounded ``collect_set`` state. The resulting sketch is <= k doubles."""
    u = (_unit_hash_portable(F.col(value_col)) if portable
         else _unit_hash(F.col(value_col), seed))
    dedup = df.select(*group_cols, u).distinct()
    w = Window.partitionBy(*group_cols).orderBy("u")
    return (dedup.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .groupBy(*group_cols)
            .agg(F.array_sort(F.collect_list("u")).alias(sketch_col)))


def kmv_merge_expr(sketch_col: str | Column, k: int) -> Column:
    """Aggregate expression merging grouped KMV partials: union the arrays,
    dedup, keep the k smallest. State is (#partials * k) doubles — bounded
    by the merge fan-in, not the data."""
    col = F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col
    return F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list(col)))), 1, k)


def kmv_merge(df: DataFrame, group_cols: list[str], k: int = 1024,
              sketch_col: str = "kmv") -> DataFrame:
    return df.groupBy(*group_cols).agg(
        kmv_merge_expr(sketch_col, k).alias(sketch_col))


def kmv_estimate(sketch_col: str | Column, k: int = 1024) -> Column:
    """Distinct estimate: exact size when the sketch is under-full, else
    (k-1) / u_(k) (the classic KMV unbiased-ish estimator)."""
    col = F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col
    n = F.size(col)
    kth = F.try_element_at(col, F.lit(k))  # guarded by when(n < k) anyway
    return F.when(n < k, n.cast("double")) \
            .otherwise(F.lit(float(k - 1)) / kth)


def freq_partial(df: DataFrame, group_cols: list[str], item_col: str,
                 k: int = 256) -> DataFrame:
    """Per-group mergeable frequent-items summary (Misra-Gries style, the
    mergeable-summaries form of Agarwal et al., PODS'12): columns
    ``items`` (map<item,count> with at most k entries — the top-k exact
    counts), ``err`` (uniform over-count bound: for EVERY item, stored
    count <= true count <= stored count + err, where an absent item's
    stored count is 0), and ``n`` (total rows in the group).

    Construction mirrors kmv_partial's contract: building a group's
    summary takes the same count-shuffle an exact top-k would — the
    SUMMARY is what's bounded (k entries + two longs), which is what makes
    per-day/per-shard partials persistable and re-aggregable without
    touching raw data again (``freq_merge``). For a freshly-built partial
    ``err`` is the (k+1)-th largest count (the largest count any dropped
    item can have); groups with <= k distinct items get err = 0 and EXACT
    counts — the regime the oracle gate pins.

    Ties at the cut rank break deterministically (count desc, item asc)."""
    it = F.col(item_col).cast("string")
    counts = (df.groupBy(*group_cols, it.alias("_item"))
              .agg(F.count(F.lit(1)).alias("_c")))
    w = Window.partitionBy(*group_cols).orderBy(F.col("_c").desc(), "_item")
    ranked = counts.withColumn("_rn", F.row_number().over(w))
    return (ranked.groupBy(*group_cols).agg(
        F.map_from_entries(F.sort_array(F.collect_list(
            F.when(F.col("_rn") <= k, F.struct("_item", "_c"))))).alias("items"),
        F.coalesce(F.max(F.when(F.col("_rn") == k + 1, F.col("_c"))),
                   F.lit(0)).cast("long").alias("err"),
        F.sum("_c").cast("long").alias("n")))


def freq_merge(df: DataFrame, group_cols: list[str], k: int = 256) -> DataFrame:
    """Merge frequent-items partials to coarser groups — the
    mergeable-summaries MERGE: sum stored counts by item across partials,
    keep the top-k, and grow the error bound by (sum of input errs) +
    (the (k+1)-th largest combined count, when the cut drops anything).

    Soundness of the bound (the law tests/test_sketches.py asserts): a
    stored count never exceeds the true count (sums of underestimates),
    and true <= stored + Σerr_i holds because each partial under-counts by
    at most its own err; items cut here had stored count <= the cut value
    d, so true <= d + Σerr_i — one uniform ``err' = Σerr_i + d`` covers
    kept, dropped, and never-seen items alike.

    Groups whose partials are all empty-map survive with items = {} (the
    merge never loses the (err, n) accounting to an explode). The two
    per-group aggregates combine by UNION + re-aggregate rather than a
    join: a join keyed on a constant group column (the merge-to-global
    case) constant-folds into a BroadcastNestedLoopJoin, which the plan
    linter rightly rejects — the union form hash-aggregates in every
    case. ``first(ignorenulls)`` is deterministic here: each group has at
    most one non-null row per carrier side."""
    base = df.groupBy(*group_cols).agg(
        F.sum("err").cast("long").alias("_err0"),
        F.sum("n").cast("long").alias("_n"))
    ex = df.select(*group_cols, F.explode("items").alias("_item", "_pc"))
    sums = (ex.groupBy(*group_cols, "_item")
            .agg(F.sum("_pc").alias("_c")))
    w = Window.partitionBy(*group_cols).orderBy(F.col("_c").desc(), "_item")
    ranked = sums.withColumn("_rn", F.row_number().over(w))
    tops = (ranked.groupBy(*group_cols).agg(
        F.map_from_entries(F.sort_array(F.collect_list(
            F.when(F.col("_rn") <= k, F.struct("_item", "_c"))))).alias("_items"),
        F.coalesce(F.max(F.when(F.col("_rn") == k + 1, F.col("_c"))),
                   F.lit(0)).cast("long").alias("_d")))
    a = base.select(*group_cols, "_err0", "_n",
                    F.lit(None).cast("map<string,bigint>").alias("_items"),
                    F.lit(None).cast("long").alias("_d"))
    b = tops.select(*group_cols,
                    F.lit(None).cast("long").alias("_err0"),
                    F.lit(None).cast("long").alias("_n"), "_items", "_d")
    return (a.unionByName(b).groupBy(*group_cols).agg(
        F.first("_items", ignorenulls=True).alias("_mi"),
        F.max("_err0").alias("_e"), F.max("_d").alias("_dd"),
        F.max("_n").alias("_nn"))
        .select(*group_cols,
                F.coalesce(F.col("_mi"),
                           F.map_from_arrays(
                               F.array().cast("array<string>"),
                               F.array().cast("array<bigint>")))
                .alias("items"),
                (F.col("_e") + F.coalesce(F.col("_dd"), F.lit(0)))
                .cast("long").alias("err"),
                F.col("_nn").alias("n")))


def freq_estimate(items: str | Column, err: str | Column,
                  item: str | Column) -> Column:
    """Struct(lb, ub) frequency bounds for one item: lb = stored count
    (0 when absent), ub = lb + err. Guarantee: lb <= true <= ub."""
    items = F.col(items) if isinstance(items, str) else items
    err = F.col(err) if isinstance(err, str) else err
    lb = F.coalesce(F.try_element_at(items, item), F.lit(0).cast("long"))
    return F.struct(lb.alias("lb"), (lb + err).alias("ub"))


def freq_heavy_hitters(df: DataFrame, group_cols: list[str],
                       phi: float) -> DataFrame:
    """Candidate phi-heavy-hitters from a (items, err, n) summary frame:
    one row per stored item whose UPPER bound reaches phi*n.

    Completeness PRECONDITION: ``err < phi * n`` for the group. Under it,
    any item with true frequency >= phi*n has count > err, hence is stored
    and its ub passes the cut — no true phi-heavy item is missed. When
    ``err >= phi*n`` (phi <= 1/(k+1), or merges that inflated
    err = sum(err_i) + d), an ABSENT item can itself be phi-heavy and
    cannot be reported; the per-row ``complete`` flag (err < phi*n) tells
    the caller which regime each group is in. False positives are bounded
    by ub - lb = err either way."""
    ex = df.select(*group_cols, "err", "n",
                   F.explode("items").alias("item", "lb"))
    return (ex.withColumn("ub", F.col("lb") + F.col("err"))
            .where(F.col("ub") >= F.lit(phi) * F.col("n"))
            .select(*group_cols, "item", "lb", "ub", "err", "n",
                    (F.col("err") < F.lit(phi) * F.col("n"))
                    .alias("complete")))


def kmv_overlap(a: str | Column, b: str | Column, k: int = 1024) -> Column:
    """Struct(jaccard, union_est, intersection_est) from two KMV sketches —
    the set-overlap query HLL cannot answer. Combined sketch = k smallest of
    the union; jaccard = |values in both, within combined| / |combined|;
    intersection = jaccard * union_estimate (Beyer et al., SIGMOD'07)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    comb = F.slice(F.array_sort(F.array_distinct(F.concat(a, b))), 1, k)
    both = F.array_intersect(F.array_intersect(a, b), comb)
    jac = F.size(both) / F.size(comb)
    union_est = F.when(F.size(comb) < k, F.size(comb).cast("double")) \
                 .otherwise(F.lit(float(k - 1)) / F.try_element_at(comb, F.lit(k)))
    return F.struct(jac.alias("jaccard"),
                    union_est.alias("union_est"),
                    (jac * union_est).alias("intersection_est"))


# ---------------------------------------------------------------------------
# Bloom — mergeable membership bitmap (distributed build, broadcast probe)
# ---------------------------------------------------------------------------


def bloom_positions(col: Column, m: int, k: int = 3,
                    portable: bool = False) -> Column:
    """The (distinct) ``k`` bit positions of a value in an ``m``-bit Bloom
    filter, as ``array<long>``. Position ``i`` = ``hash(value, seed 1000+i)
    mod m`` — ``xxhash64`` by default, the md5-derived
    ``llm.dedup.portable_hash64`` when ``portable`` (one expression in
    DuckDB/ANSI SQL, which is what lets a whole Bloom build+probe be
    oracle-gated bit-for-bit)."""
    from ..llm.dedup import portable_hash64
    if portable:
        pos = [portable_hash64(col, seed=1000 + i) % F.lit(m)
               for i in range(k)]
    else:
        pos = [F.pmod(F.xxhash64(col, F.lit(1000 + i)), F.lit(m))
               for i in range(k)]
    return F.array_distinct(F.array(*pos))


def bloom_partial(df: DataFrame, group_cols: list[str], value_col: str,
                  m: int, k: int = 3, portable: bool = False) -> DataFrame:
    """Per-group Bloom bitmap as a SPARSE WORD TABLE: rows
    ``(group…, word_idx long, bits long)`` where word ``w`` holds bit
    positions ``[32w, 32w+32)`` in its low 32 bits (32-bit words in BIGINT:
    ``1 << (pos % 32)`` never touches the sign bit, so the same rows
    roundtrip through parquet, DuckDB, and Python without unsigned
    gymnastics).

    This is the monoid form of a Bloom filter: merge = ``bit_or`` per word
    (``bloom_merge``), so per-day/per-shard partials re-aggregate exactly
    like the other sketches here. At most ``min(k·n_distinct, m/32)`` rows
    per group — never collected; the build is one explode + one hash
    aggregation (map-side combined)."""
    pos = (df.select(*group_cols,
                     F.explode(bloom_positions(F.col(value_col), m, k,
                                               portable)).alias("_pos"))
           .where(F.col("_pos").isNotNull())  # NULL values insert nothing
           .distinct())
    return (pos.select(*group_cols,
                       (F.col("_pos") / 32).cast("long").alias("word_idx"),
                       F.expr("shiftleft(CAST(1 AS BIGINT), "
                              "CAST(_pos % 32 AS INT))").alias("_mask"))
            .groupBy(*group_cols, "word_idx")
            .agg(F.bit_or("_mask").alias("bits")))


def bloom_merge(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge grouped Bloom word tables: ``bit_or`` per (group, word_idx).
    Commutative + idempotent, so merge order, duplicate partials, and
    partition layout cannot change the bitmap (law-tested: sliced partials
    merged == one-shot build, exact row equality)."""
    return (df.groupBy(*group_cols, "word_idx")
            .agg(F.bit_or("bits").alias("bits")))


def bloom_probe(probes: DataFrame, bloom: DataFrame, value_col: str,
                m: int, k: int = 3, portable: bool = False,
                id_cols: list[str] | None = None,
                result_col: str = "might_contain",
                broadcast_bloom: bool = True) -> DataFrame:
    """Membership test of ``probes[value_col]`` against a (single-group)
    Bloom word table: one row per distinct ``(id_cols…, value)`` with a
    boolean ``result_col``. No false negatives ever; false positives at the
    standard ``(1 - e^{-kn/m})^k`` rate (``bloom_fpp``), i.e. probe-true is
    a SUPERSET candidate set — the right failure direction for
    decontamination / blocklist prefilters.

    Plan shape for a 100 TB probe side: positions explode (k small rows per
    value, same partition) -> **broadcast** join on ``word_idx`` (the word
    table is <= m/32 rows ~ MBs even for billion-key filters) -> hash
    aggregation back to one row per value, with the k position rows
    combined map-side before any shuffle. The big side is never shuffled
    except as (id, value, counts) partial-agg rows."""
    keys = list(id_cols or []) + [value_col]
    # bind the position array once: referencing the expression in both
    # size() and explode() would hash the value twice per row
    bound = probes.select(
        *keys, bloom_positions(F.col(value_col), m, k, portable)
        .alias("_parr"))
    exploded = (bound.select(*keys, F.explode("_parr").alias("_pos"))
                .select(*keys,
                        (F.col("_pos") / 32).cast("long").alias("word_idx"),
                        F.expr("shiftleft(CAST(1 AS BIGINT), "
                               "CAST(_pos % 32 AS INT))").alias("_mask")))
    b = F.broadcast(bloom) if broadcast_bloom else bloom
    hit = F.coalesce(F.col("bits"), F.lit(0)) \
           .bitwiseAND(F.col("_mask")) == F.col("_mask")
    # membership = EVERY exploded position row hit. Compare hit-count to the
    # group's TOTAL row count, not to first(_npos): duplicate (id, value)
    # probe rows contribute d*k rows, and d*k == first(_npos)=k would report
    # a false NEGATIVE for a true member — the one direction Bloom must
    # never fail (found by advisory review; count(*) is duplicate-safe).
    return (exploded.join(b, "word_idx", "left")
            .groupBy(*keys)
            .agg((F.count(F.when(hit, 1)) == F.count(F.lit(1)))
                 .alias(result_col)))


def bloom_fpp(m: int, k: int, n: int) -> float:
    """Expected false-positive rate of an m-bit, k-hash Bloom filter holding
    n distinct values: ``(1 - e^{-kn/m})^k``."""
    import math
    return (1.0 - math.exp(-k * n / float(m))) ** k
