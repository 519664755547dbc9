"""Data-driven feature pruning estimators (SURVEY.md §2.5).

Re-expression of:
  * SanityChecker     core/.../impl/preparators/SanityChecker.scala:232
    (params :58-231 — maxCorrelation=0.95, minVariance=1e-5, maxCramersV)
  * MinVarianceFilter core/.../impl/preparators/MinVarianceFilter.scala:58,145
  * RawFeatureFilter  core/src/main/scala/com/salesforce/op/filters/RawFeatureFilter.scala:90,486
  * chi²/Cramér's V   utils/.../stats/OpStatistics.scala:108-141

Physical plans:
  * All statistics come from single-pass ``df.agg`` sweeps or
    ``Correlation.corr`` on the assembled vector — no per-row Python, no
    collect of data rows (only of the fitted statistics, whose size is
    O(#slots), independent of data size — safe at 100 TB).
  * Pruning is a slot-slice expression over the array vector (the reference
    slices VectorUDT via DropIndicesByTransformer / VectorSlicer).
"""
from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..feature import Feature
from ..stages.base import ColumnTransformer, Estimator
from ..util import cache_scope
from .vectorizers import FittedVectorizer, VectorSlot


def min_variance_filter(vec: Feature, min_variance: float = 1e-5,
                        output_name: str | None = None) -> Estimator:
    """MinVarianceFilter.scala:58 — drop near-constant vector slots.

    Variance per slot via one aggregation over posexploded slots: at scale
    this is a single shuffle of (slot, partial-moments) pairs — O(#slots)
    reduced rows."""
    out = output_name or f"{vec.name}_pruned"

    def fit(stage: Estimator, df: DataFrame) -> FittedVectorizer:
        pos = df.select(F.posexplode(F.col(vec.name)).alias("_i", "_x"))
        stats = pos.groupBy("_i").agg(F.var_pop("_x").alias("v")).orderBy("_i").collect()
        keep = [int(r["_i"]) for r in stats if r["v"] is not None and r["v"] > min_variance]
        return FittedVectorizer("minVariance", [vec], out,
                                [VectorSlot(vec.name, descriptor=f"slot_{i}") for i in keep],
                                {"keep": keep})

    return Estimator("minVariance", [vec], out, "OPVector", fit)


def sanity_checker(vec: Feature, label: Feature, max_correlation: float = 0.95,
                   min_variance: float = 1e-5, output_name: str | None = None) -> Estimator:
    """SanityChecker.scala:232 — remove junk & label-leakage slots.

    Implements the two core checks (variance + |corr(slot, label)| bounds)
    via Pearson correlation computed from one moments aggregation:
    corr = (E[xy] - E[x]E[y]) / (σx σy), all moments from a single
    posexplode + groupBy(slot) pass. Slots with σ² <= min_variance or
    |corr| >= max_correlation (leakage) are dropped."""
    out = output_name or f"{vec.name}_checked"

    def fit(stage: Estimator, df: DataFrame) -> FittedVectorizer:
        pos = df.select(F.col(label.name).cast("double").alias("_y"),
                        F.posexplode(F.col(vec.name)).alias("_i", "_x"))
        stats = (
            pos.groupBy("_i")
            .agg(F.avg("_x").alias("mx"), F.avg("_y").alias("my"),
                 F.avg(F.col("_x") * F.col("_y")).alias("mxy"),
                 F.var_pop("_x").alias("vx"), F.var_pop("_y").alias("vy"))
            .orderBy("_i").collect()
        )
        keep: list[int] = []
        slot_stats: list[dict] = []
        for r in stats:
            variance = float(r["vx"]) if r["vx"] is not None else None
            corr = 0.0
            if variance and variance > 0 and r["vy"] and r["vy"] > 0:
                corr = (r["mxy"] - r["mx"] * r["my"]) / ((variance ** 0.5) * (r["vy"] ** 0.5))
            dropped_reason = None
            if variance is None or variance <= min_variance:
                dropped_reason = "low_variance"
            elif abs(corr) >= max_correlation:
                dropped_reason = "label_leakage"  # SanityChecker maxCorrelation:94
            slot_stats.append({"slot": int(r["_i"]), "variance": variance,
                               "label_corr": float(corr), "dropped": dropped_reason})
            if dropped_reason is None:
                keep.append(int(r["_i"]))
        return FittedVectorizer("sanityChecker", [vec, label], out,
                                [VectorSlot(vec.name, descriptor=f"slot_{i}") for i in keep],
                                {"keep": keep, "slot_stats": slot_stats})

    return Estimator("sanityChecker", [vec, label], out, "OPVector", fit)


def spearman_corr(df: DataFrame, a: str, b: str) -> float:
    """Spearman rank correlation (SanityChecker's corrType=spearman,
    SanityChecker.scala:58-231): Pearson over average ranks, computed with
    integer arithmetic (2x-scaled average ranks are integers) so the result
    is exact and partitioning-invariant. Ranks come from one groupBy per
    column — the shuffle carries distinct values, not rows — and the running
    counts use range-partitioned parallel windows (util.counts_below), so
    continuous all-distinct columns never funnel through one task. The
    two ranked tables are released once the sums are read."""
    from ..util import counts_below

    def ranked(col):
        g = (df.select(F.col(col).alias("v")).where(F.col("v").isNotNull())
             .groupBy("v").agg(F.count(F.lit(1)).alias("n")))
        g = counts_below(g, "v", "n")
        return g.select("v", (2 * F.col("below") + F.col("n") + 1).alias("r2"))  # 2*avg_rank

    with cache_scope():
        ra = ranked(a).withColumnRenamed("v", a).withColumnRenamed("r2", "_ra")
        rb = ranked(b).withColumnRenamed("v", b).withColumnRenamed("r2", "_rb")
        j = df.select(a, b).where(F.col(a).isNotNull() & F.col(b).isNotNull()) \
            .join(ra, a).join(rb, b)
        row = j.agg(F.count(F.lit(1)).alias("n"),
                    F.sum("_ra").alias("sx"), F.sum("_rb").alias("sy"),
                    F.sum(F.col("_ra") * F.col("_rb")).alias("sxy"),
                    F.sum(F.col("_ra") * F.col("_ra")).alias("sxx"),
                    F.sum(F.col("_rb") * F.col("_rb")).alias("syy")).first()
    n = row["n"]
    if not n:
        return 0.0
    num = n * row["sxy"] - row["sx"] * row["sy"]
    den = ((n * row["sxx"] - row["sx"] ** 2) * (n * row["syy"] - row["sy"] ** 2)) ** 0.5
    return float(num / den) if den else 0.0


def contingency_counts(df: DataFrame, a: str, b: str) -> DataFrame:
    """Contingency table as (a, b, n) rows — one hash aggregation; the
    shuffle is bounded by |A|x|B| cells, not rows."""
    return df.groupBy(a, b).agg(F.count(F.lit(1)).alias("n"))


def cramers_v(df: DataFrame, cat_col: str, label_col: str) -> float:
    """Cramér's V between two categorical columns
    (utils/.../stats/OpStatistics.scala:108-141, used by SanityChecker's
    maxCramersV check). chi² from the contingency cells; all arithmetic on
    exact integer counts, one final sqrt."""
    cells = contingency_counts(
        df.where(F.col(cat_col).isNotNull() & F.col(label_col).isNotNull()),
        cat_col, label_col).collect()
    if not cells:
        return 0.0
    row_tot: dict = {}
    col_tot: dict = {}
    n = 0
    for c in cells:
        row_tot[c[cat_col]] = row_tot.get(c[cat_col], 0) + c["n"]
        col_tot[c[label_col]] = col_tot.get(c[label_col], 0) + c["n"]
        n += c["n"]
    # chi² = N (Σ n_ij² / (rt_i ct_j) − 1): the observed-cells-only form —
    # unobserved cells (n=0) are handled implicitly, unlike Σ(n−e)²/e
    s = sum(c["n"] ** 2 / (row_tot[c[cat_col]] * col_tot[c[label_col]]) for c in cells)
    chi2 = n * (s - 1)
    k = min(len(row_tot) - 1, len(col_tot) - 1)
    if k <= 0 or n == 0:
        return 0.0
    return (chi2 / (n * k)) ** 0.5


@dataclass
class RawFeatureFilterResult:
    fill_rates: dict[str, float]
    dropped: list[str]


def raw_feature_filter(df: DataFrame, feature_cols: list[str],
                       min_fill_rate: float = 0.001) -> RawFeatureFilterResult:
    """RawFeatureFilter.scala:90,486 — drop raw columns by fill rate.

    One ``df.agg`` sweep computes every column's fill rate simultaneously
    (the reference's two-pass distribution computation collapses into a
    single job; train/score-distribution divergence is a second call on the
    scoring frame)."""
    n = F.count(F.lit(1))
    aggs = [(F.count(F.col(c)) / n).alias(c) for c in feature_cols]
    row = df.agg(*aggs).first()
    fill = {c: float(row[c]) for c in feature_cols}
    dropped = [c for c, r in fill.items() if r < min_fill_rate]
    return RawFeatureFilterResult(fill_rates=fill, dropped=dropped)


def numeric_histograms(df: DataFrame, cols: list[str], bins: int = 20,
                       ranges: dict[str, tuple[float, float]] | None = None):
    """Per-column equal-width histograms in ONE aggregation pass (the
    reference computes FeatureDistribution summaries the same single-sweep
    way, filters/FeatureDistribution.scala). Returns ({col: counts}, ranges).
    """
    if not cols:
        return {}, (ranges or {})
    if ranges is None:
        rng_row = df.agg(*[F.min(F.col(c).cast("double")).alias(f"{c}__min") for c in cols],
                         *[F.max(F.col(c).cast("double")).alias(f"{c}__max") for c in cols]).first()
        ranges = {c: (rng_row[f"{c}__min"], rng_row[f"{c}__max"]) for c in cols}
    aggs = []
    for c in cols:
        lo, hi = ranges[c]
        if lo is None or hi is None or hi <= lo:
            lo, hi = 0.0, 1.0
        x = F.col(c).cast("double")
        # clamp BOTH ends: with caller-supplied ranges (drift_report passes
        # train ranges over a serving frame) out-of-range values must land in
        # the edge bins, not silently drop out of the histogram
        b = F.greatest(
            F.least(F.floor((x - F.lit(lo)) / F.lit((hi - lo) / bins)).cast("int"),
                    F.lit(bins - 1)),
            F.lit(0))
        for i in range(bins):
            aggs.append(F.sum(F.when(b == i, 1).otherwise(0)).alias(f"{c}__{i}"))
    row = df.agg(*aggs).first()
    hists = {c: [int(row[f"{c}__{i}"] or 0) for i in range(bins)] for c in cols}
    return hists, ranges


def _js_divergence(p: list[int], q: list[int]) -> float:
    import math
    sp, sq = sum(p) or 1, sum(q) or 1
    pn, qn = [x / sp for x in p], [x / sq for x in q]
    m = [(a + b) / 2 for a, b in zip(pn, qn)]

    def kl(a, b):
        return sum(ai * math.log(ai / bi) for ai, bi in zip(a, b) if ai > 0 and bi > 0)

    return 0.5 * kl(pn, m) + 0.5 * kl(qn, m)


@dataclass
class RawFeatureFilterFullResult:
    fill_rates_train: dict[str, float]
    fill_rates_score: dict[str, float]
    js_divergence: dict[str, float]
    dropped: list[str]
    reasons: dict[str, str]


def categorical_histograms(df: DataFrame, cols: list[str],
                           values: dict[str, list[str]] | None = None,
                           top_k: int = 50):
    """Per-column value-frequency profiles for categorical raws in ONE
    shuffle regardless of column count: melt every (col, value) pair via
    explode, one groupBy(col, value), per-column top-K picked by a window
    rank (collect bounded by cols x top_k). Values outside the profile
    collapse into an ``__other__`` bucket so distributions stay comparable
    across frames. Returns ({col: counts aligned to values}, values)."""
    from pyspark.sql.window import Window

    pairs = df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("c"),
                 F.col(c).cast("string").alias("v")) for c in cols])).alias("p")) \
        .select("p.c", "p.v").where(F.col("v").isNotNull())
    counts = pairs.groupBy("c", "v").agg(F.count(F.lit(1)).alias("n"))
    if values is None:
        w = Window.partitionBy("c").orderBy(F.col("n").desc(), F.col("v").asc())
        top = counts.withColumn("r", F.row_number().over(w)) \
            .where(F.col("r") <= top_k).collect()
        values = {c: [] for c in cols}
        for r in sorted(top, key=lambda r: (r["c"], r["r"])):
            values[r["c"]].append(r["v"])
    rows = counts.collect() if sum(len(v) for v in values.values()) else []
    hists = {}
    for c in cols:
        vals = values[c]
        idx = {v: i for i, v in enumerate(vals)}
        counts_c = [0] * (len(vals) + 1)  # +1 = __other__ bucket
        for r in rows:
            if r["c"] == c:
                counts_c[idx.get(r["v"], len(vals))] += int(r["n"])
        hists[c] = counts_c
    return hists, values


def text_summaries(df: DataFrame, cols: list[str]):
    """Per-column token-count Summary(min, max, sum, count) — the reference's
    text Summary (filters/Summary.scala via PreparedFeatures): statistics of
    tokens-per-row, ONE aggregation sweep for every column."""
    from ..functions.text import tokenize

    aggs = []
    for c in cols:
        n = F.size(tokenize(F.col(c).cast("string")))
        aggs += [F.min(n).alias(f"{c}__min"), F.max(n).alias(f"{c}__max"),
                 F.sum(n).alias(f"{c}__sum"),
                 F.count(F.col(c)).alias(f"{c}__count")]
    row = df.agg(*aggs).first()
    return {c: {"min": float(row[f"{c}__min"] or 0),
                "max": float(row[f"{c}__max"] or 0),
                "sum": float(row[f"{c}__sum"] or 0),
                "count": float(row[f"{c}__count"] or 0)} for c in cols}


def default_text_bins_formula(summary: dict, bins: int) -> int:
    """RawFeatureFilter.textBinsFormula (RawFeatureFilter.scala:588) — the
    reference default is the identity on ``bins``; override with any
    ``(summary, bins) -> int`` (summary has min/max/sum/count of
    tokens-per-row, the quantities the reference's suggested formula uses)."""
    return bins


def text_token_histograms(df: DataFrame, cols: list[str], bins: int = 20,
                          text_bins_formula=None,
                          bins_by_col: dict[str, int] | None = None):
    """Hashed token histograms for text raws — FeatureDistribution.histValues'
    text branch (FeatureDistribution.scala:321-328): tokenize, hash each token
    with Spark ML's HashingTF (murmur3, non-binary counts — the REFERENCE'S
    hasher, bit-identical buckets), sum term-frequency vectors per column.

    One melt + one HashingTF pass + one groupBy per distinct bin width (with
    the default identity formula: exactly one shuffle for all columns);
    results are O(cols x bins) statistics. Returns ({col: counts},
    {col: num_bins}). ``bins_by_col`` pins the widths (the scoring frame must
    reuse the TRAIN widths for comparable distributions)."""
    from pyspark.ml.feature import HashingTF
    from pyspark.ml.stat import Summarizer

    from ..functions.text import tokenize

    if bins_by_col is None:
        formula = text_bins_formula or default_text_bins_formula
        summaries = text_summaries(df, cols)
        bins_by_col = {c: int(formula(summaries[c], bins)) for c in cols}
    pairs = df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("c"),
                 tokenize(F.col(c).cast("string")).alias("toks"))
        for c in cols])).alias("p")).select("p.c", "p.toks")
    hists: dict[str, list[float]] = {}
    for width in sorted(set(bins_by_col.values())):
        group = [c for c in cols if bins_by_col[c] == width]
        tf = HashingTF(inputCol="toks", outputCol="tfv", numFeatures=width,
                       binary=False)
        agg = (tf.transform(pairs.where(F.col("c").isin(group)))
               .groupBy("c").agg(Summarizer.sum(F.col("tfv")).alias("h")))
        got = {r["c"]: list(r["h"].toArray()) for r in agg.collect()}
        for c in group:
            hists[c] = got.get(c, [0.0] * width)
    return hists, bins_by_col


def raw_feature_filter_full(train: DataFrame, score: DataFrame,
                            numeric_cols: list[str],
                            min_fill_rate: float = 0.001,
                            max_fill_rate_diff: float = 0.9,
                            max_js_divergence: float = 0.9,
                            bins: int = 20,
                            categorical_cols: list[str] | None = None,
                            text_cols: list[str] | None = None,
                            text_bins_formula=None) -> RawFeatureFilterFullResult:
    """RawFeatureFilter.scala:90,486 — full surface: drop raw features by
    train fill rate, train/score fill-rate difference, and Jensen-Shannon
    divergence between train and score distributions. Numeric raws compare
    equal-width histograms; categorical raws (``categorical_cols``) compare
    top-K value-frequency profiles with an __other__ bucket; free-text raws
    (``text_cols``) compare HASHED TOKEN histograms with the bin count from
    ``text_bins_formula`` (FeatureDistribution.scala:321-328 +
    RawFeatureFilter.textBinsFormula at :588, identity by default).

    Aggregation sweeps are O(cols x bins) statistics, never row-sized."""
    cat_cols = list(categorical_cols or [])
    txt_cols = list(text_cols or [])
    all_cols = numeric_cols + cat_cols + txt_cols
    ft = raw_feature_filter(train, all_cols, min_fill_rate)
    fs = raw_feature_filter(score, all_cols, 0.0)
    h_train, ranges = numeric_histograms(train, numeric_cols, bins)
    h_score, _ = numeric_histograms(score, numeric_cols, bins, ranges)
    js = {c: _js_divergence(h_train[c], h_score[c]) for c in numeric_cols}
    if cat_cols:
        c_train, profile = categorical_histograms(train, cat_cols, top_k=bins)
        c_score, _ = categorical_histograms(score, cat_cols, values=profile)
        js.update({c: _js_divergence(c_train[c], c_score[c]) for c in cat_cols})
    if txt_cols:
        t_train, widths = text_token_histograms(
            train, txt_cols, bins, text_bins_formula=text_bins_formula)
        t_score, _ = text_token_histograms(score, txt_cols,
                                           bins_by_col=widths)
        js.update({c: _js_divergence(t_train[c], t_score[c])
                   for c in txt_cols})
    dropped, reasons = [], {}
    for c in all_cols:
        if ft.fill_rates[c] < min_fill_rate:
            dropped.append(c); reasons[c] = "fill_rate"
        elif abs(ft.fill_rates[c] - fs.fill_rates[c]) > max_fill_rate_diff:
            dropped.append(c); reasons[c] = "fill_rate_diff"
        elif js[c] > max_js_divergence:
            dropped.append(c); reasons[c] = "js_divergence"
    return RawFeatureFilterFullResult(ft.fill_rates, fs.fill_rates, js, dropped, reasons)


# -- drift metrics (serving-time companion to RawFeatureFilter's fit-time
# train-vs-score JS divergence, filters/RawFeatureFilter.scala:229) --

def _psi(expected: list[int], actual: list[int],
         smoothing: float = 1e-4) -> float:
    """Population Stability Index over two histogram count vectors: the
    industry-standard score drift measure (sum (a-e) * ln(a/e) over bin
    fractions; <0.1 stable / 0.1-0.25 moderate / >0.25 major shift). Bins
    with zero mass get ``smoothing`` fraction so the log stays finite."""
    import math
    se, sa = sum(expected) or 1, sum(actual) or 1
    out = 0.0
    for e, a in zip(expected, actual):
        pe = max(e / se, smoothing)
        pa = max(a / sa, smoothing)
        out += (pa - pe) * math.log(pa / pe)
    return out


def _ks(expected: list[int], actual: list[int]) -> float:
    """Kolmogorov-Smirnov statistic from binned counts: max |CDF gap|."""
    se, sa = sum(expected) or 1, sum(actual) or 1
    ce = ca = 0.0
    worst = 0.0
    for e, a in zip(expected, actual):
        ce += e / se
        ca += a / sa
        worst = max(worst, abs(ce - ca))
    return worst


def drift_report(train: DataFrame, serve: DataFrame, cols: list[str],
                 bins: int = 20) -> dict[str, dict[str, float]]:
    """Numeric distribution drift between a training frame and a serving/
    scoring frame: per column, PSI, KS and JS divergence over shared-range
    equal-width histograms. Cost: ONE aggregation pass per frame (all
    columns and bins in the same agg), histograms compared driver-side —
    the same bounded-collection boundary as every fit in this module.
    Bin ranges come from the TRAIN frame so serving outliers land in the
    edge bins (visible as drift, not silently rescaled away)."""
    train_h, ranges = numeric_histograms(train, cols, bins)
    serve_h, _ = numeric_histograms(serve, cols, bins, ranges=ranges)
    return {c: {"psi": _psi(train_h[c], serve_h[c]),
                "ks": _ks(train_h[c], serve_h[c]),
                "js_divergence": _js_divergence(train_h[c], serve_h[c])}
            for c in cols}
