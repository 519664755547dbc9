"""Fitted numeric operators (SURVEY.md §2.6).

Re-expression of:
  * FillMissingWithMean       core/.../impl/feature/FillMissingWithMean.scala:47
  * OpScalarStandardScaler    OpScalarStandardScaler.scala:49
  * ScalerTransformer / DescalerTransformer  ScalerTransformer.scala:144,
    DescalerTransformer.scala:56 (linear/log scaling with inversion metadata)
  * PercentileCalibrator      PercentileCalibrator.scala:48 (100-bucket rank
    calibration; reference uses QuantileDiscretizer)
  * NumericBucketizer         NumericBucketizer.scala:54 (explicit splits,
    optional null bucket, one-hot output)
  * DecisionTreeNumericBucketizer  DecisionTreeNumericBucketizer.scala:60
    (single-feature decision tree; split thresholds become bucket edges)
  * IsotonicRegressionCalibrator  core/.../impl/regression/IsotonicRegressionCalibrator.scala:44

Every fit is one distributed aggregation (or one ml fit); every transform is
a pure Column expression. Fitted state is tiny (means / split arrays) and is
stored as plain Python values on the stage — serializable, shippable to the
local scoring path.
"""
from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..feature import Feature
from ..stages.base import ColumnTransformer, Estimator
from ..util import cache_scope, cached


class FittedParamTransformer(ColumnTransformer):
    """A fitted scalar stage: (op_name, params) with ``params`` as plain
    data. Its Column comes from ``serving.registry.expr_for(op_name,
    params)``, the builder that also sits beside the op's local fn, so a
    fit, a reloaded manifest and local scoring share one expression source."""

    def __init__(self, op_name, inputs, output_name, output_type, params: dict):
        from ..serving.registry import expr_for
        super().__init__(op_name, inputs, output_name, output_type,
                         expr_for(op_name, params))
        self.params = params


def fill_missing_with_mean(feat: Feature, default: float = 0.0,
                           output_name: str | None = None) -> Estimator:
    """FillMissingWithMean.scala:47 — impute the fitted mean (default when
    the column is all-null)."""
    out = output_name or f"{feat.name}_imputed"

    def fit(stage: Estimator, df: DataFrame) -> FittedParamTransformer:
        mean = exact_mean(df, feat.name)
        if mean is None:
            mean = default
        return FittedParamTransformer("fillMean", [feat], out, "RealNN", {"mean": mean})

    return Estimator("fillMean", [feat], out, "RealNN", fit)


def exact_mean(df: DataFrame, col: str) -> float | None:
    """Decimal-accumulated mean: order-independent exact sum, one final
    double division — the fitted statistic is bit-identical at any
    parallelism (a plain double avg is partitioning-dependent)."""
    row = df.agg(
        F.sum(F.col(col).cast("decimal(30,8)")).alias("s"),
        F.count(F.col(col)).alias("n")).first()
    if not row["n"]:
        return None
    return float(row["s"]) / row["n"]


def exact_moments(df: DataFrame, col: str) -> tuple[float, float] | None:
    """(mean, population std) from decimal-exact first/second moments."""
    x = F.col(col).cast("double")
    row = df.agg(
        F.sum(x.cast("decimal(30,8)")).alias("s1"),
        F.sum((x * x).cast("decimal(38,6)")).alias("s2"),
        F.count(F.col(col)).alias("n")).first()
    if not row["n"]:
        return None
    n = row["n"]
    mean = float(row["s1"]) / n
    var = float(row["s2"]) / n - mean * mean
    return mean, (var ** 0.5 if var > 0 else 0.0)


def standard_scaler(feat: Feature, with_mean: bool = True, with_std: bool = True,
                    output_name: str | None = None) -> Estimator:
    """OpScalarStandardScaler.scala:49 — (x - μ) / σ from one moments pass.
    Population σ, zero-σ guarded to 1.0 (the reference delegates to Spark's
    StandardScaler; one agg beats an ml-stage round trip for a scalar)."""
    out = output_name or f"{feat.name}_scaled"

    def fit(stage: Estimator, df: DataFrame) -> FittedParamTransformer:
        mm = exact_moments(df, feat.name)
        mean, std = mm if mm else (0.0, 1.0)
        if std == 0.0:
            std = 1.0
        params = {"mean": mean, "std": std}
        if not (with_mean and with_std):  # default manifests keep their bytes
            params.update(with_mean=with_mean, with_std=with_std)
        return FittedParamTransformer("stdScaler", [feat], out, "RealNN", params)

    return Estimator("stdScaler", [feat], out, "RealNN", fit)


@dataclass(frozen=True)
class ScalingArgs:
    """ScalerTransformer.scala:144 — invertible scaling family + args,
    recorded so DescalerTransformer can invert (metadata round trip)."""

    family: str           # 'linear' | 'log'
    slope: float = 1.0
    intercept: float = 0.0
    log_base: float = math.e


def scaler(feat: Feature, args: ScalingArgs, output_name: str | None = None) -> ColumnTransformer:
    out = output_name or f"{feat.name}_scaled"
    if args.family not in ("linear", "log"):
        raise ValueError(f"unknown scaling family {args.family!r}")
    return FittedParamTransformer("scaler", [feat], out, "Real", _scaling_params(args))


def descaler(scaled: Feature, args: ScalingArgs, output_name: str | None = None) -> ColumnTransformer:
    """DescalerTransformer.scala:56 — inverse of scaler from its metadata."""
    out = output_name or f"{scaled.name}_descaled"
    if args.family not in ("linear", "log"):
        raise ValueError(f"unknown scaling family {args.family!r}")
    if args.family == "linear" and args.slope == 0:
        raise ValueError("cannot invert zero-slope linear scaling")
    return FittedParamTransformer("descaler", [scaled], out, "Real", _scaling_params(args))


def _scaling_params(args: ScalingArgs) -> dict:
    return {"scaling": {"family": args.family, "slope": args.slope,
                        "intercept": args.intercept, "log_base": args.log_base}}


def _bucket_expr(splits: list[float], right_inclusive_last: bool = True):
    """Bucket index by ascending splits (Bucketizer semantics: bucket i is
    [splits[i], splits[i+1]), last bucket closed)."""
    def make_expr(c: Column) -> Column:
        x = c.cast("double")
        expr = F.lit(None).cast("long")
        n = len(splits) - 1
        cases = []
        for i in range(n):
            lo, hi = splits[i], splits[i + 1]
            cond = (x >= F.lit(lo)) if not math.isinf(lo) else F.lit(True)
            if not math.isinf(hi):
                cond = cond & ((x <= F.lit(hi)) if (i == n - 1 and right_inclusive_last)
                               else (x < F.lit(hi)))
            cases.append((cond, i))
        out = F.lit(None).cast("long")
        for cond, i in reversed(cases):
            out = F.when(cond, F.lit(i).cast("long")).otherwise(out)
        return out
    return make_expr


def numeric_bucketizer(feat: Feature, splits: list[float], track_nulls: bool = True,
                       as_onehot: bool = False, output_name: str | None = None) -> ColumnTransformer:
    """NumericBucketizer.scala:54 — explicit-split bucketing; optionally a
    one-hot vector with a null slot (the reference's vectorized form)."""
    out = output_name or f"{feat.name}_bucket"
    if not as_onehot:
        return FittedParamTransformer("numericBucketizer", [feat], out, "Integral",
                                      {"splits": list(splits)})
    return FittedParamTransformer("numericBucketizer", [feat], out, "OPVector",
                                  {"splits": list(splits), "as_onehot": True,
                                   "track_nulls": track_nulls})


def percentile_calibrator(feat: Feature, buckets: int = 100,
                          output_name: str | None = None,
                          approx: bool = False,
                          accuracy: int = 10000) -> Estimator:
    """PercentileCalibrator.scala:48 — map values to [0, buckets-1] by the
    fitted empirical quantiles.

    The reference uses QuantileDiscretizer (approximate). Default fit is
    Spark's exact ``percentile`` aggregate — deterministic, so the DuckDB
    oracle (quantile_cont) can reproduce it. ``approx=True`` switches the
    fit to ``percentile_approx`` (Greenwald-Khanna, error <= 1/accuracy of
    rank) — the 100 TB path: exact percentile buffers every distinct value
    per partition, GK summaries are bounded. The fitted stage contract
    (splits metadata, bucket expression, registry/local forms) is identical
    either way."""
    out = output_name or f"{feat.name}_calibrated"

    def fit(stage: Estimator, df: DataFrame) -> FittedParamTransformer:
        probs = [i / buckets for i in range(1, buckets)]
        pct = (F.percentile_approx(F.col(feat.name).cast("double"),
                                   F.array(*[F.lit(p) for p in probs]),
                                   F.lit(accuracy))
               if approx else
               F.percentile(F.col(feat.name).cast("double"),
                            F.array(*[F.lit(p) for p in probs])))
        row = df.agg(pct.alias("qs")).first()
        qs = [float(q) for q in row["qs"]] if row["qs"] is not None else []
        # dedup equal quantiles (constantish columns) keeping ascending order
        splits: list[float] = [-math.inf]
        for q in qs:
            if q > splits[-1]:
                splits.append(q)
        splits.append(math.inf)
        return FittedParamTransformer("percentileCalibrator", [feat], out, "Integral",
                                      {"splits": list(splits)})

    return Estimator("percentileCalibrator", [feat], out, "Integral", fit)


def decision_tree_bucketizer(feat: Feature, label: Feature, max_depth: int = 2,
                             output_name: str | None = None) -> Estimator:
    """DecisionTreeNumericBucketizer.scala:60 — fit a single-feature decision
    tree against the label; its internal-node thresholds become bucket splits
    (supervised, label-aware bucketing)."""
    out = output_name or f"{feat.name}_dt_bucket"

    def fit(stage: Estimator, df: DataFrame) -> FittedParamTransformer:
        from pyspark.ml.classification import DecisionTreeClassifier
        from pyspark.ml.functions import array_to_vector
        data = df.select(F.col(feat.name).cast("double").alias("_x"),
                         F.col(label.name).cast("double").alias("_y")) \
            .where(F.col("_x").isNotNull() & F.col("_y").isNotNull()) \
            .withColumn("_v", array_to_vector(F.array(F.col("_x"))))
        dt = DecisionTreeClassifier(featuresCol="_v", labelCol="_y",
                                    maxDepth=max_depth, seed=42).fit(data)
        # thresholds of the continuous splits, from the model's debug dump
        # (stable public surface across pyspark versions)
        import re
        thresholds = {float(t) for t in
                      re.findall(r"feature 0 <= ([0-9eE.+-]+)", dt.toDebugString)}
        splits = [-math.inf] + sorted(thresholds) + [math.inf]
        return FittedParamTransformer("dtBucketizer", [feat], out, "Integral",
                                      {"splits": list(splits)})

    return Estimator("dtBucketizer", [feat, label], out, "Integral", fit)


def decision_tree_map_bucketizer(feat: Feature, label: Feature,
                                 keys: list[str] | None = None,
                                 max_depth: int = 2, track_nulls: bool = True,
                                 output_name: str | None = None) -> Estimator:
    """DecisionTreeNumericMapBucketizer.scala:46 — the map form of supervised
    bucketing: one single-feature decision tree per map key (fit on that
    key's values against the label), the learned thresholds become that
    key's splits, and the output vector concatenates each key's bucket
    one-hot plus a null-tracking slot.

    Fit plan: keys are discovered from ONE exploded distinct aggregation;
    the exploded (key, value, label) projection is persisted once and each
    per-key tree fits from a filtered slice (the reference likewise fits one
    tree per key via its sequence-estimator). Key count is the map's schema
    arity — small — so the K tree fits are bounded; the scoring expression
    is pure Columns (no model object in the hot path)."""
    import re

    out = output_name or f"{feat.name}_dt_map_bucket"

    def fit(stage: Estimator, df: DataFrame):
        from pyspark.ml.classification import DecisionTreeClassifier
        from pyspark.ml.functions import array_to_vector
        from .vectorizers import FittedVectorizer, VectorSlot
        with cache_scope():
            ex = cached(
                df.select(F.explode_outer(F.col(feat.name)).alias("_k", "_x"),
                          F.col(label.name).cast("double").alias("_y"))
                .where(F.col("_k").isNotNull() & F.col("_x").isNotNull()
                       & F.col("_y").isNotNull())
                .withColumn("_x", F.col("_x").cast("double")))
            ks = keys or [r["_k"] for r in
                          ex.select("_k").distinct().orderBy("_k").collect()]
            splits_by_key: dict[str, list[float]] = {}
            for k in ks:
                data = ex.where(F.col("_k") == F.lit(k)) \
                    .withColumn("_v", array_to_vector(F.array(F.col("_x"))))
                dt = DecisionTreeClassifier(featuresCol="_v", labelCol="_y",
                                            maxDepth=max_depth, seed=42).fit(data)
                thresholds = {float(t) for t in re.findall(
                    r"feature 0 <= ([0-9eE.+-]+)", dt.toDebugString)}
                splits_by_key[k] = [-math.inf] + sorted(thresholds) + [math.inf]
        params = {"keys": list(ks),
                  "splits": {k: list(v) for k, v in splits_by_key.items()},
                  "track_nulls": bool(track_nulls)}
        slots = []
        for k in ks:
            nb = len(splits_by_key[k]) - 1
            slots += [VectorSlot(feat.name, descriptor=f"{k}_bucket_{i}")
                      for i in range(nb)]
            if track_nulls:
                slots.append(VectorSlot(feat.name, descriptor=f"{k}_null"))
        return FittedVectorizer("dtMapBucketizer", [feat], out, slots, params)

    return Estimator("dtMapBucketizer", [feat, label], out, "OPVector", fit)


def _dt_map_bucket_expr(params: dict):
    """Concatenated per-key bucket one-hots (+ null slots) over a map column;
    shared with the serving registry (op "dtMapBucketizer")."""
    def make_expr(c: Column) -> Column:
        parts = []
        for k in params["keys"]:
            splits = [float(s) for s in params["splits"][k]]
            v = F.try_element_at(c, F.lit(k)).cast("double")
            idx = _bucket_expr(splits)(v)
            for i in range(len(splits) - 1):
                parts.append(F.when(idx == i, 1.0).otherwise(0.0))
            if params["track_nulls"]:
                parts.append(F.when(v.isNull(), 1.0).otherwise(0.0))
        return F.array(*parts)
    return make_expr


def isotonic_calibrator(score: Feature, label: Feature,
                        output_name: str | None = None) -> Estimator:
    """IsotonicRegressionCalibrator.scala:44 — monotone score calibration via
    ml.regression.IsotonicRegression; the fitted piecewise-linear boundaries
    compile back into a Column expression (no model object in the hot path)."""
    out = output_name or f"{score.name}_calibrated"

    def fit(stage: Estimator, df: DataFrame) -> FittedParamTransformer:
        from pyspark.ml.functions import array_to_vector
        from pyspark.ml.regression import IsotonicRegression
        data = df.select(F.col(score.name).cast("double").alias("_x"),
                         F.col(label.name).cast("double").alias("_y")) \
            .where(F.col("_x").isNotNull() & F.col("_y").isNotNull()) \
            .withColumn("_v", array_to_vector(F.array(F.col("_x"))))
        iso = IsotonicRegression(featuresCol="_v", labelCol="_y").fit(data)
        bounds = [float(b) for b in iso.boundaries.toArray()]
        preds = [float(p) for p in iso.predictions.toArray()]
        # the label is fit-time-only: the fitted stage takes [score] alone so
        # unlabeled data passes score-time schema validation (same shape as
        # decision_tree_bucketizer's fitted form)
        return FittedParamTransformer("isotonicCalibrator", [score], out, "Real",
                                      {"boundaries": bounds, "predictions": preds})

    return Estimator("isotonicCalibrator", [score, label], out, "Real", fit)
