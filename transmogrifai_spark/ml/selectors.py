"""Model selection: splitters, balancer, cutter, CV/TVS, selectors
(SURVEY.md §2.11).

Re-expression of:
  * DataSplitter   core/.../impl/tuning/DataSplitter.scala:65
  * DataBalancer   DataBalancer.scala:73 (up/down-sample math :87-113)
  * DataCutter     DataCutter.scala:78 (multiclass label trimming)
  * OpCrossValidation / OpTrainValidationSplit  OpCrossValidation.scala:42
    (stratified folds :173-186)
  * BinaryClassificationModelSelector  BinaryClassificationModelSelector.scala:54
    with the default model grids of DefaultSelectorParams.scala:38-70
  * SelectedModel  ModelSelector.scala:224

Leakage design: the reference cuts the DAG so label-dependent stages refit
inside each fold (FitStagesUtil.cutDAG:302-355). The rebuild gets the same
guarantee structurally: CV takes a ``pipeline_builder(train_df) -> scorer``
callback, so EVERYTHING (vectorizer fits included) refits per fold — correct
by construction, and the per-fold fits run on Catalyst-planned aggregations,
so the extra cost is bounded.

Determinism: folds and splits hash a caller-named key column
(xxhash64(key, seed) % k) — stable under any partitioning or cluster layout,
unlike rand(seed).
"""
from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import cache_scope, cached
from .evaluators import auroc, binary_metrics, regression_metrics


def split_by_key(df: DataFrame, key_col: str, test_fraction: float = 0.25,
                 seed: int = 42) -> tuple[DataFrame, DataFrame]:
    """DataSplitter.scala:65 — deterministic train/test split by key hash."""
    bucket = F.pmod(F.xxhash64(F.col(key_col).cast("string"), F.lit(seed)), F.lit(1000))
    cut = int(test_fraction * 1000)
    test = df.where(bucket < cut)
    train = df.where(bucket >= cut)
    return train, test


def balance_binary(df: DataFrame, label_col: str, target_fraction: float = 0.5,
                   max_rows: int | None = None, seed: int = 42) -> DataFrame:
    """DataBalancer.scala:87-113 — down-sample the majority class until the
    positive fraction reaches the target (never up-samples; sampling is
    seeded). One count pass, then a per-class ``sampleBy``."""
    y = F.col(label_col).cast("double")
    counts = {float(r["y"]): r["n"] for r in
              df.groupBy(y.alias("y")).agg(F.count(F.lit(1)).alias("n")).collect()}
    pos, neg = counts.get(1.0, 0), counts.get(0.0, 0)
    if pos == 0 or neg == 0:
        return df
    frac_pos = pos / (pos + neg)
    fractions = {1.0: 1.0, 0.0: 1.0}
    if frac_pos < target_fraction:
        # too few positives: down-sample negatives to pos*(1-t)/t
        keep_neg = pos * (1 - target_fraction) / target_fraction
        fractions[0.0] = min(1.0, keep_neg / neg)
    else:
        keep_pos = neg * target_fraction / (1 - target_fraction)
        fractions[1.0] = min(1.0, keep_pos / pos)
    out = df.sampleBy(y, fractions=fractions, seed=seed)
    if max_rows:
        total = sum(counts.values())
        if total > max_rows:
            out = out.sample(max_rows / total, seed=seed)
    return out


def cut_multiclass(df: DataFrame, label_col: str, max_classes: int = 100,
                   min_fraction: float = 0.001) -> tuple[DataFrame, list]:
    """DataCutter.scala:78 — keep the top-K labels with adequate support;
    rows of trimmed labels are dropped. Returns (df, kept_labels)."""
    total = df.count()
    counts = (df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n"))
              .orderBy(F.col("n").desc(), F.col(label_col).asc())
              .limit(max_classes).collect())
    kept = [r[label_col] for r in counts if r["n"] / total >= min_fraction]
    return df.where(F.col(label_col).isin(kept)), kept


def kfold_by_key(df: DataFrame, key_col: str, k: int = 3, seed: int = 42):
    """Deterministic k folds by key hash (OpCrossValidation.scala:173's
    stratified folds become hash folds; stratification is applied upstream by
    balance_binary when needed). Yields (train, valid) pairs lazily."""
    fold = F.pmod(F.xxhash64(F.col(key_col).cast("string"), F.lit(seed)), F.lit(k))
    tagged = df.withColumn("_fold", fold)
    for i in range(k):
        yield (tagged.where(F.col("_fold") != i).drop("_fold"),
               tagged.where(F.col("_fold") == i).drop("_fold"))


@dataclass
class CandidateResult:
    name: str
    params: dict
    metric: float
    fold_metrics: list


@dataclass
class SelectedModel:
    """ModelSelector.scala:224 — winning model + full leaderboard."""

    best_name: str
    best_params: dict
    best_metric: float
    leaderboard: list
    fitted_model: object  # fitted on the full training frame


def default_binary_candidates(small: bool = False) -> list[tuple[str, dict]]:
    """DefaultSelectorParams.scala:38-70 — the reference's default model
    family/grid, re-expressed for pyspark.ml. ``small`` trims grids for
    tests."""
    lr_reg = [0.01] if small else [0.001, 0.01, 0.1]
    rf_depth = [5] if small else [3, 6, 12]
    cands: list[tuple[str, dict]] = []
    for reg in lr_reg:
        cands.append(("LogisticRegression", {"regParam": reg, "maxIter": 20, "elasticNetParam": 0.0}))
    for d in rf_depth:
        cands.append(("RandomForestClassifier", {"maxDepth": d, "numTrees": 20 if small else 50, "seed": 42}))
    if not small:
        cands.append(("GBTClassifier", {"maxDepth": 3, "maxIter": 20, "seed": 42}))
        cands.append(("LinearSVC", {"regParam": 0.01, "maxIter": 20}))
        cands.append(("DecisionTreeClassifier", {"maxDepth": 6, "seed": 42}))
        cands.append(("NaiveBayes", {"smoothing": 1.0}))
        cands.append(("MultilayerPerceptronClassifier",
                      {"layers": "auto", "maxIter": 50, "seed": 42}))
    return cands


def _resolve_auto_layers(name: str, params: dict, df: DataFrame,
                         features_col: str, n_classes: int = 2) -> dict:
    """MLP needs a concrete layer spec; ``layers="auto"`` (or absent) becomes
    [input_dim, max(2, input_dim // 2), n_classes], resolved from the data at
    fit time (OpMultilayerPerceptronClassifier's layers param is likewise
    data-shaped)."""
    if name != "MultilayerPerceptronClassifier" or \
            params.get("layers") not in (None, "auto"):
        return params
    dim = df.select(features_col).first()[0].size
    return {**params, "layers": [dim, max(2, dim // 2), n_classes]}


def _fit_classifier(name: str, params: dict, df: DataFrame, features_col: str,
                    label_col: str, n_classes: int = 2):
    """Fit candidate ``name`` on ``df``: the one classifier fit of every
    selector, so an MLP's ``layers="auto"`` is resolved on each path."""
    import pyspark.ml.classification as C
    p = _resolve_auto_layers(name, params, df, features_col, n_classes)
    return getattr(C, name)(featuresCol=features_col, labelCol=label_col,
                            **p).fit(df)


def _binary_score_col(pred_df: DataFrame) -> DataFrame:
    """Normalize classifier outputs to a calibrated-ish 'score' column:
    probability[1] when available, else a rawPrediction margin sigmoid."""
    from pyspark.ml.functions import vector_to_array
    if "probability" in pred_df.columns:
        return pred_df.withColumn("score", vector_to_array(F.col("probability"))[1])
    margin = vector_to_array(F.col("rawPrediction"))[1]
    return pred_df.withColumn("score", F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)))


def select_binary_model(df: DataFrame, features_col: str, label_col: str,
                        key_col: str, candidates: list[tuple[str, dict]] | None = None,
                        k: int = 3, seed: int = 42,
                        prepare: Callable[[DataFrame], DataFrame] | None = None) -> SelectedModel:
    """BinaryClassificationModelSelector: k-fold CV over the candidate grid,
    metric = AuROC, winner refit on the full frame.

    ``prepare`` (optional) is the label-dependent preprocessing refit per
    fold (the cutDAG guarantee); identity when omitted. ``df`` must already
    carry the assembled ml-vector ``features_col``."""
    candidates = candidates or default_binary_candidates(small=True)
    with cache_scope():
        df = cached(df)
        folds = list(kfold_by_key(df, key_col, k=k, seed=seed))
        leaderboard: list[CandidateResult] = []
        for name, params in candidates:
            fold_metrics = []
            for train, valid in folds:
                t = prepare(train) if prepare else train
                model = _fit_classifier(name, params, t, features_col,
                                        label_col)
                preds = _binary_score_col(model.transform(valid))
                fold_metrics.append(auroc(preds, "score", label_col))
            m = sum(fold_metrics) / len(fold_metrics)
            leaderboard.append(CandidateResult(name, params, m, fold_metrics))
        leaderboard.sort(key=lambda c: (-c.metric, c.name))
        best = leaderboard[0]
        full = prepare(df) if prepare else df
        fitted = _fit_classifier(best.name, best.params, full, features_col,
                                 label_col)
    return SelectedModel(best.name, best.params, best.metric,
                         leaderboard, fitted)


def default_regression_candidates(small: bool = False) -> list[tuple[str, dict]]:
    """RegressionModelSelector defaults (DefaultSelectorParams.scala:38-70)."""
    cands = [("LinearRegression", {"regParam": 0.01, "elasticNetParam": 0.0, "maxIter": 20}),
             ("RandomForestRegressor", {"maxDepth": 5, "numTrees": 20, "seed": 42})]
    if not small:
        cands += [("GBTRegressor", {"maxDepth": 3, "maxIter": 20, "seed": 42}),
                  ("DecisionTreeRegressor", {"maxDepth": 6, "seed": 42}),
                  ("GeneralizedLinearRegression", {"family": "gaussian", "maxIter": 20})]
    return cands


def _make_regressor(name: str, params: dict, features_col: str, label_col: str):
    import pyspark.ml.regression as R
    return getattr(R, name)(featuresCol=features_col, labelCol=label_col, **params)


def select_regression_model(df: DataFrame, features_col: str, label_col: str,
                            key_col: str, candidates=None, k: int = 3,
                            seed: int = 42) -> SelectedModel:
    """RegressionModelSelector: k-fold CV, metric = -RMSE (higher better)."""
    candidates = candidates or default_regression_candidates(small=True)
    with cache_scope():
        df = cached(df)
        folds = list(kfold_by_key(df, key_col, k=k, seed=seed))
        leaderboard = []
        for name, params in candidates:
            fold_metrics = []
            for train, valid in folds:
                model = _make_regressor(name, params, features_col, label_col).fit(train)
                preds = model.transform(valid)
                fold_metrics.append(-regression_metrics(preds, "prediction", label_col)["rmse"])
            m = sum(fold_metrics) / len(fold_metrics)
            leaderboard.append(CandidateResult(name, params, m, fold_metrics))
        leaderboard.sort(key=lambda c: (-c.metric, c.name))
        best = leaderboard[0]
        fitted = _make_regressor(best.name, best.params, features_col, label_col).fit(df)
    return SelectedModel(best.name, best.params, best.metric, leaderboard, fitted)


def select_multiclass_model(df: DataFrame, features_col: str, label_col: str,
                            key_col: str, candidates=None, k: int = 3,
                            seed: int = 42) -> SelectedModel:
    """MultiClassificationModelSelector: k-fold CV, metric = accuracy."""
    from .evaluators import multiclass_metrics
    candidates = candidates or [
        ("LogisticRegression", {"regParam": 0.01, "maxIter": 20}),
        ("RandomForestClassifier", {"maxDepth": 5, "numTrees": 20, "seed": 42}),
    ]
    with cache_scope():
        df = cached(df)
        n_classes = None
        if any(n == "MultilayerPerceptronClassifier" for n, _ in candidates):
            n_classes = int(df.agg(F.max(F.col(label_col))).first()[0]) + 1
        folds = list(kfold_by_key(df, key_col, k=k, seed=seed))
        leaderboard = []
        for name, params in candidates:
            fold_metrics = []
            for train, valid in folds:
                model = _fit_classifier(name, params, train, features_col,
                                        label_col, n_classes or 2)
                preds = model.transform(valid)
                fold_metrics.append(multiclass_metrics(preds, "prediction", label_col)["accuracy"])
            m = sum(fold_metrics) / len(fold_metrics)
            leaderboard.append(CandidateResult(name, params, m, fold_metrics))
        leaderboard.sort(key=lambda c: (-c.metric, c.name))
        best = leaderboard[0]
        fitted = _fit_classifier(best.name, best.params, df, features_col,
                                 label_col, n_classes or 2)
    return SelectedModel(best.name, best.params, best.metric, leaderboard, fitted)


def to_prediction_map(pred_df: DataFrame, out_col: str = "prediction_map") -> DataFrame:
    """The reference's Prediction feature type (types/Maps.scala:339 —
    reserved keys prediction/probability/rawPrediction) as a
    map<string,double> column over an ml prediction frame."""
    from pyspark.ml.functions import vector_to_array
    keys, vals = [F.lit("prediction")], [F.col("prediction").cast("double")]
    if "probability" in pred_df.columns:
        p = vector_to_array(F.col("probability"))
        for i in (0, 1):
            keys.append(F.lit(f"probability_{i}"))
            vals.append(F.try_element_at(p, F.lit(i + 1)))
    if "rawPrediction" in pred_df.columns:
        r = vector_to_array(F.col("rawPrediction"))
        for i in (0, 1):
            keys.append(F.lit(f"rawPrediction_{i}"))
            vals.append(F.try_element_at(r, F.lit(i + 1)))
    return pred_df.withColumn(out_col, F.map_from_arrays(F.array(*keys), F.array(*vals)))


def random_param_builder(name: str, space: dict[str, tuple[float, float] | list],
                         n: int, seed: int = 42) -> list[tuple[str, dict]]:
    """RandomParamBuilder.scala:52 — seeded random hyperparameter search:
    numeric (lo, hi) ranges sample log-uniform when lo>0 and hi/lo>100, else
    uniform; list values sample uniformly."""
    import math
    import random as _random
    rng = _random.Random(seed)
    out = []
    for _ in range(n):
        params = {}
        for k, spec in space.items():
            if isinstance(spec, list):
                params[k] = rng.choice(spec)
            else:
                lo, hi = spec
                if lo > 0 and hi / lo > 100:
                    params[k] = math.exp(rng.uniform(math.log(lo), math.log(hi)))
                else:
                    params[k] = rng.uniform(lo, hi)
        out.append((name, params))
    return out


def combine_top_models(selected: SelectedModel, df: DataFrame, features_col: str,
                       label_col: str, key_col: str, top_n: int = 2) -> DataFrame:
    """SelectedModelCombiner.scala:72 — ensemble the top-N candidates by
    averaging their probability-1 scores (each refit on the full frame);
    rows aligned by the caller's key column."""
    scored = None
    taken = 0
    for cand in selected.leaderboard[:top_n]:
        model = _fit_classifier(cand.name, cand.params, df, features_col,
                                label_col)
        preds = _binary_score_col(model.transform(df)).select(
            F.col(key_col), F.col("score").alias(f"_s{taken}"))
        scored = preds if scored is None else scored.join(preds, key_col)
        taken += 1
    cols = [F.col(f"_s{i}") for i in range(taken)]
    avg = sum(cols[1:], cols[0]) / float(taken)
    return scored.select(F.col(key_col), avg.alias("ensemble_score"))


def xgboost_classifier(features_col: str, label_col: str, **params):
    """OpXGBoostClassifier parity — available only when the optional
    xgboost.spark package is installed; raises a precise error otherwise."""
    try:
        from xgboost.spark import SparkXGBClassifier  # type: ignore
    except ImportError as e:
        raise NotImplementedError(
            "xgboost.spark is not installed in this environment; install "
            "xgboost>=1.7 to enable OpXGBoostClassifier parity") from e
    return SparkXGBClassifier(features_col=features_col, label_col=label_col, **params)


def train_validation_split_select(df: DataFrame, features_col: str, label_col: str,
                                  key_col: str, candidates=None,
                                  test_fraction: float = 0.25, seed: int = 42) -> SelectedModel:
    """OpTrainValidationSplit — single split instead of k folds."""
    candidates = candidates or default_binary_candidates(small=True)
    train, valid = split_by_key(df, key_col, test_fraction, seed)
    with cache_scope():
        train = cached(train)
        leaderboard = []
        for name, params in candidates:
            model = _fit_classifier(name, params, train, features_col,
                                    label_col)
            preds = _binary_score_col(model.transform(valid))
            leaderboard.append(CandidateResult(name, params, auroc(preds, "score", label_col), []))
        leaderboard.sort(key=lambda c: (-c.metric, c.name))
        best = leaderboard[0]
        fitted = _fit_classifier(best.name, best.params, df, features_col,
                                 label_col)
    return SelectedModel(best.name, best.params, best.metric, leaderboard, fitted)


def model_selector_stage(features, label, key, candidates=None, k: int = 3,
                         seed: int = 42, problem: str = "binary",
                         output_name: str | None = None):
    """ModelSelector as a WORKFLOW STAGE (the reference workflow treats its
    selector as just another estimator in the DAG, ModelSelector.scala:90;
    until now the rebuild wired selection manually around the workflow).

    Fit: leakage-safe k-fold CV over the candidate grid (folds hash the
    ``key`` feature), winner refit on the full frame — then the fitted Spark
    ML model's parameters are EXPORTED (serving.ml_export) into a registry
    "mlPredictor" stage. The fitted workflow therefore persists feature prep
    AND model as one manifest and scores through every serving path —
    Spark Column expr, local Spark-free row fn, save/load — with no Spark ML
    object in the hot path (the reference needs MLeap for the same,
    OpWorkflowModelLocal.scala:79). The selection leaderboard rides along in
    ``params["selection"]`` and survives the manifest round-trip.

    ``features`` must be an array<double> vector feature (e.g. transmogrify
    output); ``label``/``key`` are fit-time-only inputs — the fitted stage
    takes the vector alone, so unlabeled frames score cleanly.
    """
    from ..stages.base import Estimator

    out = output_name or "score"

    def fit(stage, df: DataFrame):
        from pyspark.ml.functions import array_to_vector
        from ..operators.numeric import FittedParamTransformer
        from ..serving.ml_export import export_model_params
        data = df.withColumn("_fv", array_to_vector(F.col(features.name)))
        if problem == "binary":
            sel = select_binary_model(data, "_fv", label.name, key.name,
                                      candidates=candidates, k=k, seed=seed)
        elif problem == "regression":
            sel = select_regression_model(data, "_fv", label.name, key.name,
                                          candidates=candidates, k=k, seed=seed)
        else:
            raise ValueError(f"problem must be binary or regression, got {problem!r}")
        params = export_model_params(sel.fitted_model)
        params["selection"] = {
            "best_name": sel.best_name,
            "best_params": sel.best_params,
            "best_metric": sel.best_metric,
            "leaderboard": [{"name": c.name, "params": c.params,
                             "metric": c.metric, "fold_metrics": c.fold_metrics}
                            for c in sel.leaderboard]}
        fitted = FittedParamTransformer("mlPredictor", [features], out, "RealNN", params)
        fitted.selected = sel  # full SelectedModel for insights at fit time
        return fitted

    return Estimator("modelSelector", [features, label, key], out, "RealNN", fit)
