"""Workflow: lineage-driven DAG construction, layered fit, one-pass scoring.

Re-expression of ``OpWorkflow`` / ``OpWorkflowModel``
(core/src/main/scala/com/salesforce/op/OpWorkflow.scala:61,
OpWorkflowModel.scala) and the DAG machinery in
``FitStagesUtil`` (core/.../utils/stages/FitStagesUtil.scala:173-198
``computeDAG``: stages grouped into layers by max distance-to-sink, dedup'd).

Physical differences from the reference, per SURVEY.md §4:
  * Each layer's ColumnTransformers are emitted as ONE ``select`` — Catalyst
    fuses them under whole-stage codegen (the reference needed a hand-rolled
    single RDD map pass, FitStagesUtil.applyOpTransformations:96-119).
  * The reference's forced RDD-roundtrip persist every K stages
    (applySparkTransformations:150-163, a Spark 2.x Catalyst-blowup
    workaround [SPARK-13346]) is obsolete on Spark 4 + AQE and has no
    counterpart here.
  * Transform-only scoring builds a single lazy plan — no persist gymnastics;
    frames are cached only at estimator-fit boundaries, where a layer's
    output is consumed by several fits, and released when the fit ends.

Scale note (100 TB): everything here is plan construction on the driver; the
data path is pure DataFrame ops, so partitioning/shuffle behavior is decided
by Catalyst/AQE from the expressions the stages emit.
"""
from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .feature import Feature
from .stages.base import ColumnTransformer, DataFrameTransformer, Estimator, Stage
from .util import cache_scope, cached


def compute_dag(result_features: Sequence[Feature]) -> list[list[Stage]]:
    """Group ancestor stages into layers by max distance-to-sink.

    Mirrors FitStagesUtil.computeDAG (FitStagesUtil.scala:173-198): a stage's
    layer = max over all paths to any result feature; stages shared by several
    results appear exactly once (common-subexpression elimination at the
    logical-DAG level — Catalyst CSE works within one plan, but stage dedup
    must happen here, SURVEY.md §4 row 1).
    """
    dist: dict[int, int] = {}
    stages: dict[int, Stage] = {}

    def walk(f: Feature, d: int) -> None:
        st = f.origin_stage
        if st is None:
            return
        stages[id(st)] = st
        if dist.get(id(st), -1) < d:
            dist[id(st)] = d
        for p in f.parents:
            walk(p, d + 1)

    for f in result_features:
        walk(f, 0)

    by_layer: dict[int, list[Stage]] = {}
    for sid, st in stages.items():
        by_layer.setdefault(dist[sid], []).append(st)
    # deepest (furthest from sink) first
    return [by_layer[d] for d in sorted(by_layer, reverse=True)]


def _apply_layer(df: DataFrame, layer: Sequence[Stage]) -> DataFrame:
    """Apply one fitted layer: all column transformers fused in one select,
    then df-level transformers sequentially."""
    col_stages = [s for s in layer if isinstance(s, ColumnTransformer)]
    df_stages = [s for s in layer if isinstance(s, DataFrameTransformer)]
    if col_stages:
        existing = [F.col(c) for c in df.columns]
        df = df.select(*existing, *[s.expr() for s in col_stages])
    for s in df_stages:
        df = s.transform(df)
    return df


@dataclass
class WorkflowModel:
    """Fitted DAG: transformers only (reference OpWorkflowModel)."""

    layers: list[list[Stage]]
    result_features: list[Feature]
    rff: object = None  # RawFeatureFilter result when fit ran with one

    def validate_schema(self, df: DataFrame) -> None:
        """Scoring-schema validation (FeatureSparkTypes.validateSchema,
        features/.../FeatureSparkTypes.scala:580): every stage input that is
        not produced by an earlier layer must exist in the frame with a
        compatible physical type. Raises one error listing ALL problems."""
        produced = {s.output_name for layer in self.layers for s in layer}
        problems: list[str] = []
        have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        numeric = {"double", "float", "bigint", "int", "smallint", "tinyint", "decimal"}
        for layer in self.layers:
            for s in layer:
                for feat in s.inputs:
                    if feat.name in produced:
                        continue
                    if feat.name not in have:
                        problems.append(f"missing column {feat.name!r} "
                                        f"(needed by {s.op_name})")
                        continue
                    want = feat.type_tag.spark_type.simpleString()
                    got = have[feat.name]
                    compatible = (got == want
                                  or (want in numeric and got.split("(")[0] in numeric)
                                  or (want == "string")
                                  or (got.startswith("timestamp") and want == "bigint"))
                    if not compatible:
                        problems.append(f"column {feat.name!r} has type {got}, "
                                        f"{s.op_name} expects {want}")
        if problems:
            raise ValueError("scoring schema mismatch:\n  " + "\n  ".join(problems))

    def score(self, df: DataFrame, keep_intermediate: bool = False) -> DataFrame:
        """The 'SELECT' path (OpWorkflowModel.score, core/.../OpWorkflowModel.scala:261):
        one lazy plan across all layers; Catalyst prunes and fuses."""
        self.validate_schema(df)
        out = df
        for layer in self.layers:
            out = _apply_layer(out, layer)
        if keep_intermediate:
            return out
        keep = [c for c in df.columns] + [f.name for f in self.result_features if f.name not in df.columns]
        return out.select(*[c for c in keep if c in out.columns])

    def transform(self, df: DataFrame) -> DataFrame:
        return self.score(df, keep_intermediate=True)

    def save_scores(self, df: DataFrame, path: str, fmt: str = "parquet",
                    keep_intermediate: bool = False) -> None:
        """saveScores (OpWorkflowModel.scala:383): write scores plus a
        metadata sidecar (result features, their types, and vector slot
        provenance) so downstream consumers can interpret the columns
        without the model object."""
        import json
        import os
        from .sources.layout import write_atomic
        scores = self.score(df, keep_intermediate=keep_intermediate)
        scores.write.mode("overwrite").format(fmt).save(path)
        from .operators.vectorizers import collect_slots
        meta = {"result_features": [
            {"name": f.name, "type": f.type_tag.name,
             "is_response": f.is_response,
             "slots": [
                 {"parent": s.parent, "group": s.group,
                  "indicator_value": s.indicator_value, "descriptor": s.descriptor}
                 for s in collect_slots(self, f.name)]}
            for f in self.result_features]}
        write_atomic(os.path.join(path, "_feature_metadata.json"),
                     json.dumps(meta, indent=2))


class Workflow:
    """DAG of stages reconstructed from result-feature lineage.

    ``fit_sample``: optional fraction — estimators fit on a seeded sample of
    the frame while transforms still apply to the full data. At 100 TB the
    fitted statistics (means, topK values, quantiles) converge long before
    the full pass does; a 1% sample makes every fit job 100x cheaper with
    negligible statistic drift. Leave None (exact fits) when the oracle gate
    or bit-reproducibility across configurations matters.
    """

    def __init__(self, result_features: Sequence[Feature],
                 fit_sample: float | None = None, fit_sample_seed: int = 42,
                 raw_feature_filter: dict | None = None):
        self.result_features = list(result_features)
        self.fit_sample = fit_sample
        self.fit_sample_seed = fit_sample_seed
        # OpWorkflow.withRawFeatureFilter (OpWorkflow.scala:544): optional
        # fit-time raw-feature exclusion config. Keys: min_fill_rate,
        # scoring_df (enables fill-diff + JS-divergence checks on numeric
        # raws), max_fill_rate_diff, max_js_divergence, protected (names
        # never excluded). Stages over excluded raws are dropped; stages
        # with a ``rebuilder`` (vector combiners, batched transmogrify)
        # regenerate over the surviving inputs — the reference's vectorizer
        # regeneration. A result feature that becomes unreachable raises
        # (ResultFeatureRetention.Strict).
        self.rff_config = raw_feature_filter
        # static column pruning: only raw features reachable from results
        # (OpWorkflow.setResultFeatures:93)
        self.raw_features = []
        seen: set[str] = set()
        for f in self.result_features:
            for r in f.raw_features():
                if r.name not in seen:
                    seen.add(r.name)
                    self.raw_features.append(r)

    def fit(self, df: DataFrame) -> WorkflowModel:
        """Layer-by-layer fit (FitStagesUtil.fitAndTransformDAG:212-237).

        Per layer: fit every estimator on the current frame (each fit is a
        distributed agg/ml job), then substitute the fitted transformers and
        apply the whole layer. The frame is cached before a layer that
        contains estimators, since each estimator triggers its own action
        (the reference persists raw data the same way, OpWorkflow.scala:242);
        every cached layer frame is released when the fit returns.
        """
        dag = compute_dag(self.result_features)
        rff_result = None
        if self.rff_config:
            dag, rff_result = self._apply_raw_feature_filter(dag, df)
        fitted_layers: list[list[Stage]] = []
        cur = df
        with cache_scope():
            for layer in dag:
                estimators = [s for s in layer if isinstance(s, Estimator)]
                fit_frame = cur
                if estimators:
                    cur = fit_frame = cached(cur)
                    if self.fit_sample is not None:
                        fit_frame = cur.sample(self.fit_sample,
                                               seed=self.fit_sample_seed)
                fitted_layer: list[Stage] = []
                for s in layer:
                    fitted_layer.append(s.fit(fit_frame)
                                        if isinstance(s, Estimator) else s)
                cur = _apply_layer(cur, fitted_layer)
                fitted_layers.append(fitted_layer)
        return WorkflowModel(layers=fitted_layers,
                             result_features=self.result_features,
                             rff=rff_result)

    def _apply_raw_feature_filter(self, dag, df: DataFrame):
        """Run the RawFeatureFilter checks over this workflow's raw features
        and prune the DAG (OpWorkflow.scala:544 withRawFeatureFilter)."""
        from .operators.preparators import (raw_feature_filter,
                                            raw_feature_filter_full)

        cfg = dict(self.rff_config)
        protected = set(cfg.pop("protected", ()))
        scoring_df = cfg.pop("scoring_df", None)
        min_fill = cfg.pop("min_fill_rate", 0.001)
        max_fill_diff = cfg.pop("max_fill_rate_diff", 0.9)
        max_js = cfg.pop("max_js_divergence", 0.9)
        bins = cfg.pop("bins", 20)
        if cfg:
            raise ValueError(f"unknown raw_feature_filter keys: {sorted(cfg)}")

        raw_names = [r.name for r in self.raw_features if r.name in df.columns]
        if scoring_df is not None:
            numeric = [r.name for r in self.raw_features
                       if r.name in raw_names and r.type_tag.is_numeric]
            # free text -> hashed-token histograms (textBinsFormula path);
            # categorical-tagged strings and the rest of the scalar types ->
            # top-K value profiles
            text = [r.name for r in self.raw_features
                    if r.name in raw_names and r.type_tag.is_text
                    and not r.type_tag.categorical]
            categorical = [
                r.name for r in self.raw_features
                if r.name in raw_names and r.name not in numeric
                and r.name not in text
                and not r.type_tag.is_list and not r.type_tag.is_map]
            other = [c for c in raw_names
                     if c not in numeric and c not in categorical
                     and c not in text]
            result = raw_feature_filter_full(
                df, scoring_df, numeric, min_fill, max_fill_diff, max_js,
                bins, categorical_cols=categorical, text_cols=text)
            fill_only = raw_feature_filter(df, other, min_fill) if other else None
            dropped = set(result.dropped) | set(fill_only.dropped if fill_only else ())
        else:
            result = raw_feature_filter(df, raw_names, min_fill)
            dropped = set(result.dropped)
        dead = {c for c in dropped if c not in protected}

        pruned = []
        for layer in dag:
            new_layer = []
            for st in layer:
                if not any(f.name in dead for f in st.inputs):
                    new_layer.append(st)
                    continue
                survivors = [f for f in st.inputs if f.name not in dead]
                if survivors and st.rebuilder is not None:
                    new_layer.append(st.rebuilder(survivors))
                else:
                    dead.add(st.output_name)
            if new_layer:
                pruned.append(new_layer)
        unreachable = [f.name for f in self.result_features if f.name in dead]
        if unreachable:
            raise ValueError(
                "RawFeatureFilter excluded raw features that result features "
                f"depend on (Strict retention): {unreachable}; excluded={sorted(dead)}")
        return pruned, result

    def fit_score(self, df: DataFrame) -> DataFrame:
        return self.fit(df).score(df)
