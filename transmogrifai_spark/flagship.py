"""Flagship AutoML flow — the reference's README quick-start re-expressed
(/root/reference/README.md:33-57: features -> transmogrify -> sanity check ->
model selection -> evaluation, on our driver testdata instead of Titanic).

Used by ``__spark_entry__.entry`` as the driver smoke query and by tests as
the end-to-end spine exercise.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .feature import from_dataframe
from .ml.evaluators import binary_metrics
from .ml.insights import merged_model_insights
from .ml.selectors import default_binary_candidates, model_selector_stage
from .operators.preparators import sanity_checker
from .operators.vectorizers import collect_slots, transmogrify_batched
from .sources.joins import JoinedAggregateReader, JoinedReader
from .sources.readers import AggSpec, DataReader
from .util import cached, right_size_for_iteration
from .workflow import Workflow


def automl_flagship(spark: SparkSession, sf_dir: str,
                    cv_folds: int = 2) -> tuple[DataFrame, object]:
    """Full spine: joined+aggregated reader -> transmogrify -> sanity check
    -> CV model selection -> score; returns (scores, insights_report)."""
    jr = JoinedReader(left=DataReader(path=f"{sf_dir}/customer.parquet"),
                      right=DataReader(path=f"{sf_dir}/orders.parquet"),
                      left_key="c_custkey", right_key="o_custkey", join_type="left")
    ja = JoinedAggregateReader(
        joined=jr, key_col="c_custkey",
        specs=[
            AggSpec("n_orders", "case when o_orderkey is not null then 1 end", "sum"),
            AggSpec("total_spend", "o_totalprice", "sum_exact"),
            AggSpec("max_order", "o_totalprice", "max"),
            AggSpec("mkt", "c_mktsegment", "max"),
            AggSpec("acctbal", "c_acctbal", "max"),
            AggSpec("label_raw", "o_orderstatus = 'F'", "logical_or", is_response=True),
        ])
    base = ja.generate(spark).withColumn(
        "label", F.coalesce(F.col("label_raw").cast("double"), F.lit(0.0)))

    feats = from_dataframe(
        base, response="label",
        overrides={"mkt": "PickList", "total_spend": "Currency",
                   "acctbal": "Currency", "max_order": "Currency",
                   "n_orders": "Integral"})
    vec = transmogrify_batched(
        [feats["mkt"], feats["total_spend"], feats["acctbal"],
         feats["max_order"], feats["n_orders"]],
        top_k=10, min_support=2)
    checked = sanity_checker(vec, feats["label"], max_correlation=0.99)

    # model selection is a STAGE in the same DAG (ModelSelector.scala:90):
    # CV + winner refit happen inside Workflow.fit and the winning model's
    # params are exported into the serving registry — the entire fitted
    # flagship (feature prep AND model) persists as ONE manifest and scores
    # Spark-free
    sel_stage = model_selector_stage(
        checked.output, feats["label"], feats["key"],
        candidates=default_binary_candidates(small=True), k=cv_folds)

    # withRawFeatureFilter in the same fit (OpWorkflow.scala:544): raw
    # features failing the fill-rate check would be excluded and their
    # vectorizer slots regenerated away before any estimator fits
    model = Workflow([sel_stage.output],
                     raw_feature_filter={"min_fill_rate": 0.001}).fit(
        right_size_for_iteration(base, rows_per_partition=25_000))
    scored = cached(model.score(base, keep_intermediate=True))

    # slot metadata: combined slots filtered by the sanity checker's keep set
    all_slots = collect_slots(model, "features")
    fitted_checker = checked.fitted
    keep = fitted_checker.params.get("keep", []) if fitted_checker else []
    kept_slots = [all_slots[i] for i in keep if i < len(all_slots)]

    evaluation = binary_metrics(scored, "score", "label")
    # the MERGED insights document (ModelInsights.scala:74): provenance +
    # sanity-checker stats + leaderboard + holdout evaluation in one report
    report = merged_model_insights(
        sel_stage.fitted.selected, kept_slots, label_name="label",
        train_rows=scored.count(),
        sanity_params=(fitted_checker.params if fitted_checker else None),
        rff_result=model.rff,
        evaluation=evaluation)

    out = scored.select("key", "label",
                        F.round(F.col("score"), 6).alias("score"),
                        (F.col("score") >= 0.5).cast("double").alias("prediction"))
    return out, report


def entry_frame(spark: SparkSession) -> DataFrame:
    scores, _ = automl_flagship(spark, "/root/testdata/sf0.001")
    return scores
