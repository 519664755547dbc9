"""``model``: train an AutoML workflow, then score with it three ways.

One operation is TransmogrifAI's whole life cycle on generated customers and
events: conditional + joined readers -> transmogrify -> sanity check -> CV
model selection (2 candidates, 2 folds) -> Workflow.fit -> holdout AUC ->
save_model -> load_model + compile_local, then the fitted model scores a
raw frame in batch to parquet, the same files as a stream of several
micro-batches, and records one at a time without Spark. About 10^4 keys, so
driver round-trips and per-job fixed cost dominate the fit; the scoring is
column expressions over many rows with no fits, plus writes, streaming and
a Spark-free path.
"""
from __future__ import annotations

import glob
import math
import os
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transmogrifai_spark.feature import from_dataframe
from transmogrifai_spark.ml.evaluators import auroc
from transmogrifai_spark.ml.selectors import model_selector_stage, split_by_key
from transmogrifai_spark.operators.preparators import sanity_checker
from transmogrifai_spark.operators.vectorizers import transmogrify_batched
from transmogrifai_spark.serving.local import compile_local
from transmogrifai_spark.serving.persistence import load_model, save_model
from transmogrifai_spark.sources.joins import JoinedReader
from transmogrifai_spark.sources.readers import (AggSpec, ConditionalDataReader,
                                                 DataReader, InlineReader)
from transmogrifai_spark.streaming.windows import file_stream, score_stream
from transmogrifai_spark.util import right_size_for_iteration
from transmogrifai_spark.workflow import Workflow

from .gen import DAY_US, model_inputs
from .trace import EventLog, Tracer

# a model with no signal scores 0.5; the planted propensity gives ~0.86
AUC_FLOOR = 0.70
CANDIDATES = [
    ("LogisticRegression", {"regParam": 0.01, "maxIter": 20}),
    ("LogisticRegression", {"regParam": 0.1, "maxIter": 20}),
]
FEATURE_TYPES = {"segment": "PickList", "balance": "Real", "tenure": "Integral",
                 "signup_day": "Date", "n_clicks": "Integral",
                 "spend": "Real", "last_day": "Date"}
LOCAL_RECORDS = 2_000
AGREE_SAMPLE = 200
FILES_PER_BATCH = 2


def _read_parquet(path: str, columns: list[str]):
    """The parquet part files Spark wrote under ``path``."""
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    return pa.concat_tables(pq.read_table(f, columns=columns) for f in files)


def _pct(xs: list[float], q: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, int(math.ceil(q * len(s))) - 1)]


class Model:
    name = "model"
    generate = staticmethod(model_inputs)
    warm_size = 1_000          # keys of the warm-up inputs

    def __init__(self, inputs: str, work: str, truth, record: str | None):
        self.inputs, self.work, self.truth = inputs, work, truth
        self.aucs: list[float] = []
        self.rows: list[int] = []
        self.local_lat: list[list[float]] = []   # per op, us per record
        self.stream_progress: list[list[dict]] = []
        table = pq.read_table(os.path.join(inputs, "raw")) \
            .slice(0, LOCAL_RECORDS)
        self.records = table.to_pylist()

    def setup(self, spark: SparkSession, tracer: Tracer) -> None:
        """Nothing beyond the session: the readers are planned per fit."""

    def quality(self) -> float:
        """Holdout AUC of the selected model."""
        return statistics.median(self.aucs)

    def report(self) -> dict:
        t = self.truth
        return {"properties": {
            "customers": t.n_customers, "events": t.n_events,
            "keys_with_condition": t.n_with_condition,
            "positive_frac": t.positive_frac, "raw_rows": t.n_raw,
            "raw_files": t.raw_files, "local_records": LOCAL_RECORDS},
            "auc_floor": AUC_FLOOR, "aucs": self.aucs,
            "local_score_samples_per_op": LOCAL_RECORDS,
            "local_p50_us": [_pct(x, 0.50) for x in self.local_lat],
            "local_p99_us": [_pct(x, 0.99) for x in self.local_lat],
            "stream_batches": [len(p) for p in self.stream_progress]}

    def read(self, spark: SparkSession, tracer: Tracer) -> DataFrame:
        events = ConditionalDataReader(
            reader=DataReader(path=os.path.join(self.inputs, "events")),
            key_col="cust_id", time_col="ts", condition="kind = 'visit'",
            specs=[
                AggSpec("n_clicks", "case when kind = 'click' then 1 end", "sum"),
                AggSpec("spend", "case when kind = 'purchase' then amount end",
                        "sum"),
                AggSpec("last_ts", "ts", "max"),
                AggSpec("label_raw", "kind = 'purchase'", "logical_or",
                        is_response=True)])
        with tracer.span("sources", "read"):
            joined = JoinedReader(
                left=DataReader(path=os.path.join(self.inputs, "customers")),
                right=InlineReader(events.generate(spark)),
                left_key="cust_id", right_key="key",
                join_type="inner").generate(spark)
            base = joined.select(
                F.col("key").cast("string").alias("key"), "segment",
                "balance", "tenure", "signup_day", "n_clicks", "spend",
                # integer division: float epoch arithmetic is exact only
                # below 2^53 micros
                F.expr(f"unix_micros(last_ts) div {DAY_US}").alias("last_day"),
                F.coalesce(F.col("label_raw").cast("double"),
                           F.lit(0.0)).alias("label")).persist()
            self.rows.append(base.count())
        return base

    def fit(self, df: DataFrame, tracer: Tracer):
        """transmogrify -> sanity check -> model selection, fitted as one
        workflow (the README quick-start spine)."""
        feats = from_dataframe(df, response="label", overrides=FEATURE_TYPES)
        vec = transmogrify_batched([feats[c] for c in FEATURE_TYPES],
                                   top_k=10, min_support=2)
        checked = sanity_checker(vec, feats["label"], max_correlation=0.99)
        sel = model_selector_stage(checked.output, feats["label"], feats["key"],
                                   candidates=CANDIDATES, k=2)
        with tracer.span("workflow", "fit"):
            return Workflow([sel.output],
                            raw_feature_filter={"min_fill_rate": 0.001}) \
                .fit(right_size_for_iteration(df, rows_per_partition=25_000))

    def _local(self, tracer: Tracer, local) -> tuple[list, list]:
        scored, lat = [], []
        with tracer.span("serving", "local_score"):
            for rec in self.records:
                t0 = time.perf_counter_ns()
                scored.append(local(rec)["score"])
                lat.append((time.perf_counter_ns() - t0) / 1000.0)
        return scored, lat

    def op(self, spark: SparkSession, tracer: Tracer) -> dict:
        """Train, save, load, then score: {operation: failed checks}."""
        base = self.read(spark, tracer)
        fit_df, holdout = split_by_key(base, "key", test_fraction=0.25)
        model = self.fit(fit_df, tracer)
        with tracer.span("ml", "evaluate"):
            auc = auroc(model.score(holdout), "score", "label")
        model_dir = os.path.join(self.work, "model")
        with tracer.span("serving", "save"):
            save_model(model, model_dir)
        with tracer.span("serving", "load"):
            model = load_model(model_dir)
        with tracer.span("serving", "compile"):
            local = compile_local(model)
        base.unpersist()

        raw_dir = os.path.join(self.inputs, "raw")
        out_batch = os.path.join(self.work, "scores-batch")
        out_stream = os.path.join(self.work, "scores-stream")
        for d in (out_batch, out_stream, out_stream + "-chk"):
            shutil.rmtree(d, ignore_errors=True)
        raw = spark.read.parquet(raw_dir)
        with tracer.span("workflow", "save_scores"):
            model.save_scores(raw, out_batch)
        with tracer.span("streaming", "score_stream"):
            stream = file_stream(spark, raw_dir,
                                 max_files_per_trigger=FILES_PER_BATCH)
            # the same columns as the batch output: raw columns plus score
            q = (score_stream(stream, model)
                 .select(*stream.columns, "score").writeStream
                 .format("parquet").option("path", out_stream)
                 .option("checkpointLocation", out_stream + "-chk")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        scored, lat = self._local(tracer, local)
        self.local_lat.append(lat)
        self.stream_progress.append(q.recentProgress)
        self.aucs.append(auc)
        return self._check(auc, out_batch, out_stream, scored)

    def _check(self, auc, out_batch, out_stream, scored) -> dict:
        """The outputs are read back with pyarrow, so the checks run no
        Spark job."""
        res = {"fit": [], "batch": [], "stream": [], "local": []}
        if not auc > AUC_FLOOR:
            res["fit"].append(f"holdout AUC {auc:.4f} <= floor {AUC_FLOOR}")
        if self.rows[-1] != self.truth.n_with_condition:
            res["fit"].append(f"reader rows {self.rows[-1]} != "
                              f"{self.truth.n_with_condition} keys with a visit")
        n = self.truth.n_raw
        batch = _read_parquet(out_batch, ["key", "score"])
        if batch.num_rows != n:
            res["batch"].append(f"batch wrote {batch.num_rows} rows, "
                                f"input has {n}")
        if (got := _read_parquet(out_stream, ["key"]).num_rows) != n:
            res["stream"].append(f"stream wrote {got} rows, input has {n}")
        spark_scores = dict(zip(batch["key"].to_pylist(),
                                batch["score"].to_pylist()))
        for i in range(0, LOCAL_RECORDS, LOCAL_RECORDS // AGREE_SAMPLE):
            key, v = self.records[i]["key"], scored[i]
            if key not in spark_scores or not math.isclose(
                    spark_scores[key], v, rel_tol=1e-9):
                res["local"].append(f"key {key}: local {v} vs spark "
                                    f"{spark_scores.get(key)}")
        return res

    def traced_report(self, tracer: Tracer, log: EventLog,
                      n_ops: int) -> dict:
        """Workload-specific detail of a traced run, for the report."""
        fit = [s for s in tracer.spans if s.group.endswith("/workflow/fit")]
        fit_jobs = log.group("model/workflow/fit")
        driver = (sum(s.wall for s in fit) - fit_jobs.job_wall_s) / n_ops
        op = statistics.median(tracer.op_walls())
        triggers = [p["durationMs"]["triggerExecution"]
                    for prog in self.stream_progress for p in prog]
        batch = log.group("model/workflow/save_scores")
        return {
            "workflow_fit_driver_share": {
                "fit_driver_s": driver, "op_s": op, "share": driver / op,
                "base": "traced op wall (median over ops)"},
            "fit_jobs_by_module": {m: len(js.jobs) / n_ops for m, js in
                                   log.modules("model/workflow/fit").items()},
            "reader_rows_out": self.rows[-1],
            "batch_input_bytes": batch.input_bytes / n_ops,
            "batch_write_bytes": batch.write_bytes / n_ops,
            "stream_batches_per_op": len(triggers) / n_ops,
            "stream_batch_p50_ms": statistics.median(triggers),
            "local_p50_us": statistics.median(
                _pct(x, 0.50) for x in self.local_lat),
            "local_p99_us": statistics.median(
                _pct(x, 0.99) for x in self.local_lat)}
