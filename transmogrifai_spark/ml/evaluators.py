"""Evaluators (SURVEY.md §2.11) — every metric a distributed aggregation.

Re-expression of:
  * OpBinaryClassificationEvaluator  core/.../evaluators/
    OpBinaryClassificationEvaluator.scala:56 — AuROC, AuPR, precision,
    recall, F1, error rate + confusion counts
  * OpBinScoreEvaluator  OpBinScoreEvaluator.scala:53 — calibration bins,
    Brier score
  * OpMultiClassificationEvaluator  OpMultiClassificationEvaluator.scala:59 —
    accuracy, per-class + macro P/R/F1, top-N correctness
  * OpRegressionEvaluator  OpRegressionEvaluator.scala:55 — RMSE, MAE, R²,
    MAPE
  * OpForecastEvaluator  OpForecastEvaluator.scala:59 — SMAPE
  * OPLogLoss  core/.../impl/evaluator/OPLogLoss.scala

Scale notes: AuROC uses the grouped-score average-rank (Mann-Whitney) form —
the shuffle carries one row per DISTINCT score, not per example; confusion /
moment metrics are single ``df.agg`` passes. Nothing collects per-row data
to the driver.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..util import cache_scope


def auroc(df: DataFrame, score_col: str, label_col: str) -> float:
    """Exact AuROC via Mann-Whitney U with average ranks for ties.

    Plan: group by score (one row per distinct score with n / n_pos), order
    by score, running ranks via a window over the grouped rows, then
    U = sum(avg_rank * n_pos) - P(P+1)/2, AUC = U / (P*N). The ranked
    table cached by ``counts_below`` is released once the terms are read
    (model selection calls this per candidate x fold)."""
    with cache_scope():
        row = _auroc_terms(df, score_col, label_col).first()
    P, N = int(row["P"] or 0), int(row["N"] or 0)
    if P == 0 or N == 0:
        return 0.0
    # all-integer numerators -> exact, order-independent; one final division
    u2 = int(row["rank_pos2"]) - P * (P + 1)  # 2*U
    return u2 / (2.0 * P * N)


def _auroc_terms(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Integer Mann-Whitney terms: rank_pos2 = sum over distinct scores of
    (2*count_below + n + 1) * n_pos  ==  2 * sum(avg_rank * n_pos).
    Keeping the numerator integral makes AUC bit-identical at any
    parallelism (double summation of .5-ranks would be order-dependent)."""
    from ..util import counts_below
    g = (df.select(F.col(score_col).cast("double").alias("s"),
                   F.col(label_col).cast("double").alias("y"))
         .where(F.col("s").isNotNull() & F.col("y").isNotNull())
         .groupBy("s")
         .agg(F.count(F.lit(1)).alias("n"), F.sum("y").cast("long").alias("np")))
    # range-partitioned parallel rank windows (no single-partition global
    # Window.orderBy) — survives continuous scores where every value is
    # distinct and the grouped table is as large as the input
    ranked = counts_below(g, "s", "n")
    return ranked.agg(
        F.sum((2 * F.col("below") + F.col("n") + 1) * F.col("np")).alias("rank_pos2"),
        F.sum("np").alias("P"),
        F.sum(F.col("n") - F.col("np")).alias("N"),
    )


def binary_metrics(df: DataFrame, score_col: str, label_col: str,
                   threshold: float = 0.5) -> dict:
    """Confusion-matrix metrics at a threshold + AuROC + Brier + log-loss
    (OpBinaryClassificationEvaluator surface)."""
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    pred = (s >= threshold).cast("double")
    eps = 1e-15
    clipped = F.greatest(F.least(s, F.lit(1 - eps)), F.lit(eps))
    row = df.agg(
        F.sum(((pred == 1) & (y == 1)).cast("long")).alias("tp"),
        F.sum(((pred == 1) & (y == 0)).cast("long")).alias("fp"),
        F.sum(((pred == 0) & (y == 1)).cast("long")).alias("fn"),
        F.sum(((pred == 0) & (y == 0)).cast("long")).alias("tn"),
        F.avg(F.pow(s - y, 2)).alias("brier"),
        F.avg(-(y * F.log(clipped) + (1 - y) * F.log(1 - clipped))).alias("logloss"),
    ).first()
    tp, fp, fn, tn = (row[k] or 0 for k in ("tp", "fp", "fn", "tn"))
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    total = tp + fp + fn + tn
    return {
        "auroc": auroc(df, score_col, label_col),
        "precision": precision, "recall": recall, "f1": f1,
        "error": (fp + fn) / total if total else 0.0,
        "tp": tp, "fp": fp, "fn": fn, "tn": tn,
        "brier": float(row["brier"]) if row["brier"] is not None else 0.0,
        "logloss": float(row["logloss"]) if row["logloss"] is not None else 0.0,
    }


def multiclass_metrics(df: DataFrame, pred_col: str, label_col: str,
                       prob_col: str | None = None, top_ns: tuple[int, ...] = (1, 3)) -> dict:
    """OpMultiClassificationEvaluator.scala:59 — accuracy, macro P/R/F1,
    and top-N correctness when a probability array column is given."""
    p = F.col(pred_col).cast("double")
    y = F.col(label_col).cast("double")
    per_class = (df.groupBy(y.alias("cls"))
                 .agg(F.count(F.lit(1)).alias("support"),
                      F.sum((p == y).cast("long")).alias("tp")).collect())
    pred_counts = {r["cls"]: r["n"] for r in
                   df.groupBy(p.alias("cls")).agg(F.count(F.lit(1)).alias("n")).collect()}
    precs, recs, f1s = [], [], []
    total = correct = 0
    for r in per_class:
        tp, support = r["tp"], r["support"]
        total += support
        correct += tp
        prec = tp / pred_counts.get(r["cls"], 0) if pred_counts.get(r["cls"]) else 0.0
        rec = tp / support if support else 0.0
        precs.append(prec)
        recs.append(rec)
        f1s.append(2 * prec * rec / (prec + rec) if prec + rec else 0.0)
    out = {
        "accuracy": correct / total if total else 0.0,
        "macro_precision": sum(precs) / len(precs) if precs else 0.0,
        "macro_recall": sum(recs) / len(recs) if recs else 0.0,
        "macro_f1": sum(f1s) / len(f1s) if f1s else 0.0,
    }
    if prob_col is not None:
        for n in top_ns:
            # label's probability is among the top-n probabilities
            probs = F.col(prob_col)
            label_p = F.try_element_at(probs, y.cast("int") + 1)
            nth = F.try_element_at(F.array_sort(probs, lambda a, b: F.when(a > b, -1)
                                                .when(a < b, 1).otherwise(0)),
                                   F.lit(n))
            hit = (label_p >= nth).cast("long")
            out[f"top{n}_accuracy"] = (df.agg(F.avg(hit)).first()[0]) or 0.0
    return out


def multiclass_metrics_frame(df: DataFrame, pred_col: str, label_col: str,
                             prob_col: str | None = None,
                             top_ns: tuple[int, ...] = (1, 3)) -> DataFrame:
    """One-row DataFrame form of multiclass_metrics
    (OpMultiClassificationEvaluator.scala:59), fully distributed — no driver
    collect. Exact integer numerators where possible (n_correct, n_rows,
    topN hit counts); macro P/R/F1 are per-class double averages, rounded to
    6dp (the float-association boundary, same convention as the libm
    roundings in driver_queries)."""
    p = F.col(pred_col).cast("double")
    y = F.col(label_col).cast("double")
    per_class = (df.groupBy(y.alias("cls"))
                 .agg(F.count(F.lit(1)).alias("support"),
                      F.sum((p == y).cast("long")).alias("tp")))
    pred_counts = df.groupBy(p.alias("cls")).agg(
        F.count(F.lit(1)).alias("pred_n"))
    j = per_class.join(pred_counts, "cls", "left").select(
        "support", "tp", F.coalesce(F.col("pred_n"), F.lit(0)).alias("pred_n"))
    prec = F.when(F.col("pred_n") > 0,
                  F.col("tp") / F.col("pred_n")).otherwise(F.lit(0.0))
    rec = F.when(F.col("support") > 0,
                 F.col("tp") / F.col("support")).otherwise(F.lit(0.0))
    f1 = F.when(prec + rec > 0,
                2 * prec * rec / (prec + rec)).otherwise(F.lit(0.0))
    stats = j.agg(
        F.sum("tp").alias("n_correct"),
        F.sum("support").alias("n_rows"),
        F.round(F.avg(prec), 6).alias("macro_precision6"),
        F.round(F.avg(rec), 6).alias("macro_recall6"),
        F.round(F.avg(f1), 6).alias("macro_f16"))
    if prob_col is None:
        return stats
    probs = F.col(prob_col)
    label_p = F.try_element_at(probs, y.cast("int") + 1)
    desc = F.array_sort(probs, lambda a, b: F.when(a > b, -1)
                        .when(a < b, 1).otherwise(0))
    tops = df.agg(*[
        F.sum((label_p >= F.try_element_at(desc, F.lit(n))).cast("long"))
        .alias(f"top{n}_hits") for n in top_ns])
    return stats.crossJoin(tops)


def regression_metrics(df: DataFrame, pred_col: str, label_col: str) -> dict:
    """OpRegressionEvaluator.scala:55 — RMSE / MAE / R² / MAPE, single pass."""
    p = F.col(pred_col).cast("double")
    y = F.col(label_col).cast("double")
    row = df.agg(
        F.sqrt(F.avg(F.pow(p - y, 2))).alias("rmse"),
        F.avg(F.abs(p - y)).alias("mae"),
        F.avg(y).alias("ybar"),
        F.sum(F.pow(p - y, 2)).alias("ss_res"),
        F.count(F.lit(1)).alias("n"),
        F.avg(F.when(y != 0, F.abs((p - y) / y))).alias("mape"),
    ).first()
    ss_tot = df.agg(F.sum(F.pow(y - F.lit(row["ybar"]), 2))).first()[0]
    r2 = 1.0 - (row["ss_res"] / ss_tot) if ss_tot else 0.0
    return {"rmse": float(row["rmse"] or 0), "mae": float(row["mae"] or 0),
            "r2": float(r2), "mape": float(row["mape"] or 0)}


def smape(df: DataFrame, pred_col: str, label_col: str) -> float:
    """OpForecastEvaluator.scala:59 — symmetric MAPE in [0, 2]."""
    p = F.col(pred_col).cast("double")
    y = F.col(label_col).cast("double")
    denom = (F.abs(p) + F.abs(y))
    row = df.agg(F.avg(F.when(denom != 0, 2 * F.abs(p - y) / denom).otherwise(0.0))).first()
    return float(row[0] or 0.0)


def forecast_metrics(df: DataFrame, pred_col: str, label_col: str,
                     time_col: str, seasonal_window: int = 1,
                     series_col: str | None = None) -> dict:
    """OpForecastEvaluator.scala:83-120 — SMAPE + SeasonalError + MASE.

    The reference takes the series to the driver (``take(maxItems)``) and
    loops; here the seasonal-naive error uses ``lead(label, window)`` over
    event-time order, so the whole computation is one window + one
    aggregate. Pass ``series_col`` for per-series forecasts — the window
    partitions by series and stays parallel (a global single-series order
    funnels one sort partition, exactly like the reference's take)."""
    from pyspark.sql.window import Window

    if seasonal_window <= 0:
        raise ValueError("seasonal_window must be positive")
    p = F.col(pred_col).cast("double")
    y = F.col(label_col).cast("double")
    w = (Window.partitionBy(series_col) if series_col else
         Window.partitionBy()).orderBy(F.col(time_col))
    y_seasonal = F.lead(y, seasonal_window).over(w)
    denom = F.abs(p) + F.abs(y)
    row = df.select(
        y.alias("_y"), p.alias("_p"), y_seasonal.alias("_ys"),
        F.when(denom != 0, F.abs(p - y) / denom).otherwise(0.0).alias("_sm"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.abs(F.col("_y") - F.col("_p"))).alias("abs_diff"),
        F.sum("_sm").alias("smape_sum"),
        F.sum(F.abs(F.col("_y") - F.col("_ys"))).alias("seasonal_abs"),
        F.count("_ys").alias("seasonal_n"),
    ).first()
    n = int(row["n"] or 0)
    seasonal_n = int(row["seasonal_n"] or 0)
    seasonal_error = (float(row["seasonal_abs"]) / seasonal_n
                      if seasonal_n else 0.0)
    mase_denom = seasonal_error * n
    return {
        "SMAPE": 2 * float(row["smape_sum"]) / n if n else 0.0,
        "SeasonalError": seasonal_error,
        "MASE": (float(row["abs_diff"]) / mase_denom) if mase_denom > 0 else 0.0,
    }


def auroc_frame(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """AuROC as a one-row DataFrame (for the oracle gate); exact integer
    numerator, single final double division."""
    t = _auroc_terms(df, score_col, label_col)
    return t.select(
        ((F.col("rank_pos2") - F.col("P") * (F.col("P") + 1)).cast("double")
         / (2.0 * F.col("P") * F.col("N"))).alias("auroc"))
