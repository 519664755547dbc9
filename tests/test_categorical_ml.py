"""String indexer, smart text vectorizer, MIME sniffing, evaluators,
splitters/balancer/cutter, model selection, insights, LOCO."""
import base64
import math

import pytest
from pyspark.sql import functions as F

from transmogrifai_spark.feature import from_dataframe
from transmogrifai_spark.ml.evaluators import (auroc, binary_metrics,
                                               multiclass_metrics,
                                               regression_metrics, smape)
from transmogrifai_spark.ml.selectors import (balance_binary, cut_multiclass,
                                              default_binary_candidates,
                                              kfold_by_key,
                                              select_binary_model, split_by_key)
from transmogrifai_spark.operators.categorical import (detect_mime_type,
                                                       index_to_string,
                                                       smart_text_vectorizer,
                                                       string_indexer)


def test_string_indexer_deterministic_order(spark):
    df = spark.createDataFrame([("b",), ("b",), ("a",), ("c",), ("c",)], "x string")
    f = from_dataframe(df, overrides={"x": "PickList"})["x"]
    fitted = string_indexer(f).fit(df)
    # freq desc, value asc: b(2), c(2) tie -> b < c, then a
    assert fitted.params["labels"] == ["b", "c", "a"]
    vals = {r["x"]: r["x_idx"] for r in df.select("x", fitted.expr()).collect()}
    assert vals == {"b": 0, "c": 1, "a": 2}


def test_string_indexer_unseen_and_inverse(spark):
    train = spark.createDataFrame([("a",), ("b",)], "x string")
    test = spark.createDataFrame([("a",), ("z",), (None,)], "x string")
    f = from_dataframe(train, overrides={"x": "PickList"})["x"]
    fitted = string_indexer(f, handle_invalid="keep").fit(train)
    out = [r["x_idx"] for r in test.select(fitted.expr()).collect()]
    assert out == [0, 2, 2]  # unseen and null -> keep bucket (max index)
    inv = index_to_string(fitted.output, fitted.params["labels"])
    back = [r["x_idx_label"] for r in
            test.select(fitted.expr()).select(inv._make_expr(F.col("x_idx")).alias("x_idx_label")).collect()]
    assert back == ["a", "UnseenLabel", "UnseenLabel"]


def test_smart_text_pivot_vs_hash(spark):
    low_card = spark.createDataFrame([(f"v{i % 3}",) for i in range(60)], "x string")
    f = from_dataframe(low_card, overrides={"x": "Text"})["x"]
    fitted = smart_text_vectorizer(f, max_cardinality=10).fit(low_card)
    assert fitted.params["strategy"] == "pivot"

    high_card = spark.createDataFrame([(f"word{i} text{i*7}",) for i in range(300)], "x string")
    f2 = from_dataframe(high_card, overrides={"x": "Text"})["x"]
    fitted2 = smart_text_vectorizer(f2, max_cardinality=10, coverage_pct=0.9,
                                    hash_features=32).fit(high_card)
    assert fitted2.params["strategy"] == "hash"
    v = high_card.select(fitted2.expr()).first()["x_vec"]
    assert len(v) == 32 and sum(v) == 2.0  # two tokens hashed


def test_mime_detection(spark):
    png = base64.b64encode(bytes.fromhex("89504e470d0a1a0a") + b"xxxx").decode()
    jpg = base64.b64encode(bytes.fromhex("ffd8ffe0") + b"xxxx").decode()
    pdf = base64.b64encode(b"%PDF-1.4 xxxx").decode()
    txt = base64.b64encode(b"hello world").decode()
    df = spark.createDataFrame([(png,), (jpg,), (pdf,), (txt,), (None,)], "b64 string")
    out = [r["m"] for r in df.select(detect_mime_type(F.col("b64")).alias("m")).collect()]
    assert out == ["image/png", "image/jpeg", "application/pdf",
                   "application/octet-stream", None]


def test_mime_riff_containers_disambiguate(spark):
    """RIFF is a container: bytes 8-11 decide wav vs avi vs webp; a RIFF
    header with an unknown subtype is NOT claimed as audio."""
    def riff(subtype: bytes) -> str:
        return base64.b64encode(b"RIFF\x24\x00\x00\x00" + subtype + b"data").decode()
    df = spark.createDataFrame(
        [(riff(b"WAVE"),), (riff(b"AVI "),), (riff(b"WEBP"),), (riff(b"XXXX"),)],
        "b64 string")
    out = [r["m"] for r in df.select(detect_mime_type(F.col("b64")).alias("m")).collect()]
    assert out == ["audio/wav", "video/x-msvideo", "image/webp",
                   "application/octet-stream"]


def test_mime_breadth(spark):
    cases = [
        (b"GIF89a" + b"x" * 8, "image/gif"),
        (bytes.fromhex("1f8b08") + b"x" * 8, "application/gzip"),
        (bytes.fromhex("377abcaf271c") + b"x" * 8, "application/x-7z-compressed"),
        (b"Rar!\x1a\x07\x00" + b"x" * 8, "application/x-rar-compressed"),
        (bytes.fromhex("49492a00") + b"x" * 8, "image/tiff"),
        (bytes.fromhex("4d4d002a") + b"x" * 8, "image/tiff"),
        (b"ID3\x03\x00" + b"x" * 8, "audio/mpeg"),
        (b"OggS\x00" + b"x" * 8, "audio/ogg"),
        (b"fLaC\x00" + b"x" * 8, "audio/flac"),
        (b"\x00\x00\x00\x18ftypmp42" + b"x" * 8, "video/mp4"),  # ftyp @ offset 4
        (bytes.fromhex("1a45dfa3") + b"x" * 8, "video/x-matroska"),
        (b"\x7fELF\x02\x01" + b"x" * 8, "application/x-elf"),
        (b"<?xml version='1.0'?>", "application/xml"),
        (b"BM\x36\x00" + b"x" * 8, "image/bmp"),
        (b"MZ\x90\x00" + b"x" * 8, "application/x-msdownload"),
        (b"PK\x03\x04" + b"x" * 8, "application/zip"),
        # specific ISO-BMFF brands outrank the generic ftyp -> mp4 row
        (b"\x00\x00\x00\x18ftypavif" + b"x" * 8, "image/avif"),
        (b"\x00\x00\x00\x18ftypheic" + b"x" * 8, "image/heic"),
        (b"\x00\x00\x00\x18ftypM4A " + b"x" * 8, "audio/mp4"),
        (b"\x00\x00\x00\x18ftypqt  " + b"x" * 8, "video/quicktime"),
        (b"FORM\x00\x00\x00\x24AIFF" + b"x" * 8, "audio/aiff"),
        (b"MThd\x00\x00\x00\x06" + b"x" * 8, "audio/midi"),
        (bytes.fromhex("fd377a585a00") + b"x" * 8, "application/x-xz"),
        (bytes.fromhex("28b52ffd") + b"x" * 8, "application/zstd"),
        (b"BZh91AY" + b"x" * 8, "application/x-bzip2"),
        (bytes.fromhex("04224d18") + b"x" * 8, "application/x-lz4"),
        (b"x" * 257 + b"ustar\x0000" + b"x" * 8, "application/x-tar"),
        (b"SQLite format 3\x00" + b"x" * 8, "application/vnd.sqlite3"),
        (b"wOFF\x00\x01\x00\x00" + b"x" * 8, "font/woff"),
        (b"wOF2\x00\x01\x00\x00" + b"x" * 8, "font/woff2"),
        (bytes.fromhex("0000000c6a5020200d0a870a") + b"x" * 8, "image/jp2"),
        (bytes.fromhex("0061736d01000000") + b"x" * 8, "application/wasm"),
        (bytes.fromhex("cafebabe00000041") + b"x" * 8, "application/java-vm"),
        (b"PAR1" + b"x" * 8, "application/vnd.apache.parquet"),
        (b"ORC\x00" + b"x" * 8, "application/vnd.apache.orc"),
        (b"Obj\x01\x04" + b"x" * 8, "application/avro"),
        (b"%!PS-Adobe-3.0" + b"x" * 8, "application/postscript"),
        (b"{\\rtf1\\ansi" + b"x" * 8, "application/rtf"),
    ]
    df = spark.createDataFrame(
        [(base64.b64encode(raw).decode(),) for raw, _ in cases], "b64 string")
    out = [r["m"] for r in df.select(detect_mime_type(F.col("b64")).alias("m")).collect()]
    assert out == [want for _, want in cases]


# -- evaluators -------------------------------------------------------------

def test_auroc_hand_computed(spark):
    # scores: pos {0.9, 0.8}, neg {0.7, 0.6} -> perfect separation
    df = spark.createDataFrame([(0.9, 1.0), (0.8, 1.0), (0.7, 0.0), (0.6, 0.0)], "s double, y double")
    assert auroc(df, "s", "y") == 1.0
    # one inversion: auc = 3/4; with the tie -> 0.75 exactly
    df2 = spark.createDataFrame([(0.9, 1.0), (0.6, 1.0), (0.7, 0.0), (0.5, 0.0)], "s double, y double")
    assert auroc(df2, "s", "y") == 0.75
    # ties get average rank: all same score -> 0.5
    df3 = spark.createDataFrame([(0.5, 1.0), (0.5, 0.0), (0.5, 1.0), (0.5, 0.0)], "s double, y double")
    assert auroc(df3, "s", "y") == 0.5


def test_binary_metrics(spark):
    df = spark.createDataFrame(
        [(0.9, 1.0), (0.8, 0.0), (0.3, 1.0), (0.1, 0.0)], "s double, y double")
    m = binary_metrics(df, "s", "y")
    assert (m["tp"], m["fp"], m["fn"], m["tn"]) == (1, 1, 1, 1)
    assert m["precision"] == 0.5 and m["recall"] == 0.5 and m["f1"] == 0.5
    assert m["auroc"] == 0.75
    assert 0 < m["brier"] < 1 and m["logloss"] > 0


def test_multiclass_metrics(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0), (1.0, 1.0), (2.0, 2.0), (0.0, 1.0)], "p double, y double")
    m = multiclass_metrics(df, "p", "y")
    assert m["accuracy"] == 0.75
    assert 0 < m["macro_f1"] <= 1.0


def test_regression_metrics(spark):
    df = spark.createDataFrame([(1.0, 1.0), (2.0, 3.0), (4.0, 3.0)], "p double, y double")
    m = regression_metrics(df, "p", "y")
    assert m["mae"] == pytest.approx(2 / 3)
    assert m["rmse"] == pytest.approx(math.sqrt(2 / 3))
    assert m["r2"] < 1.0
    df_perfect = spark.createDataFrame([(1.0, 1.0), (3.0, 3.0)], "p double, y double")
    assert regression_metrics(df_perfect, "p", "y")["r2"] == 1.0
    assert smape(df_perfect, "p", "y") == 0.0


# -- splitters / balancer / cutter -----------------------------------------

def test_split_by_key_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], "k bigint")
    tr1, te1 = split_by_key(df, "k", 0.25)
    tr2, te2 = split_by_key(df, "k", 0.25)
    assert te1.count() == te2.count()
    assert tr1.count() + te1.count() == 1000
    assert 150 < te1.count() < 350  # ~25%


def test_kfold_partitions_everything(spark):
    df = spark.createDataFrame([(i,) for i in range(300)], "k bigint")
    folds = list(kfold_by_key(df, "k", k=3))
    assert sum(v.count() for _, v in folds) == 300
    for train, valid in folds:
        assert train.count() + valid.count() == 300


def test_balance_binary(spark):
    rows = [(i, 1.0 if i < 50 else 0.0) for i in range(1000)]  # 5% positive
    df = spark.createDataFrame(rows, "k bigint, y double")
    out = balance_binary(df, "y", target_fraction=0.5, seed=42)
    counts = {r["y"]: r["n"] for r in out.groupBy("y").agg(F.count(F.lit(1)).alias("n")).collect()}
    # negatives down-sampled to ~= positives
    assert counts[1.0] == 50
    assert counts[0.0] < 120


def test_cut_multiclass(spark):
    rows = [("a",)] * 50 + [("b",)] * 40 + [("c",)] * 2
    df = spark.createDataFrame(rows, "y string")
    out, kept = cut_multiclass(df, "y", max_classes=2)
    assert kept == ["a", "b"]
    assert out.count() == 90


# -- model selection + insights --------------------------------------------

@pytest.fixture(scope="module")
def trainable(spark):
    import random
    rng = random.Random(5)
    rows = []
    for i in range(400):
        x1, x2 = rng.random(), rng.random()
        y = 1.0 if x1 + 0.3 * x2 + rng.gauss(0, 0.15) > 0.6 else 0.0
        rows.append((i, [x1, x2], y))
    df = spark.createDataFrame(rows, "k bigint, arr array<double>, y double")
    from pyspark.ml.functions import array_to_vector
    return df.withColumn("fv", array_to_vector("arr"))


def test_select_binary_model(spark, trainable):
    sel = select_binary_model(trainable, "fv", "y", "k",
                              candidates=default_binary_candidates(small=True), k=3)
    assert sel.best_metric > 0.8
    assert len(sel.leaderboard) == len(default_binary_candidates(small=True))
    assert sel.fitted_model is not None


def test_model_selection_and_metrics_release_their_caches(spark, trainable):
    """``auroc`` unpersists the ranked table ``util.counts_below`` persists
    once its terms are read: model selection (one AuROC per candidate x
    fold) and the holdout metrics leave the session's CacheManager
    empty, instead of one leaked cache entry per call."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    sel = select_binary_model(trainable, "fv", "y", "k",
                              candidates=default_binary_candidates(small=True),
                              k=2)
    assert cache.isEmpty()
    scored = spark.createDataFrame(
        [(0.9, 1.0), (0.8, 0.0), (0.3, 1.0), (0.1, 0.0), (0.3, 0.0)],
        "p double, y double")
    assert binary_metrics(scored, "p", "y")["auroc"] == auroc(scored, "p", "y")
    assert cache.isEmpty()
    assert sel.best_metric > 0.8


def test_train_validation_split_select(spark, trainable):
    """OpTrainValidationSplit: one key-hashed split instead of k folds;
    the leaderboard ranks every candidate by holdout AuROC and the winner
    is refit on the full frame."""
    from transmogrifai_spark.ml.selectors import train_validation_split_select
    cands = [("LogisticRegression", {"regParam": 0.01, "maxIter": 20}),
             ("LogisticRegression", {"regParam": 10.0, "maxIter": 20})]
    sel = train_validation_split_select(trainable, "fv", "y", "k",
                                        candidates=cands)
    metrics = [c.metric for c in sel.leaderboard]
    assert len(metrics) == 2 and metrics == sorted(metrics, reverse=True)
    assert sel.best_params == sel.leaderboard[0].params
    assert sel.best_metric == metrics[0] > 0.8
    assert sel.fitted_model.transform(trainable).count() == trainable.count()


def test_model_insights_and_loco(spark, trainable):
    from pyspark.ml.classification import LogisticRegression
    from transmogrifai_spark.ml.insights import loco_linear, model_insights
    from transmogrifai_spark.ml.selectors import CandidateResult, SelectedModel
    from transmogrifai_spark.operators.vectorizers import VectorSlot

    lr = LogisticRegression(featuresCol="fv", labelCol="y", maxIter=20).fit(trainable)
    sel = SelectedModel("LogisticRegression", {"maxIter": 20}, 0.9,
                        [CandidateResult("LogisticRegression", {}, 0.9, [])], lr)
    slots = [VectorSlot("x1", descriptor="value"), VectorSlot("x2", descriptor="value")]
    report = model_insights(sel, slots)
    assert len(report.features) == 2
    assert report.features[0].weight is not None
    assert "LogisticRegression" in report.to_json()

    coeffs = list(lr.coefficients.toArray())
    out = loco_linear(trainable, "arr", float(lr.intercept), coeffs, top_k=2)
    row = out.first()
    assert 0.0 <= row["base_score"] <= 1.0
    assert len(row["loco"]) == 2
    # slot deltas ordered by |delta| desc
    assert abs(row["loco"][0]["delta"]) >= abs(row["loco"][1]["delta"])


def test_regression_selector(spark):
    import random
    from pyspark.ml.functions import array_to_vector
    from transmogrifai_spark.ml.selectors import select_regression_model
    rng = random.Random(4)
    rows = [(i, [x := rng.random()], 3.0 * x + rng.gauss(0, 0.05)) for i in range(300)]
    df = spark.createDataFrame(rows, "k bigint, arr array<double>, y double") \
        .withColumn("fv", array_to_vector("arr"))
    sel = select_regression_model(df, "fv", "y", "k", k=2)
    assert sel.best_metric > -0.2  # -RMSE close to 0
    assert sel.fitted_model is not None


def test_multiclass_selector_and_prediction_map(spark):
    import random
    from pyspark.ml.functions import array_to_vector
    from transmogrifai_spark.ml.selectors import (select_multiclass_model,
                                                  to_prediction_map)
    rng = random.Random(6)
    rows = []
    for i in range(300):
        x = rng.random()
        rows.append((i, [x], float(min(2, int(x * 3)))))
    df = spark.createDataFrame(rows, "k bigint, arr array<double>, y double") \
        .withColumn("fv", array_to_vector("arr"))
    sel = select_multiclass_model(df, "fv", "y", "k", k=2)
    assert sel.best_metric > 0.8
    preds = sel.fitted_model.transform(df)
    mapped = to_prediction_map(preds).first()["prediction_map"]
    assert "prediction" in mapped and "probability_0" in mapped


def test_multiclass_metrics_frame_matches_dict(spark):
    """The distributed one-row frame must agree with the collect-based dict
    evaluator on every shared metric (including top-N hit counts)."""
    from transmogrifai_spark.ml.evaluators import multiclass_metrics_frame
    rows = [
        (0.0, 0.0, [0.7, 0.2, 0.1]),
        (1.0, 1.0, [0.1, 0.6, 0.3]),
        (2.0, 2.0, [0.2, 0.3, 0.5]),
        (0.0, 1.0, [0.5, 0.4, 0.1]),
        (2.0, 0.0, [0.3, 0.2, 0.5]),
        (1.0, 2.0, [0.2, 0.5, 0.3]),
    ]
    df = spark.createDataFrame(rows, "p double, y double, probs array<double>")
    d = multiclass_metrics(df, "p", "y", prob_col="probs", top_ns=(1, 2))
    f = multiclass_metrics_frame(df, "p", "y", prob_col="probs",
                                 top_ns=(1, 2)).first()
    n = len(rows)
    assert f["n_correct"] / f["n_rows"] == pytest.approx(d["accuracy"])
    assert f["macro_precision6"] == pytest.approx(d["macro_precision"], abs=1e-6)
    assert f["macro_recall6"] == pytest.approx(d["macro_recall"], abs=1e-6)
    assert f["macro_f16"] == pytest.approx(d["macro_f1"], abs=1e-6)
    assert f["top1_hits"] / n == pytest.approx(d["top1_accuracy"])
    assert f["top2_hits"] / n == pytest.approx(d["top2_accuracy"])


def test_forecast_metrics_matches_reference_loop(spark):
    """forecast_metrics == a literal Python replica of
    OpForecastEvaluator.computeMetrics (same formulas, same seasonal-naive
    definition y_i vs y_{i+window}, same guards)."""
    import random
    from transmogrifai_spark.ml.evaluators import forecast_metrics
    rng = random.Random(3)
    series = [(float(t), 10 + 5 * (t % 7) + rng.gauss(0, 1)) for t in range(60)]
    rows = [(t, y, y + rng.gauss(0, 2)) for t, y in series]
    sw = 7

    # reference loop (OpForecastEvaluator.scala:89-114)
    cnt = len(rows)
    seasonal_abs = sum(abs(rows[i][1] - rows[i + sw][1])
                       for i in range(cnt - sw))
    abs_diff = sum(abs(y - p) for _, y, p in rows)
    smape_sum = sum(abs(y - p) / (abs(y) + abs(p))
                    for _, y, p in rows if abs(y) + abs(p) > 0)
    seasonal_error = seasonal_abs / (cnt - sw)
    want = {"SMAPE": 2 * smape_sum / cnt,
            "SeasonalError": seasonal_error,
            "MASE": abs_diff / (seasonal_error * cnt)}

    df = spark.createDataFrame(rows, "t double, y double, p double")
    got = forecast_metrics(df, "p", "y", "t", seasonal_window=sw)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), k

    # per-series: two identical series -> identical metrics per the shared
    # seasonal window (counts double, ratios unchanged)
    df2 = spark.createDataFrame(
        [(s, t, y, p) for s in ("a", "b") for t, y, p in rows],
        "s string, t double, y double, p double")
    got2 = forecast_metrics(df2, "p", "y", "t", seasonal_window=sw,
                            series_col="s")
    for k in want:
        assert got2[k] == pytest.approx(want[k], rel=1e-9), k
