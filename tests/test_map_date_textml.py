"""Map vectorizers, date-list vectorizer, ml-wrapped text stages, runner."""
import pytest
from pyspark.sql import functions as F

from transmogrifai_spark.feature import from_dataframe
from transmogrifai_spark.operators.date_ops import (date_list_vectorizer,
                                                    date_map_days_ago)
from transmogrifai_spark.operators.map_vectorizers import (
    binary_map_vectorizer, real_map_vectorizer, text_map_len_vectorizer,
    text_map_pivot_vectorizer)


def test_real_map_vectorizer(spark):
    df = spark.createDataFrame(
        [({"a": 1.0, "b": 10.0},), ({"a": 3.0},), ({"b": 20.0},)],
        "m map<string,double>")
    f = from_dataframe(df, overrides={"m": "RealMap"})["m"]
    fitted = real_map_vectorizer(f).fit(df)
    rows = [r["m_vec"] for r in df.select(fitted.expr()).collect()]
    # keys [a, b]; fills: mean(a)=2, mean(b)=15; layout [a, b, a_null, b_null]
    assert rows[0] == [1.0, 10.0, 0.0, 0.0]
    assert rows[1] == [3.0, 15.0, 0.0, 1.0]
    assert rows[2] == [2.0, 20.0, 1.0, 0.0]


def test_real_map_vectorizer_allowlist(spark):
    df = spark.createDataFrame([({"a": 1.0, "junk": 9.0},)], "m map<string,double>")
    f = from_dataframe(df, overrides={"m": "RealMap"})["m"]
    fitted = real_map_vectorizer(f, allow_keys=["a"]).fit(df)
    assert fitted.params["keys"] == ["a"]


def test_binary_map_vectorizer(spark):
    df = spark.createDataFrame([({"x": True},), ({"x": False, "y": True},)],
                               "m map<string,boolean>")
    f = from_dataframe(df, overrides={"m": "BinaryMap"})["m"]
    fitted = binary_map_vectorizer(f).fit(df)
    rows = [r["m_vec"] for r in df.select(fitted.expr()).collect()]
    assert rows[0] == [1.0, 0.0, 0.0, 1.0]  # x=1, y missing; nulls: x=0,y=1
    assert rows[1] == [0.0, 1.0, 0.0, 0.0]


def test_text_map_pivot_vectorizer(spark):
    df = spark.createDataFrame(
        [({"color": "red"},), ({"color": "red", "size": "L"},), ({"color": "blue"},)],
        "m map<string,string>")
    f = from_dataframe(df, overrides={"m": "PickListMap"})["m"]
    fitted = text_map_pivot_vectorizer(f, top_k=1).fit(df)
    # color: top1=red(+OTHER+null) ; size: top1=L(+OTHER+null)
    assert fitted.params["pivots"] == {"color": ["red"], "size": ["L"]}
    rows = [r["m_vec"] for r in df.select(fitted.expr()).collect()]
    assert rows[0] == [1.0, 0.0, 0.0, 0.0, 0.0, 1.0]
    assert rows[2] == [0.0, 1.0, 0.0, 0.0, 0.0, 1.0]  # blue -> OTHER


def test_text_map_len(spark):
    df = spark.createDataFrame([({"k": "abc"},), ({},)], "m map<string,string>")
    f = from_dataframe(df, overrides={"m": "TextMap"})["m"]
    fitted = text_map_len_vectorizer(f).fit(df)
    rows = [r["m_len_vec"] for r in df.select(fitted.expr()).collect()]
    assert rows == [[3.0], [0.0]]


def test_date_list_vectorizer(spark):
    jan1 = 1704067200000  # 2024-01-01 UTC
    jan10 = jan1 + 9 * 86400000
    df = spark.createDataFrame([([jan1, jan10],), ([],)], "d array<bigint>")
    f = from_dataframe(df, overrides={"d": "DateTimeList"})["d"]
    st = date_list_vectorizer(f, reference_date="2024-01-15 00:00:00")
    rows = [r["d_vec"] for r in df.select(st.expr()).collect()]
    assert rows[0] == [14.0, 5.0]  # since first (jan1), since last (jan10)
    assert rows[1] == [0.0, 0.0]


def test_date_list_mode_pivot(spark):
    jan1 = 1704067200000
    days = [jan1, jan1 + 86400000, jan1 + 86400000]  # Mon, Tue, Tue
    df = spark.createDataFrame([(days,)], "d array<bigint>")
    f = from_dataframe(df, overrides={"d": "DateTimeList"})["d"]
    st = date_list_vectorizer(f, reference_date="2024-01-15 00:00:00",
                              pivots=("ModeDay",))
    assert df.select(st.expr()).first()["d_vec"] == [3.0]  # Tuesday = 3 (Spark dayofweek)


def test_date_map_days_ago(spark):
    jan1 = 1704067200000
    df = spark.createDataFrame([({"signup": jan1},)], "m map<string,bigint>")
    f = from_dataframe(df, overrides={"m": "DateMap"})["m"]
    st = date_map_days_ago(f, ["signup", "churn"], "2024-01-11 00:00:00")
    assert df.select(st.expr()).first()["m_vec"] == [10.0, 0.0]


def test_count_vectorizer_and_tfidf(spark):
    from transmogrifai_spark.operators.text_ml import count_vectorizer, tfidf
    df = spark.createDataFrame([(["a", "b", "a"],), (["b", "c"],)], "toks array<string>")
    f = from_dataframe(df, overrides={"toks": "TextList"})["toks"]
    cv = count_vectorizer(f, vocab_size=10).fit(df)
    out = cv.transform(df)
    rows = [r["toks_counts"] for r in out.collect()]
    assert len(rows[0]) == 3  # vocab a,b,c
    assert sum(rows[0]) == 3.0
    ti = tfidf(f, num_features=16).fit(df)
    tf_rows = ti.transform(df).collect()
    assert len(tf_rows[0]["toks_tfidf"]) == 16


def test_word2vec(spark):
    from transmogrifai_spark.operators.text_ml import word2vec
    df = spark.createDataFrame([(["hello", "world"],), (["hello", "spark"],)],
                               "toks array<string>")
    f = from_dataframe(df, overrides={"toks": "TextList"})["toks"]
    fitted = word2vec(f, vector_size=8).fit(df)
    rows = fitted.transform(df).collect()
    assert len(rows[0]["toks_w2v"]) == 8


def test_lda_topics(spark):
    """OpLDA: CountVectorizer -> online LDA; every row gets a k-topic
    distribution, and two disjoint vocabularies land on different topics."""
    from transmogrifai_spark.operators.text_ml import lda_topics
    rows = [(["cat", "dog", "pet", "dog"],)] * 6 + \
        [(["stock", "bond", "market", "bond"],)] * 6
    df = spark.createDataFrame(rows, "toks array<string>")
    f = from_dataframe(df, overrides={"toks": "TextList"})["toks"]
    fitted = lda_topics(f, k=2, max_iter=20).fit(df)
    dists = [r["toks_topics"] for r in fitted.transform(df).collect()]
    assert all(len(d) == 2 and sum(d) == pytest.approx(1.0) for d in dists)
    top = [max(range(2), key=d.__getitem__) for d in dists]
    assert len(set(top[:6])) == 1 and len(set(top[6:])) == 1
    assert top[0] != top[6]


def test_runner_train_score_roundtrip(spark, tmp_path, monkeypatch):
    import sys
    import types
    from transmogrifai_spark.runner import RunParams, run

    mod = types.ModuleType("fixture_pipeline")

    def build(sp, params):
        df = sp.createDataFrame([("a", 1.0), ("b", 2.0), ("a", None)],
                                "cat string, x double")
        from transmogrifai_spark.feature import from_dataframe
        from transmogrifai_spark.operators.vectorizers import transmogrify
        feats = from_dataframe(df, overrides={"cat": "PickList"})
        vec = transmogrify([feats["cat"], feats["x"]], top_k=3, min_support=1)
        return df, [vec]

    mod.build = build
    monkeypatch.setitem(sys.modules, "fixture_pipeline", mod)

    model_dir = str(tmp_path / "model")
    run(RunParams(mode="train", pipeline="fixture_pipeline",
                  data_dir="unused", model_dir=model_dir), spark=spark)
    scores = run(RunParams(mode="score", pipeline="fixture_pipeline",
                           data_dir="unused", model_dir=model_dir), spark=spark)
    assert scores.count() == 3 and "features" in scores.columns


def test_smart_text_map_vectorizer(spark):
    from transmogrifai_spark.operators.map_vectorizers import smart_text_map_vectorizer
    rows = []
    for i in range(40):
        rows.append(({"color": ["red", "blue"][i % 2],
                      "note": f"unique text number {i} with words"},))
    df = spark.createDataFrame(rows, "m map<string,string>")
    f = from_dataframe(df, overrides={"m": "TextMap"})["m"]
    fitted = smart_text_map_vectorizer(f, max_cardinality=5, top_k=3,
                                       hash_features=16).fit(df)
    assert fitted.params["strategies"] == {"color": "pivot", "note": "hash"}
    v = df.select(fitted.expr()).first()["m_vec"]
    # color: red,blue,OTHER,null (4) + note: 16 hash + null (17)
    assert len(v) == 4 + 17
    assert len(v) == len(fitted.slots)
    assert sum(v[:3]) == 1.0  # exactly one pivot indicator hot


def test_null_tracking_vectorizers(spark):
    from transmogrifai_spark.operators.map_vectorizers import (
        text_list_null_vectorizer, text_map_null_vectorizer)
    df = spark.createDataFrame([(["a"], {"k": "v"}), (None, {})],
                               "l array<string>, m map<string,string>")
    feats = from_dataframe(df, overrides={"l": "TextList", "m": "TextMap"})
    lst = text_list_null_vectorizer(feats["l"])
    assert [r[lst.output_name] for r in df.select(lst.expr()).collect()] == [[0.0], [1.0]]
    fitted = text_map_null_vectorizer(feats["m"]).fit(df)
    assert [r[fitted.output_name] for r in df.select(fitted.expr()).collect()] == [[0.0], [1.0]]


# -- DateListVectorizer Mode* one-hot pivots (DateListVectorizer.scala:218) --

def test_date_list_mode_pivots(spark):
    from transmogrifai_spark.feature import from_dataframe
    from transmogrifai_spark.operators.date_ops import date_list_pivot_vectorizer
    # 2024-01-01 is a Monday; millis at 05:00 and 13:00 UTC
    mon5 = 1704085200000   # 2024-01-01 05:00 UTC (Monday, January)
    mon13 = 1704114000000  # 2024-01-01 13:00 UTC
    tue5 = 1704171600000   # 2024-01-02 05:00 UTC (Tuesday)
    df = spark.createDataFrame(
        [(1, [mon5, mon13, tue5]), (2, []), (3, None)],
        "k long, ts_list array<bigint>")
    feats = from_dataframe(df, overrides={"ts_list": "DateTimeList"})
    day = date_list_pivot_vectorizer(feats["ts_list"], "ModeDay", output_name="d")
    hour = date_list_pivot_vectorizer(feats["ts_list"], "ModeHour", output_name="h")
    month = date_list_pivot_vectorizer(feats["ts_list"], "ModeMonth", output_name="m")
    out = {r["k"]: r for r in
           df.select("k", day.expr(), hour.expr(), month.expr()).collect()}
    # Monday appears twice vs Tuesday once -> slot 0 hot, 7 slots + null ind
    assert out[1]["d"] == [1.0, 0, 0, 0, 0, 0, 0, 0.0]
    # hour 5 appears twice (tie-break not needed), slot 5 of 24 hot
    assert out[1]["h"][5] == 1.0 and sum(out[1]["h"]) == 1.0
    # January -> slot 0 of 12 hot
    assert out[1]["m"][0] == 1.0 and sum(out[1]["m"]) == 1.0
    # empty and null lists -> all zeros + null indicator
    assert out[2]["d"] == [0.0] * 7 + [1.0]
    assert out[3]["d"] == [0.0] * 7 + [1.0]


def test_date_list_pivot_tie_breaks_smallest_unit(spark):
    from transmogrifai_spark.feature import from_dataframe
    from transmogrifai_spark.operators.date_ops import date_list_pivot_vectorizer
    mon = 1704085200000   # Monday
    tue = 1704171600000   # Tuesday
    df = spark.createDataFrame([(1, [mon, tue])], "k long, ts_list array<bigint>")
    feats = from_dataframe(df, overrides={"ts_list": "DateTimeList"})
    st = date_list_pivot_vectorizer(feats["ts_list"], "ModeDay", output_name="d")
    out = df.select(st.expr()).first()["d"]
    assert out[0] == 1.0 and out[1] == 0.0  # 1-1 tie -> Monday (smallest)


def test_date_list_pivot_triple_equality(spark):
    from transmogrifai_spark.feature import from_dataframe
    from transmogrifai_spark.operators.date_ops import date_list_pivot_vectorizer
    from tests.test_serving import triple_check
    df = spark.createDataFrame(
        [(1, [1704085200000, 1704114000000]), (2, []), (3, None)],
        "k long, ts_list array<bigint>")
    feats = from_dataframe(df, overrides={"ts_list": "DateTimeList"})
    for piv in ("ModeDay", "ModeMonth", "ModeHour"):
        st = date_list_pivot_vectorizer(feats["ts_list"], piv, output_name="v")
        triple_check(spark, df, st, ["ts_list"])


# -- GeolocationMapVectorizer (GeolocationMapVectorizer.scala:42) --

def test_geolocation_map_vectorizer(spark):
    from transmogrifai_spark.feature import from_dataframe
    from transmogrifai_spark.operators.map_vectorizers import geolocation_map_vectorizer
    df = spark.createDataFrame(
        [(1, {"home": [37.77, -122.4, 5.0], "work": [40.7, -74.0, 3.0]}),
         (2, {"home": [51.5, -0.1, 4.0]}),
         (3, None)],
        "k long, m map<string, array<double>>")
    feats = from_dataframe(df, overrides={"m": "GeolocationMap"})
    fitted = geolocation_map_vectorizer(feats["m"], output_name="v").fit(df)
    # slots: home(lat,lon,acc,null) work(lat,lon,acc,null) — sorted keys
    names = [(s.group, s.indicator_value or s.descriptor) for s in fitted.slots]
    assert names == [("home", "lat"), ("home", "lon"), ("home", "accuracy"),
                     ("home", "NullIndicatorValue"),
                     ("work", "lat"), ("work", "lon"), ("work", "accuracy"),
                     ("work", "NullIndicatorValue")]
    out = {r["k"]: r["v"] for r in df.select("k", fitted.expr()).collect()}
    assert out[1] == [37.77, -122.4, 5.0, 0.0, 40.7, -74.0, 3.0, 0.0]
    # missing key -> default geolocation (0,0,0) + null indicator 1
    assert out[2] == [51.5, -0.1, 4.0, 0.0, 0.0, 0.0, 0.0, 1.0]
    assert out[3] == [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0]


def test_geolocation_map_triple_equality(spark):
    from transmogrifai_spark.feature import from_dataframe
    from transmogrifai_spark.operators.map_vectorizers import geolocation_map_vectorizer
    from tests.test_serving import triple_check
    df = spark.createDataFrame(
        [(1, {"a": [1.0, 2.0, 3.0]}), (2, None)],
        "k long, m map<string, array<double>>")
    feats = from_dataframe(df, overrides={"m": "GeolocationMap"})
    fitted = geolocation_map_vectorizer(feats["m"], output_name="v").fit(df)
    triple_check(spark, df, fitted, ["m"])


# -- RecordInsightsCorr (RecordInsightsCorr.scala:55) --

def test_record_insights_corr_ranks_correlated_slot_first(spark):
    from transmogrifai_spark.ml.insights import record_insights_corr
    import random
    rng = random.Random(5)
    rows = []
    for _ in range(200):
        x0 = rng.uniform(0, 1)            # drives the score
        x1 = rng.uniform(0, 1)            # noise
        score = x0
        rows.append(([score], [x0, x1]))
    df = spark.createDataFrame(rows, "pred array<double>, fv array<double>")
    out = record_insights_corr(df, "pred", "fv", pred_size=1, feature_size=2,
                               top_k=2)
    rows_out = out.collect()
    # slot 0 (perfectly correlated) must rank first for (almost) every record
    firsts = [r["insights"][0]["slot"] for r in rows_out]
    assert firsts.count(0) > len(firsts) * 0.9
    # importance = corr * minmax-normalized value; corr(x0, score) == 1
    top = rows_out[0]["insights"][0]
    assert top["pred"] == 0
    assert -1.0001 <= top["importance"] <= 1.0001


def test_record_insights_corr_handles_constant_feature(spark):
    from transmogrifai_spark.ml.insights import record_insights_corr
    rows = [([float(i % 2)], [float(i % 2), 7.0]) for i in range(50)]
    df = spark.createDataFrame(rows, "pred array<double>, fv array<double>")
    out = record_insights_corr(df, "pred", "fv", pred_size=1, feature_size=2)
    # constant slot 1: NaN corr -> importance 0, never NaN in output
    for r in out.collect():
        for e in r["insights"]:
            assert e["importance"] == e["importance"]  # not NaN
            if e["slot"] == 1:
                assert e["importance"] == 0.0
