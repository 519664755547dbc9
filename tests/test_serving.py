"""Serving path: the reference's OpTransformerSpec triple-equality law
(features/.../test/OpTransformerSpec.scala:53-91) — for each fitted stage:
Spark transform == local row fn == save/load round-trip — plus full-model
persistence and Spark-free scoring (OpWorkflowModelLocal parity)."""
import math

import pytest
from pyspark.sql import functions as F

from transmogrifai_spark.feature import from_dataframe
from transmogrifai_spark.serving import registry
from transmogrifai_spark.serving.local import compile_local
from transmogrifai_spark.serving.persistence import (_rebuild_stage, _stage_dict,
                                                     load_model, save_model)


def triple_check(spark, df, stage, input_cols):
    """Spark expr == local fn == rebuilt-from-manifest expr, row by row (one
    job: both expressions and the inputs in one select)."""
    rebuilt = _rebuild_stage(_stage_dict(stage))
    rows = df.select(stage.expr().alias("_spark"), rebuilt.expr().alias("_rebuilt"),
                     *input_cols).collect()
    local_fn = registry.local_for(stage.op_name, stage.params)
    spark_out = [r["_spark"] for r in rows]
    local_out = [local_fn(*[r[c] for c in input_cols]) for r in rows]
    rebuilt_out = [r["_rebuilt"] for r in rows]
    for s, l, rb in zip(spark_out, local_out, rebuilt_out):
        if isinstance(s, list):
            assert list(s) == pytest.approx(list(l)), (stage.op_name, s, l)
            assert list(s) == list(rb)
        else:
            if s is None:
                assert l is None and rb is None
            else:
                assert s == pytest.approx(l), (stage.op_name, s, l)
                assert s == rb or s == pytest.approx(rb)


def test_triple_equality_vectorizers(spark):
    from transmogrifai_spark.operators.preparators import (min_variance_filter,
                                                           sanity_checker)
    from transmogrifai_spark.operators.vectorizers import (binary_vectorizer,
                                                           geolocation_vectorizer,
                                                           integral_vectorizer,
                                                           one_hot_estimator,
                                                           real_vectorizer)
    # v: slot 0 constant (low variance), slot 1 == y (leakage), slot 2 kept
    df = spark.createDataFrame(
        [("a", 1.0, 5, True, [37.7, -122.4, 5.0], [1.0, 0.0, 3.0], 0.0),
         ("b", None, 7, None, None, [1.0, 1.0, 1.0], 1.0),
         (None, 3.0, None, False, [40.7, -74.0], [1.0, 1.0, 4.0], 1.0),
         ("c", 2.0, 7, True, [51.5, -0.1, 3.0], [1.0, 0.0, 2.0], 0.0)],
        "cat string, real double, n bigint, b boolean, g array<double>, "
        "v array<double>, y double")
    feats = from_dataframe(df, response="y",
                           overrides={"cat": "PickList", "g": "Geolocation",
                                      "v": "OPVector"})
    triple_check(spark, df, one_hot_estimator(feats["cat"], top_k=2, min_support=1).fit(df), ["cat"])
    triple_check(spark, df, real_vectorizer(feats["real"]).fit(df), ["real"])
    triple_check(spark, df, integral_vectorizer(feats["n"]).fit(df), ["n"])
    triple_check(spark, df, binary_vectorizer(feats["b"]), ["b"])
    triple_check(spark, df, geolocation_vectorizer(feats["g"]).fit(df), ["g"])
    triple_check(spark, df, min_variance_filter(feats["v"]).fit(df), ["v"])
    checked = sanity_checker(feats["v"], feats["y"]).fit(df)
    assert checked.params["keep"] == [2]
    triple_check(spark, df, checked, ["v", "y"])


def test_triple_equality_numeric(spark):
    from transmogrifai_spark.operators.numeric import (ScalingArgs,
                                                       decision_tree_bucketizer,
                                                       descaler,
                                                       fill_missing_with_mean,
                                                       numeric_bucketizer,
                                                       percentile_calibrator,
                                                       scaler, standard_scaler)
    df = spark.createDataFrame(
        [(float(i), float(i >= 12)) for i in range(20)] + [(None, 0.0)],
        "x double, y double")
    feats = from_dataframe(df, response="y")
    f = feats["x"]
    triple_check(spark, df, fill_missing_with_mean(f).fit(df), ["x"])
    triple_check(spark, df, standard_scaler(f).fit(df), ["x"])
    triple_check(spark, df, standard_scaler(f, with_mean=False).fit(df), ["x"])
    triple_check(spark, df, standard_scaler(f, with_std=False).fit(df), ["x"])
    triple_check(spark, df, numeric_bucketizer(f, [-math.inf, 5.0, 10.0, math.inf]), ["x"])
    # one-hot form: out-of-range rows (x > 10) are all zeros, NULL fills the null slot
    triple_check(spark, df, numeric_bucketizer(f, [0, 5, 10], as_onehot=True), ["x"])
    triple_check(spark, df, numeric_bucketizer(f, [0, 5, 10], track_nulls=False,
                                               as_onehot=True), ["x"])
    triple_check(spark, df, percentile_calibrator(f, buckets=4).fit(df), ["x"])
    triple_check(spark, df, decision_tree_bucketizer(f, feats["y"]).fit(df), ["x"])
    for args in (ScalingArgs("linear", 2.0, 1.0), ScalingArgs("log", log_base=10.0)):
        triple_check(spark, df, scaler(f, args), ["x"])
        triple_check(spark, df, descaler(f, args), ["x"])


def test_bucketizer_manifest_without_onehot_keys_loads_as_index(spark, tmp_path):
    """A manifest that does not record ``as_onehot`` (as written before the
    one-hot form persisted) loads as the index form and scores like the
    default-option fit."""
    import json
    from transmogrifai_spark.operators.numeric import numeric_bucketizer
    from transmogrifai_spark.workflow import Workflow

    df = spark.createDataFrame([(float(i),) for i in range(6)] + [(None,)], "x double")
    f = from_dataframe(df)["x"]
    splits = [0.0, 2.0, 4.0]
    model = Workflow([numeric_bucketizer(f, splits, as_onehot=True).output]).fit(df)
    path = str(tmp_path / "m")
    save_model(model, path)
    manifest = json.load(open(f"{path}/manifest.json"))
    params = manifest["layers"][0][0]["params"]
    assert params == {"splits": splits, "as_onehot": True, "track_nulls": True}
    del params["as_onehot"], params["track_nulls"]
    with open(f"{path}/manifest.json", "w") as fh:
        json.dump(manifest, fh)
    loaded = load_model(path)
    default = numeric_bucketizer(f, splits)
    want = [r[0] for r in df.select(default.expr()).collect()]
    assert want == [0, 0, 1, 1, 1, None, None]
    assert [r[0] for r in loaded.score(df).select(default.output_name).collect()] == want
    local = compile_local(loaded)
    assert [local({"x": r["x"]})["x_bucket"] for r in df.collect()] == want


def test_load_rejects_other_format_version(tmp_path):
    import json
    (tmp_path / "manifest.json").write_text(json.dumps(
        {"format_version": 2, "result_features": [], "layers": []}))
    with pytest.raises(ValueError, match="format_version"):
        load_model(str(tmp_path))


def test_triple_equality_categorical(spark):
    from transmogrifai_spark.operators.categorical import (index_to_string,
                                                           string_indexer)
    df = spark.createDataFrame([("a", 0), ("b", 1), ("b", 5), (None, None), ("c", -1)],
                               "x string, i bigint")
    feats = from_dataframe(df, overrides={"x": "PickList"})
    triple_check(spark, df, string_indexer(feats["x"]).fit(df), ["x"])
    triple_check(spark, df, index_to_string(feats["i"], ["b", "a"]), ["i"])


def test_full_model_save_load_local(spark, tmp_path):
    from transmogrifai_spark.operators.vectorizers import transmogrify
    from transmogrifai_spark.workflow import Workflow

    df = spark.createDataFrame(
        [("a", 1.0), ("b", None), (None, 3.0), ("a", 4.0)],
        "cat string, real double")
    feats = from_dataframe(df, overrides={"cat": "PickList"})
    vec = transmogrify([feats["cat"], feats["real"]], top_k=3, min_support=1)
    model = Workflow([vec]).fit(df)

    path = str(tmp_path / "model")
    save_model(model, path)
    loaded = load_model(path)

    orig = [tuple(r) for r in model.score(df).select("features").collect()]
    reloaded = [tuple(r) for r in loaded.score(df).select("features").collect()]
    assert orig == reloaded

    local = compile_local(loaded)
    rows = df.collect()
    for r, (expected,) in zip(rows, orig):
        got = local({"cat": r["cat"], "real": r["real"]})
        assert got["features"] == pytest.approx(list(expected))


def test_local_compile_rejects_unsupported(spark):
    from transmogrifai_spark.feature import raw_feature
    from transmogrifai_spark.stages.base import unary
    from transmogrifai_spark.workflow import Workflow, WorkflowModel

    a = raw_feature("a", "Real")
    lam = unary("customLambda", a, "b", "Real", lambda c: c + 1)
    df = spark.createDataFrame([(1.0,)], "a double")
    model = Workflow([lam]).fit(df)
    with pytest.raises(NotImplementedError):
        compile_local(model)


def test_hashing_local_matches_spark(spark):
    """The vendored pure-Python XXH64 reproduces Spark's xxhash64 exactly,
    so hashing-trick vectors have a local form too."""
    from transmogrifai_spark.operators.vectorizers import hashing_vectorizer
    df = spark.createDataFrame(
        [(["alpha", "beta", "alpha", "\u00dcn\u00efcode"],), ([],), (None,)],
        "toks array<string>")
    f = from_dataframe(df, overrides={"toks": "TextList"})["toks"]
    st = hashing_vectorizer(f, num_features=16)
    spark_out = [r["toks_vec"] for r in df.select(st.expr()).collect()]
    local = registry.local_for("hashingTF", st.params)
    local_out = [local(r["toks"]) for r in df.collect()]
    assert spark_out == local_out


def test_xxhash64_bit_parity(spark):
    from pyspark.sql import functions as F
    from transmogrifai_spark.serving.xxhash import spark_xxhash64
    r = spark.range(1).select(
        F.xxhash64(F.lit("hello")).alias("s"),
        F.xxhash64(F.lit(7)).alias("i"),
        F.xxhash64(F.lit(7).cast("long")).alias("l"),
        F.xxhash64(F.lit("a"), F.lit("b"), F.lit(3)).alias("c")).first()
    assert r["s"] == spark_xxhash64("hello")
    assert r["i"] == spark_xxhash64(7)
    assert r["l"] == spark_xxhash64(("long", 7))
    assert r["c"] == spark_xxhash64("a", "b", 3)


def test_triple_equality_map_and_smart_text(spark):
    from transmogrifai_spark.operators.categorical import smart_text_vectorizer
    from transmogrifai_spark.operators.map_vectorizers import (
        binary_map_vectorizer, real_map_vectorizer, text_map_len_vectorizer,
        text_map_null_vectorizer, text_map_pivot_vectorizer)

    mdf = spark.createDataFrame(
        [({"a": 1.0, "b": 2.0},), ({"a": 3.0},), (None,)], "m map<string,double>")
    f = from_dataframe(mdf, overrides={"m": "RealMap"})["m"]
    triple_check(spark, mdf, real_map_vectorizer(f).fit(mdf), ["m"])

    bdf = spark.createDataFrame([({"x": True},), ({"y": False},)], "m map<string,boolean>")
    fb = from_dataframe(bdf, overrides={"m": "BinaryMap"})["m"]
    triple_check(spark, bdf, binary_map_vectorizer(fb).fit(bdf), ["m"])

    pdf = spark.createDataFrame([({"c": "red"},), ({"c": "blue", "d": "x"},),
                                 ({"c": "red"},), (None,)],
                                "m map<string,string>")
    fp = from_dataframe(pdf, overrides={"m": "PickListMap"})["m"]
    triple_check(spark, pdf, text_map_pivot_vectorizer(fp, top_k=1).fit(pdf), ["m"])
    triple_check(spark, pdf, text_map_len_vectorizer(fp).fit(pdf), ["m"])
    triple_check(spark, pdf, text_map_null_vectorizer(fp).fit(pdf), ["m"])

    tdf = spark.createDataFrame([("hello world",), ("hello spark engine",), (None,)],
                                "t string")
    ft = from_dataframe(tdf, overrides={"t": "Text"})["t"]
    hashed = smart_text_vectorizer(ft, max_cardinality=1, coverage_pct=2.0,
                                   hash_features=16).fit(tdf)
    assert hashed.params["strategy"] == "hash"
    triple_check(spark, tdf, hashed, ["t"])
    pivoted = smart_text_vectorizer(ft, max_cardinality=100).fit(tdf)
    assert pivoted.params["strategy"] == "pivot"
    triple_check(spark, tdf, pivoted, ["t"])


def test_spark_only_stages_save_and_load(spark, tmp_path):
    """smartTextMapVec and dropIndicesBy have no local form: they save, load
    and score as fitted, and compile_local rejects them at compile time."""
    from transmogrifai_spark.operators.map_vectorizers import smart_text_map_vectorizer
    from transmogrifai_spark.operators.multilabel import drop_indices_by
    from transmogrifai_spark.workflow import Workflow

    df = spark.createDataFrame(
        [({"c": "red", "t": "big red dog"},), ({"c": "blue", "t": "small cat"},),
         ({"c": "red", "t": "tiny bird"},), (None,)], "m map<string,string>")
    f = from_dataframe(df, overrides={"m": "TextMap"})["m"]
    est = smart_text_map_vectorizer(f, max_cardinality=2, hash_features=4)
    fitted = est.fit(df)
    assert fitted.params["strategies"] == {"c": "pivot", "t": "hash"}
    slots = fitted.slots
    dropped = drop_indices_by(est.output, lambda s: s.indicator_value == "OTHER", slots)
    model = Workflow([dropped.output]).fit(df)
    path = str(tmp_path / "m")
    save_model(model, path)
    loaded = load_model(path)
    cols = [est.output_name, dropped.output_name]
    want = [tuple(r) for r in model.score(df, keep_intermediate=True).select(*cols).collect()]
    assert len(want[0][1]) == len(want[0][0]) - 1  # the pivoted key's OTHER slot
    assert [tuple(r) for r in
            loaded.score(df, keep_intermediate=True).select(*cols).collect()] == want
    with pytest.raises(NotImplementedError):
        compile_local(loaded)


def test_triple_equality_date_map(spark):
    from transmogrifai_spark.operators.date_ops import date_map_days_ago
    df = spark.createDataFrame([({"signup": 1704067200000},), (None,)],
                               "m map<string,bigint>")
    f = from_dataframe(df, overrides={"m": "DateMap"})["m"]
    st = date_map_days_ago(f, ["signup", "churn"], "2024-01-11 00:00:00")
    triple_check(spark, df, st, ["m"])


def test_triple_equality_date_list_and_scaler_json(spark, tmp_path):
    import json
    from transmogrifai_spark.operators.date_ops import date_list_vectorizer
    from transmogrifai_spark.operators.numeric import ScalingArgs, scaler
    from transmogrifai_spark.workflow import Workflow
    from transmogrifai_spark.serving.persistence import load_model, save_model

    jan1 = 1704067200000
    df = spark.createDataFrame(
        [([jan1, jan1 + 86400000, jan1 + 86400000],), ([],), (None,)],
        "d array<bigint>")
    f = from_dataframe(df, overrides={"d": "DateTimeList"})["d"]
    st = date_list_vectorizer(f, "2024-01-15 00:00:00",
                              pivots=("SinceFirst", "SinceLast", "ModeDay"))
    triple_check(spark, df, st, ["d"])

    # scaler params must survive an actual JSON round trip
    df2 = spark.createDataFrame([(2.0,), (4.0,)], "x double")
    fx = from_dataframe(df2)["x"]
    sc = scaler(fx, ScalingArgs("linear", 3.0, 1.0))
    model = Workflow([sc.output, st.output]).fit(
        df2.crossJoin(df.limit(1)))
    path = str(tmp_path / "m2")
    save_model(model, path)
    json.load(open(f"{path}/manifest.json"))  # strictly valid JSON
    loaded = load_model(path)
    src = df2.crossJoin(df.limit(1))
    a = [tuple(r) for r in model.score(src, keep_intermediate=True)
         .select(sc.output_name, st.output_name).collect()]
    b = [tuple(r) for r in loaded.score(src, keep_intermediate=True)
         .select(sc.output_name, st.output_name).collect()]
    assert a == b


def test_local_tokenizer_matches_spark_on_unicode(spark):
    """local_tokenize (str.isalnum) vs the Spark regex tokenizer on unicode
    and punctuation-heavy samples — the basis of smartTextHash local parity."""
    from transmogrifai_spark.functions.text import tokenize
    from transmogrifai_spark.serving.registry import local_tokenize
    samples = ["Hello, World!", "Ünïcode ✓ tëst", "a-b_c d.e", "123 abc x7",
               "", "...", "CAFÉ crème brûlée", "日本語 テスト words"]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    from pyspark.sql import functions as F
    spark_toks = [r["x"] for r in df.select(tokenize(F.col("t")).alias("x")).collect()]
    for s, st in zip(samples, spark_toks):
        assert local_tokenize(s) == list(st), s


def test_triple_equality_isotonic_with_null(spark):
    """ADVICE r2 regression: isotonicCalibrator Spark expr must return NULL
    for NULL input, matching the local fn (triple-equality law)."""
    import random
    from transmogrifai_spark.operators.numeric import isotonic_calibrator
    rng = random.Random(7)
    rows = [(i / 50, 1.0 if rng.random() < i / 50 else 0.0) for i in range(50)]
    df = spark.createDataFrame(rows, "s double, y double")
    feats = from_dataframe(df, response="y")
    fitted = isotonic_calibrator(feats["s"], feats["y"]).fit(df)
    score_df = spark.createDataFrame(
        [(0.1,), (0.5,), (None,), (0.9,)], "s double")
    triple_check(spark, score_df, fitted, ["s"])


def test_persistence_rejects_unserializable_params(tmp_path):
    """ADVICE r2 regression: params that aren't JSON types fail the save
    loudly instead of being silently stringified; numpy scalars convert."""
    import numpy as np
    import pytest as _pytest
    from transmogrifai_spark.serving.persistence import _json_default
    assert _json_default(np.float64(1.5)) == 1.5
    assert _json_default(np.int32(7)) == 7
    assert _json_default(np.array([1.0, 2.0])) == [1.0, 2.0]
    with _pytest.raises(TypeError):
        _json_default(object())


def test_rff_result_persists_with_model(spark, tmp_path):
    """The RawFeatureFilter outcome rides the manifest: after save/load the
    excluded-features record is still on the model (as a plain dict)."""
    from transmogrifai_spark.feature import from_dataframe
    from transmogrifai_spark.operators.vectorizers import transmogrify
    from transmogrifai_spark.serving.persistence import load_model, save_model
    from transmogrifai_spark.workflow import Workflow

    rows = [(float(i), None if i else 1.0) for i in range(40)]
    df = spark.createDataFrame(rows, "x double, sparse double")
    feats = from_dataframe(df)
    vec = transmogrify([feats["x"], feats["sparse"]], top_k=3, min_support=1)
    model = Workflow([vec], raw_feature_filter={"min_fill_rate": 0.1}).fit(df)
    assert "sparse" in model.rff.dropped
    path = str(tmp_path / "m")
    save_model(model, path)
    loaded = load_model(path)
    assert loaded.rff is not None and "sparse" in loaded.rff["dropped"]
    assert loaded.score(df, keep_intermediate=True).count() == 40
