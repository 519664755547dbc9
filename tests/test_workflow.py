"""Workflow DAG construction + layered fit/score (OpWorkflow parity:
computeDAG layering, stage dedup, one-select layer fusion)."""
from pyspark.sql import functions as F

from transmogrifai_spark.feature import raw_feature
from transmogrifai_spark.stages.base import (Estimator, binary, sequence,
                                             ternary, unary)
from transmogrifai_spark.workflow import Workflow, compute_dag


def _mk_chain():
    a = raw_feature("a", "Real")
    b = unary("inc", a, "b", "Real", lambda c: c + 1)
    c = unary("dbl", b, "c", "Real", lambda col: col * 2)
    d = binary("add", b, c, "d", "Real", lambda x, y: x + y)
    return a, b, c, d


def test_layering_by_distance_to_sink():
    _, b, c, d = _mk_chain()
    dag = compute_dag([d])
    names = [[s.op_name for s in layer] for layer in dag]
    assert names == [["inc"], ["dbl"], ["add"]]


def test_stage_dedup_across_results():
    # shared ancestor stage appears exactly once (FitStagesUtil dedup)
    a = raw_feature("a", "Real")
    b = unary("inc", a, "b", "Real", lambda c: c + 1)
    c1 = unary("dbl", b, "c1", "Real", lambda col: col * 2)
    c2 = unary("neg", b, "c2", "Real", lambda col: -col)
    dag = compute_dag([c1, c2])
    all_stages = [s for layer in dag for s in layer]
    assert len(all_stages) == 3
    assert sum(1 for s in all_stages if s.op_name == "inc") == 1


def test_fit_score_chain(spark):
    _, _, _, d = _mk_chain()
    df = spark.createDataFrame([(1.0,), (2.0,), (None,)], "a double")
    out = Workflow([d]).fit(df).score(df)
    rows = {r["a"]: r["d"] for r in out.collect()}
    # b = a+1, c = 2b, d = b+c = 3(a+1)
    assert rows[1.0] == 6.0 and rows[2.0] == 9.0 and rows[None] is None


def test_ternary_and_sequence_arity(spark):
    a, b, c = (raw_feature(n, "Real") for n in "abc")
    t = ternary("fma", a, b, c, "t", "Real", lambda x, y, z: x * y + z)
    s = sequence("total", [a, b, c, t], "s", "Real",
                 lambda *cols: sum(cols[1:], cols[0]))
    assert [len(f.origin_stage.inputs) for f in (t, s)] == [3, 4]
    df = spark.createDataFrame([(2.0, 3.0, 4.0)], "a double, b double, c double")
    row = Workflow([s]).fit(df).score(df, keep_intermediate=True).first()
    assert (row["t"], row["s"]) == (10.0, 19.0)


def test_estimator_layer_fit(spark):
    # estimator computing a mean, then a transformer using it downstream
    a = raw_feature("x", "Real")

    def fit_fn(stage, df):
        m = df.agg(F.avg("x")).first()[0]
        from transmogrifai_spark.stages.base import ColumnTransformer
        return ColumnTransformer("centered", [a], "x_c", "Real", lambda c: c - F.lit(m))

    est = Estimator("center", [a], "x_c", "Real", fit_fn)
    top = unary("abs", est.output, "x_ca", "Real", F.abs)
    df = spark.createDataFrame([(1.0,), (3.0,)], "x double")
    out = Workflow([top]).fit(df).score(df, keep_intermediate=True)
    vals = sorted(r["x_ca"] for r in out.collect())
    assert vals == [1.0, 1.0]  # mean=2 -> |1-2|,|3-2|


def test_score_prunes_intermediates(spark):
    _, _, _, d = _mk_chain()
    df = spark.createDataFrame([(1.0,)], "a double")
    out = Workflow([d]).fit(df).score(df)
    assert set(out.columns) == {"a", "d"}  # b, c pruned


def test_fit_sample_estimators(spark):
    """fit_sample: estimators fit on a sample, transforms see all rows."""
    from transmogrifai_spark.feature import from_dataframe
    from transmogrifai_spark.operators.vectorizers import transmogrify
    df = spark.createDataFrame([(float(i % 100), f"c{i % 3}") for i in range(2000)],
                               "x double, cat string")
    feats = from_dataframe(df, overrides={"cat": "PickList"})
    vec = transmogrify([feats["x"], feats["cat"]], top_k=5, min_support=1)
    model = Workflow([vec], fit_sample=0.3).fit(df)
    out = model.score(df, keep_intermediate=True)
    assert out.count() == 2000  # full data transformed
    lens = {len(r["features"]) for r in out.select("features").collect()}
    assert len(lens) == 1


def test_score_schema_validation(spark):
    """Scoring a frame missing/mistyping raw inputs fails with one precise
    error listing every problem (validateSchema parity)."""
    import pytest as _pytest
    from transmogrifai_spark.feature import from_dataframe
    from transmogrifai_spark.operators.vectorizers import transmogrify
    df = spark.createDataFrame([("a", 1.0)], "cat string, x double")
    feats = from_dataframe(df, overrides={"cat": "PickList"})
    vec = transmogrify([feats["cat"], feats["x"]], top_k=2, min_support=1)
    model = Workflow([vec]).fit(df)

    missing = spark.createDataFrame([("a",)], "cat string")
    with _pytest.raises(ValueError, match="missing column 'x'"):
        model.score(missing)

    mistyped = spark.createDataFrame([("a", ["oops"])], "cat string, x array<string>")
    with _pytest.raises(ValueError, match="column 'x' has type"):
        model.score(mistyped)

    ok_widened = spark.createDataFrame([("a", 3)], "cat string, x bigint")
    assert model.score(ok_widened).count() == 1  # numeric widening allowed


def test_save_scores_with_metadata(spark, tmp_path):
    import json
    from transmogrifai_spark.feature import from_dataframe
    from transmogrifai_spark.operators.vectorizers import transmogrify
    df = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "cat string, x double")
    feats = from_dataframe(df, overrides={"cat": "PickList"})
    vec = transmogrify([feats["cat"], feats["x"]], top_k=2, min_support=1)
    model = Workflow([vec]).fit(df)
    out = str(tmp_path / "scores")
    model.save_scores(df, out)
    assert spark.read.parquet(out).count() == 2
    meta = json.load(open(f"{out}/_feature_metadata.json"))
    rf = meta["result_features"][0]
    assert rf["name"] == "features" and rf["type"] == "OPVector"
    assert len(rf["slots"]) > 0  # slot provenance travels with the data


def test_workflow_raw_feature_filter_prunes_and_rebuilds(spark):
    """withRawFeatureFilter (OpWorkflow.scala:544): a nearly-empty raw
    feature is excluded at fit time; its vectorizer disappears and the
    combiner REGENERATES over the survivors — scoring works end to end and
    the sparse column contributes no slots."""
    from transmogrifai_spark.feature import from_dataframe
    from transmogrifai_spark.operators.vectorizers import transmogrify
    from transmogrifai_spark.workflow import Workflow

    rows = [(f"c{i % 3}", float(i), None if i else 1.0) for i in range(50)]
    df = spark.createDataFrame(rows, "cat string, x double, sparse double")
    feats = from_dataframe(df, overrides={"cat": "PickList"})
    vec = transmogrify([feats["cat"], feats["x"], feats["sparse"]],
                       top_k=5, min_support=1)

    full = Workflow([vec]).fit(df)
    filtered = Workflow([vec], raw_feature_filter={"min_fill_rate": 0.1}).fit(df)
    n_full = len(full.score(df, keep_intermediate=True).first()["features"])
    n_filt = len(filtered.score(df, keep_intermediate=True).first()["features"])
    assert n_filt < n_full                       # sparse slots gone
    assert filtered.rff is not None
    assert "sparse" in filtered.rff.dropped
    # protected features are never excluded
    prot = Workflow([vec], raw_feature_filter={
        "min_fill_rate": 0.1, "protected": ["sparse"]}).fit(df)
    n_prot = len(prot.score(df, keep_intermediate=True).first()["features"])
    assert n_prot == n_full


def test_workflow_rff_strict_retention_raises(spark):
    """A result feature whose whole ancestry is excluded must raise
    (ResultFeatureRetention.Strict), not silently disappear."""
    import pytest
    from transmogrifai_spark.feature import from_dataframe
    from transmogrifai_spark.stages.base import unary
    from transmogrifai_spark.workflow import Workflow

    df = spark.createDataFrame([(None,)] * 20, "sparse double")
    feats = from_dataframe(df)
    doubled = unary("dbl", feats["sparse"], "sparse_x2", "Real", lambda c: c * 2)
    with pytest.raises(ValueError, match="Strict"):
        Workflow([doubled],
                 raw_feature_filter={"min_fill_rate": 0.5}).fit(df)


def test_workflow_rff_with_scoring_frame_js_divergence(spark):
    """Train/score divergence: a numeric raw whose scoring distribution
    shifted beyond max_js_divergence is excluded, stable ones kept."""
    from transmogrifai_spark.feature import from_dataframe
    from transmogrifai_spark.operators.vectorizers import transmogrify
    from transmogrifai_spark.workflow import Workflow

    train = spark.createDataFrame(
        [(float(i % 10), float(i % 7)) for i in range(200)],
        "stable double, shifty double")
    score = spark.createDataFrame(
        [(float(i % 10), 1000.0 + i % 3) for i in range(200)],
        "stable double, shifty double")
    feats = from_dataframe(train)
    vec = transmogrify([feats["stable"], feats["shifty"]], top_k=5, min_support=1)
    model = Workflow([vec], raw_feature_filter={
        "min_fill_rate": 0.001, "scoring_df": score,
        "max_js_divergence": 0.4}).fit(train)
    assert "shifty" in model.rff.dropped
    assert model.rff.reasons["shifty"] in ("js_divergence", "fill_rate_diff")
    assert "stable" not in model.rff.dropped
    assert model.score(score, keep_intermediate=True).count() == 200


def test_workflow_rff_categorical_divergence(spark):
    """Categorical raws get distribution checks too: a category column whose
    value mix flipped between train and score is excluded by top-K-profile
    JS divergence; a stable one survives."""
    from transmogrifai_spark.feature import from_dataframe
    from transmogrifai_spark.operators.vectorizers import transmogrify
    from transmogrifai_spark.workflow import Workflow

    train = spark.createDataFrame(
        [("a" if i % 2 else "b", f"k{i % 4}", float(i)) for i in range(200)],
        "flip string, stable string, x double")
    score = spark.createDataFrame(
        [("zzz", f"k{i % 4}", float(i)) for i in range(200)],
        "flip string, stable string, x double")
    feats = from_dataframe(train, overrides={"flip": "PickList",
                                             "stable": "PickList"})
    vec = transmogrify([feats["flip"], feats["stable"], feats["x"]],
                       top_k=5, min_support=1)
    model = Workflow([vec], raw_feature_filter={
        "scoring_df": score, "max_js_divergence": 0.5}).fit(train)
    assert "flip" in model.rff.dropped
    assert model.rff.reasons["flip"] == "js_divergence"
    assert "stable" not in model.rff.dropped and "x" not in model.rff.dropped
    assert model.score(score, keep_intermediate=True).count() == 200
