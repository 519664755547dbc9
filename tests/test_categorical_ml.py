"""String indexer, smart text vectorizer, MIME sniffing, evaluators,
splitters/balancer/cutter, model selection, insights, LOCO."""
import base64
import math

import pytest
from pyspark import StorageLevel
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


# (node, rank) / (node, hub, authority) over the test_graph edges, and the
# kept ids of one streaming-ingest batch, as computed before cache_scope
GRAPH_EDGES = [("a", "b", 2.0), ("a", "c", 1.0), ("b", "a", 1.0),
               ("c", "a", 1.0), ("c", "d", 3.0), ("b", "d", 1.0),
               ("e", "a", 1.0)]
PAGERANK_2 = [("a", 0.23241333389999996), ("b", 0.281855), ("c", 0.17943),
              ("d", 0.22929666695), ("e", 0.077005)]
HITS_2 = [("a", 0.11345520596311189, 0.7810942984779033),
          ("b", 0.6523674319275546, 0.12016835397883387),
          ("c", 0.6523674319275546, 0.12016835397883387),
          ("d", 0.0, 0.6008417679865559),
          ("e", 0.3687294179639104, 0.0)]
INGEST_DROPPED = {12, 50, 82, 114}


def test_model_selection_and_metrics_release_their_caches(
        spark, trainable, sf_dir, tmp_path):
    """Every call that caches an intermediate and materializes its result
    before returning releases what it cached (``util.cache_scope``):
    model selection (one AuROC per candidate x fold), the holdout metrics,
    Spearman (two ranked tables), PageRank, HITS, a workflow fit around a
    nested model selector, and one streaming-ingest batch each leave the
    session's CacheManager empty and return the values they returned
    before the scope existed."""
    from transmogrifai_spark.llm.dedup import (build_lsh_index,
                                               stream_dedup_ingest)
    from transmogrifai_spark.ml.selectors import model_selector_stage
    from transmogrifai_spark.operators.graph import hits, pagerank
    from transmogrifai_spark.operators.preparators import spearman_corr
    from transmogrifai_spark.operators.vectorizers import transmogrify_batched
    from transmogrifai_spark.sources.tables import load_table
    from transmogrifai_spark.streaming.windows import file_stream
    from transmogrifai_spark.workflow import Workflow

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    sel = select_binary_model(trainable, "fv", "y", "k",
                              candidates=default_binary_candidates(small=True),
                              k=2)
    assert cache.isEmpty()
    assert sel.best_metric > 0.8
    scored = spark.createDataFrame(
        [(0.9, 1.0), (0.8, 0.0), (0.3, 1.0), (0.1, 0.0), (0.3, 0.0)],
        "p double, y double")
    assert binary_metrics(scored, "p", "y")["auroc"] == auroc(scored, "p", "y")
    assert cache.isEmpty()

    ties = spark.createDataFrame(
        [(float(i % 7), float(i * i % 11)) for i in range(60)],
        "a double, b double")
    assert spearman_corr(ties, "a", "b") == 0.015548589354889635
    assert cache.isEmpty()

    edges = spark.createDataFrame(GRAPH_EDGES, "src string, dst string, w double")
    assert sorted(map(tuple, pagerank(edges, weight_col="w", iterations=2,
                                      portable=True).collect())) == PAGERANK_2
    assert cache.isEmpty()
    assert sorted(map(tuple, hits(edges, iterations=2,
                                  portable=True).collect())) == HITS_2
    assert cache.isEmpty()

    rows = [(str(r["k"]), *r["arr"], r["y"]) for r in trainable.collect()]
    t = spark.createDataFrame(rows, "key string, x1 double, x2 double, y double")
    feats = from_dataframe(t, response="y")
    stage = model_selector_stage(
        transmogrify_batched([feats["x1"], feats["x2"]]), feats["y"],
        feats["key"], k=2,
        candidates=[("LogisticRegression", {"regParam": 0.01, "maxIter": 20})])
    model = Workflow([stage.output]).fit(t)
    assert cache.isEmpty()
    assert [c.metric for c in stage.fitted.selected.leaderboard] == \
        pytest.approx([0.9680289517261516], rel=1e-9)
    assert model.score(t).agg(F.sum("score")).first()[0] == \
        pytest.approx(216.00002162929462, rel=1e-9)

    # one micro-batch: 120 docs plus exact clones of ten of them
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.where(F.col("doc_id") < 120).unionByName(
        docs.where(F.col("doc_id") < 10)
        .select((F.col("doc_id") + 90000).alias("doc_id"), "text")) \
        .coalesce(1).write.parquet(src)
    idx, out = str(tmp_path / "idx"), str(tmp_path / "kept")
    build_lsh_index(docs.limit(0), "doc_id", "text", idx, num_hashes=16,
                    bands=4, n_shards=16, batch_id=0)
    stream_dedup_ingest(file_stream(spark, src), idx, out, "doc_id", "text",
                        checkpoint=str(tmp_path / "ck")).awaitTermination()
    assert cache.isEmpty()
    assert sorted(r[0] for r in spark.read.parquet(out).collect()) == \
        sorted(set(range(120)) - INGEST_DROPPED)


def test_model_selection_keeps_the_callers_cache(spark, trainable):
    """A frame the caller cached stays cached at the caller's level after a
    library call caches the same plan inside its own scope: ``cached``
    hands the scope only the entries it created."""
    spark.catalog.clearCache()
    df = trainable.select("k", "fv", "y").persist(StorageLevel.MEMORY_ONLY)
    df.count()
    sel = select_binary_model(
        df, "fv", "y", "k", k=2,
        candidates=[("LogisticRegression", {"regParam": 0.01, "maxIter": 20})])
    assert sel.best_metric > 0.8
    assert df.storageLevel == StorageLevel.MEMORY_ONLY
    spark.catalog.clearCache()


def test_raising_fit_releases_its_cache(spark, trainable):
    """A fit that raises after caching its frame still releases it."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    with pytest.raises(AttributeError):
        select_binary_model(trainable, "fv", "y", "k",
                            candidates=[("NoSuchClassifier", {})])
    assert cache.isEmpty()


class _Frame:
    """Stands in for a DataFrame that nobody cached before: logs
    persist/unpersist calls."""

    storageLevel = StorageLevel.NONE

    def __init__(self, name, log):
        self.name, self.log = name, log

    def persist(self):
        self.log.append(("persist", self.name))
        return self

    def unpersist(self):
        self.log.append(("unpersist", self.name))
        return self


def test_cache_scope_nests_and_releases_newest_first_on_error():
    from transmogrifai_spark.util import cache_scope, cached
    log = []
    with pytest.raises(RuntimeError):
        with cache_scope():
            cached(_Frame("a", log))
            with cache_scope():
                cached(_Frame("b", log))
                cached(_Frame("c", log))
            assert log[-2:] == [("unpersist", "c"), ("unpersist", "b")]
            cached(_Frame("d", log))
            raise RuntimeError("body failed")
    assert log == [("persist", "a"), ("persist", "b"), ("persist", "c"),
                   ("unpersist", "c"), ("unpersist", "b"), ("persist", "d"),
                   ("unpersist", "d"), ("unpersist", "a")]
    # no scope open: cached() is persist() alone
    log.clear()
    cached(_Frame("e", log))
    assert log == [("persist", "e")]


def test_cache_scope_is_per_thread_and_unscoped_frames_stay(spark):
    import threading

    from transmogrifai_spark.util import cache_scope, cached
    spark.catalog.clearCache()
    mine, other, loose = (spark.range(n) for n in (3, 4, 5))
    with cache_scope():
        cached(mine)
        worker = threading.Thread(target=cached, args=(other,))
        worker.start()
        worker.join(30)
        assert not worker.is_alive()
        assert mine.storageLevel != StorageLevel.NONE
    assert mine.storageLevel == StorageLevel.NONE
    assert other.storageLevel != StorageLevel.NONE
    cached(loose)
    assert loose.storageLevel != StorageLevel.NONE
    spark.catalog.clearCache()


def test_lazy_dedup_frames_released_by_the_callers_scope(spark, sf_dir):
    """The MinHash signature and LSH band frames back lazy results, so the
    functions cache them without a scope of their own: a caller's scope
    around two rounds of both collects leaves no persistent RDD (without
    it the session gained 3, then 8), and the pairs match the unscoped
    ones."""
    import random

    from transmogrifai_spark.llm.dedup import (embedding_near_dup_pairs_lsh,
                                               minhash_lsh_candidates)
    from transmogrifai_spark.sources.tables import load_table
    from transmogrifai_spark.util import cache_scope
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rng = random.Random(3)
    vecs = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(20)]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)]
        + [(i + 100, v) for i, v in enumerate(vecs)], "id bigint, v array<double>")

    def run():
        return (sorted(map(tuple, minhash_lsh_candidates(
                    docs, "doc_id", "text", num_hashes=16, bands=4).collect())),
                sorted(map(tuple, embedding_near_dup_pairs_lsh(
                    emb, "id", "v", dim=16, threshold=0.99).collect())))

    unscoped = run()
    spark.catalog.clearCache()
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    before = persistent.size()
    with cache_scope():
        first, second = run(), run()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
    assert first == second == unscoped
    assert len(unscoped[1]) >= 20


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


def test_mlp_auto_layers_fit_through_tvs_and_combiner(spark, trainable):
    """An MLP candidate with ``layers="auto"`` (as default_binary_candidates
    lists it) fits on every selector path: train-validation split and the
    top-model combiner resolve the layers from the data, as CV does."""
    from transmogrifai_spark.ml.selectors import (
        combine_top_models, train_validation_split_select)
    cands = [("MultilayerPerceptronClassifier",
              {"layers": "auto", "maxIter": 20, "seed": 42})]
    sel = train_validation_split_select(trainable, "fv", "y", "k",
                                        candidates=cands)
    assert sel.best_params["layers"] == "auto"
    assert list(sel.fitted_model.getLayers()) == [2, 2, 2]
    ens = combine_top_models(sel, trainable, "fv", "y", "k", top_n=1)
    scores = [r["ensemble_score"] for r in ens.collect()]
    assert len(scores) == trainable.count()
    assert all(0.0 <= s <= 1.0 for s in scores)


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
