"""Physical-plan shape guards: pushdown, broadcast, codegen, no Python in
hot paths. A correct result from a bad plan is a regression at 100 TB."""
import pytest

from transmogrifai_spark.driver_queries import (q_multiway_broadcast,
                                                q_pricing_summary,
                                                q_scan_pushdown)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted") if False else \
        df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def test_scan_pushdown_reaches_parquet(spark, sf_dir):
    df = q_scan_pushdown(spark, sf_dir)
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,45.0)" in plan
    # column pruning: only the 4 selected columns in ReadSchema
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_shipdate" not in read_schema


def test_dims_are_broadcast(spark, sf_dir):
    plan = _formatted(q_multiway_broadcast(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_rollup_is_partial_aggregated(spark, sf_dir):
    """The pricing rollup must show two-phase hash aggregation (map-side
    partial + final) — the shuffle carries combiner-reduced rows."""
    plan = _plan(q_pricing_summary(spark, sf_dir))
    assert "partial_sum" in plan
    assert "Exchange hashpartitioning(l_returnflag" in plan


def test_no_python_udf_in_headline_plans(spark, sf_dir):
    for q in (q_scan_pushdown, q_pricing_summary, q_multiway_broadcast):
        plan = _formatted(q(spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_whole_stage_codegen_active(spark, sf_dir):
    df = q_pricing_summary(spark, sf_dir)
    df.collect()  # finalize the adaptive plan
    plan = _plan(df)
    assert "*(1)" in plan  # whole-stage-codegen stage markers


def test_salted_aggregate_matches_plain(spark, sf_dir):
    from pyspark.sql import functions as F
    from transmogrifai_spark.util import salted_aggregate
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    salted = salted_aggregate(
        li, ["l_returnflag"],
        {"total_qty": ("sum", "cast(l_quantity as decimal(28,6))"),
         "n": ("count", "l_orderkey"),
         "max_price": ("max", "l_extendedprice")})
    plain = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(28,6)")).alias("total_qty"),
        F.count("l_orderkey").alias("n"),
        F.max("l_extendedprice").alias("max_price"))
    s = {r["l_returnflag"]: (r["total_qty"], r["n"], r["max_price"]) for r in salted.collect()}
    p = {r["l_returnflag"]: (r["total_qty"], r["n"], r["max_price"]) for r in plain.collect()}
    assert s == p


def test_ngram_cap_broadcasts_hot_set(spark, sf_dir):
    """The max_doc_freq cap in ngram_jaccard_pairs must broadcast the
    bounded OVER-cap (hot) shingle set and remove it with a left_anti
    join. Broadcasting the under-cap side — nearly every distinct shingle
    in the corpus — builds an unbounded driver-side table at 100 TB."""
    from transmogrifai_spark.llm.dedup import ngram_jaccard_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8,
                             max_doc_freq=200)
    plan = _formatted(df)
    # the cap join is a broadcast ANTI join (hot set on the build side)
    assert "BroadcastHashJoin LeftAnti BuildRight" in plan, plan
    # the broadcast side filters for OVER-cap frequency, never under-cap
    bcast_filters = [l for l in plan.splitlines()
                     if "Condition" in l and "_df" in l]
    assert bcast_filters and all("> 200" in l for l in bcast_filters), \
        "\n".join(bcast_filters)


def test_rank_windows_are_partitioned(spark, sf_dir):
    """Spearman / AuROC rank plans must not contain a window without a
    PARTITION BY (a global Window.orderBy funnels every distinct value
    through one task — a scale-killer for continuous scores). Physical
    Window nodes print `Window [exprs], [partSpec], [orderSpec]` when
    partitioned and only `Window [exprs], [orderSpec]` when global."""
    import re
    from transmogrifai_spark.driver_queries import q_correlation_stats
    from transmogrifai_spark.ml.evaluators import _auroc_terms
    from pyspark.sql import functions as F
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    scored = o.select(F.col("o_totalprice").alias("score"),
                      (F.col("o_orderstatus") == "F").cast("double").alias("label"))
    for df in (q_correlation_stats(spark, sf_dir),
               _auroc_terms(scored, "score", "label")):
        plan = _plan(df)
        for line in plan.splitlines():
            m = re.search(r"\bWindow\b", line)
            if m and "windowspecdefinition" in line:
                # count top-level bracket groups after the expr list
                assert re.search(r"\], \[[^\]]*\], \[", line), (
                    "global (unpartitioned) window found:\n" + line)


def test_unigram_df_plan_broadcasts_vocab_and_keys_on_ids(spark, sf_dir):
    """unigram_tokenize_df's plan must (1) join the vocabulary with a
    BROADCAST hash join (the dictionary is the small side — a shuffled
    join would move the candidate stream), (2) contain no Python UDF,
    and (3) never shuffle on the document text — exchanges key on the
    word/text values of the DISTINCT word stream and on the id column
    only."""
    from transmogrifai_spark.llm.tokenizer import unigram_tokenize_df
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = spark.createDataFrame(
        [("▁the", 1.0), ("▁a", 2.0), ("a", 2.5), ("t", 3.0),
         ("h", 3.0), ("e", 3.0), ("▁", 1.5)],
        "piece string, cost double")
    out = unigram_tokenize_df(docs, "text", vocab, id_col="doc_id")
    plan = _formatted(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # no exchange partitions on the raw document text column
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln


def test_analyze_auto_df_plan_resources_are_broadcast(spark, sf_dir):
    """analyze_auto_df's plan must broadcast BOTH resource tables (the
    detection profiles and the stop sets — small data joined against
    the exploded token stream), contain no Python UDF, and never key
    an exchange on the raw document text."""
    from transmogrifai_spark.functions.text import analyze_auto_df
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = analyze_auto_df(docs, "text", id_col="doc_id")
    plan = _formatted(out)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln


def test_bind_once_shape_survives_optimizer(spark):
    """VERDICT r12 #8: every r12 evaluate-once win rests on Catalyst NOT
    rewriting element_at(transform(array(x), fn), 1) back into N inline
    copies of x. Pin the shape on the OPTIMIZED plan of the minhash
    signature (16 seed transforms referencing one bound shingle array):
    the tokenizer subtree (split over the lowercased text) must appear
    exactly once, while all 16 seed hashes are present. A Spark upgrade
    that adds such a collapse rule fails here loudly instead of silently
    re-inflating every HOF pipeline by the reference count."""
    from pyspark.sql import functions as F

    from transmogrifai_spark.llm.dedup import minhash_signature
    df = spark.createDataFrame([("a b c d e f",)], "text string")
    out = df.select(minhash_signature(F.col("text"), n=3,
                                      num_hashes=16).alias("sig"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the tokenize lowering is split(lower(text)...) — one bound copy only
    assert plan.count("split(lower(") == 1, plan
    # all 16 seed transforms survived (they reference the bound variable)
    assert plan.count("xxhash64(") >= 16, plan


def test_minhash_prefilter_equals_signature_nullness(spark):
    """ADVICE r12: minhash_signatures drops no-shingle docs with a CHEAP
    token-count pre-filter (size(tokenize(text)) >= n) whose equivalence
    to the old post-filter (element_at(_sig, 1) IS NOT NULL) is implicit
    cross-module coupling with word_shingles/tokenize. Pin the law: the
    prefilter keeps EXACTLY the rows whose signature head is non-null, so
    a tokenizer-semantics change breaks loudly here instead of letting
    empty-shingle docs flow through with NULL signature entries."""
    from pyspark.sql import functions as F

    from transmogrifai_spark.llm.dedup import (minhash_signature,
                                               minhash_signatures)
    rows = [(1, "one two three four tokens"), (2, "two words"),
            (3, ""), (4, None), (5, "exactly three tokens"),
            (6, "a b"), (7, "  punctuation, only !!  "),
            (8, "x y z w")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (2, 3):
        kept = {r["id"] for r in
                minhash_signatures(docs, "doc_id", "text", n=n,
                                   num_hashes=4).collect()}
        unfiltered = docs.select(
            "doc_id", minhash_signature(F.col("text"), n=n,
                                        num_hashes=4).alias("_sig"))
        expected = {r["doc_id"] for r in unfiltered.collect()
                    if r["_sig"][0] is not None}
        assert kept == expected, (n, kept, expected)


def test_bind_sql_input_appears_once_in_optimized_plan(spark):
    """``util.bind_sql`` binds ANY input Column once: an input subtree
    referenced three times in the parsed body appears exactly once in the
    optimized plan (the ``bind_once`` shape, see
    test_bind_once_shape_survives_optimizer)."""
    from pyspark.sql import functions as F

    from transmogrifai_spark.util import bind_sql
    df = spark.createDataFrame([("a b c",)], "text string")
    col = F.concat(F.upper(F.col("text")), F.lit("#bound-marker#"))
    out = df.select(bind_sql(col, "v",
                             "concat(v, lower(v), reverse(v))").alias("x"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("#bound-marker#") == 1, plan
    assert out.first()["x"] == ("A B C#bound-marker#a b c#bound-marker#"
                                "#rekram-dnuob#C B A")


def test_ensure_parallelism_probe_runs_no_job_on_broadcast_join(spark,
                                                                 tmp_path):
    """``ensure_parallelism`` decides without running anything. On
    ``docs ⋉ filter(docs)`` planned as a broadcast join, the old
    ``df.rdd.getNumPartitions()`` probe ran the whole filter side as a job
    (AQE materializes every query stage to learn the final partitioning);
    the decision is now read from the plan: the broadcast join keeps its
    streamed side's partitions, so a one-file scan is still spread."""
    from pyspark.sql import functions as F

    from transmogrifai_spark.util import ensure_parallelism
    sc = spark.sparkContext
    path = str(tmp_path / "docs")
    spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("the"), F.col("id").cast("string"))
        .alias("text")).coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)
    kept = docs.where(F.length("text") > 5).select("doc_id")
    q = docs.join(F.broadcast(kept), "doc_id", "left_semi")
    group = "test/ensure_parallelism_probe"
    sc.setJobGroup(group, group)
    try:
        out = ensure_parallelism(q)
        started = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert started == [], started
    assert "BroadcastHashJoin" in \
        q._jdf.queryExecution().executedPlan().toString()
    assert out.rdd.getNumPartitions() == sc.defaultParallelism
    assert sorted(r["doc_id"] for r in out.collect()) == list(range(10, 200))


def test_ensure_parallelism_shuffled_input_keeps_the_probe(spark):
    """A plan with a shuffle is still decided by ``df.rdd.getNumPartitions()``,
    the count after AQE's coalescing: a small aggregate that AQE merges into
    fewer partitions than cores is spread, though the planner chose one
    partition per core."""
    from pyspark.sql import functions as F

    from transmogrifai_spark.util import ensure_parallelism
    sc = spark.sparkContext

    def agg():   # a fresh frame each time: a run frame's plan is final
        return spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    assert agg().rdd.getNumPartitions() < sc.defaultParallelism
    out = ensure_parallelism(agg())
    assert out.rdd.getNumPartitions() == sc.defaultParallelism
    assert sorted(r["count"] for r in out.collect()) == [33, 33, 34]
