"""Laws for the r12 evaluate-once helpers.

``util.bind_once`` and ``similarity.cosine_prenormed`` exist purely for
performance (HOF lambda bodies run interpreted and re-evaluate embedded
subtrees per element / per reference); these tests pin that they are
VALUE-IDENTICAL to the direct forms — the invariant every optimization
this round leans on.
"""
import math
import random

import pytest
from pyspark.sql import functions as F


def test_bind_once_value_equality_across_types(spark):
    from transmogrifai_spark.util import bind_once

    df = spark.createDataFrame(
        [("the quick brown fox", 3), (None, 0), ("", 7), ("a b a", 2)],
        "t string, k int")
    direct = df.select(
        F.upper(F.coalesce(F.col("t"), F.lit("?"))).alias("s"),
        F.size(F.split(F.coalesce(F.col("t"), F.lit("")), " ")).alias("n"),
        (F.col("k") * 2 + 1).alias("i"))
    bound = df.select(
        bind_once(F.upper(F.coalesce(F.col("t"), F.lit("?"))),
                  lambda s: s).alias("s"),
        bind_once(F.split(F.coalesce(F.col("t"), F.lit("")), " "),
                  lambda a: F.size(a)).alias("n"),
        bind_once(F.struct((F.col("k") * 2).alias("x")),
                  lambda st: st["x"] + 1).alias("i"))
    assert direct.collect() == bound.collect()


def test_bind_once_multiple_references_single_value(spark):
    """Referencing the bound variable many times must read the SAME
    evaluated value (slot reads), not re-derive it."""
    from transmogrifai_spark.util import bind_once

    df = spark.range(5)
    out = df.select(bind_once(
        F.col("id") * 10,
        lambda v: v + v + v).alias("x")).collect()
    assert [r["x"] for r in out] == [i * 30 for i in range(5)]


def test_cosine_prenormed_bit_equal_to_cosine_similarity(spark):
    from transmogrifai_spark.llm.similarity import (cosine_prenormed,
                                                    cosine_similarity,
                                                    l2_norm)

    rng = random.Random(42)
    rows = [([rng.uniform(-1, 1) for _ in range(8)],
             [rng.uniform(-1, 1) for _ in range(8)]) for _ in range(50)]
    rows.append(([0.0] * 8, [1.0] * 8))       # zero-norm -> 0.0 branch
    rows.append(([0.0] * 8, [0.0] * 8))
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = df.select(
        cosine_similarity(F.col("a"), F.col("b")).alias("direct"),
        cosine_prenormed(F.col("a"), F.col("b"),
                         l2_norm(F.col("a")), l2_norm(F.col("b")))
        .alias("pre")).collect()
    for r in got:
        # bit-identical, not approx: the prenormed form must combine the
        # same doubles in the same order
        assert (math.isnan(r["direct"]) and math.isnan(r["pre"])) or \
            r["direct"] == r["pre"], (r["direct"], r["pre"])


def test_cosine_prenormed_hoisted_norm_matches_inline(spark):
    """The per-side hoist used by the pair-scoring joins: a norm computed
    in a projection BELOW the join must equal the inline norm."""
    from transmogrifai_spark.llm.similarity import (cosine_prenormed,
                                                    cosine_similarity,
                                                    l2_norm)

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(6)]) for i in range(12)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    a = df.select(F.col("id").alias("id1"), F.col("v").alias("v1"),
                  l2_norm(F.col("v")).alias("n1"))
    b = df.select(F.col("id").alias("id2"), F.col("v").alias("v2"),
                  l2_norm(F.col("v")).alias("n2"))
    joined = a.crossJoin(b).where(F.col("id1") < F.col("id2"))
    got = joined.select(
        cosine_similarity(F.col("v1"), F.col("v2")).alias("direct"),
        cosine_prenormed(F.col("v1"), F.col("v2"),
                         F.col("n1"), F.col("n2")).alias("pre")).collect()
    assert all(r["direct"] == r["pre"] for r in got)


def test_bind_sql_value_equality_nested_lambdas_and_null(spark):
    """``util.bind_sql`` evaluates a parsed SQL body over any bound Column:
    equal to the Column-API form, with nested SQL lambdas inside the body
    and a NULL bound value."""
    from transmogrifai_spark.util import bind_sql

    df = spark.createDataFrame(
        [("the quick brown fox", 3), (None, 0), ("", 7), ("a b a", 2)],
        "t string, k int")
    bound = df.select(
        bind_sql(F.split(F.coalesce(F.col("t"), F.lit("")), " "), "ws",
                 "size(ws) * 10 + size(filter(ws, w -> length(w) > 1))")
        .alias("n"),
        # nested lambdas: each word's letters folded inside a transform
        bind_sql(F.col("t"), "s",
                 "transform(split(s, ' '), w -> aggregate(split(w, ''), 0, "
                 "(acc, c) -> acc + CASE WHEN c = 'a' THEN 1 ELSE 0 END))")
        .alias("a_per_word"),
        bind_sql(F.col("k") * 2, "v", "v + v + 1").alias("i"))
    direct = df.select(
        (F.size(F.split(F.coalesce(F.col("t"), F.lit("")), " ")) * 10
         + F.size(F.filter(F.split(F.coalesce(F.col("t"), F.lit("")), " "),
                           lambda w: F.length(w) > 1))).alias("n"),
        F.transform(F.split(F.col("t"), " "), lambda w: F.aggregate(
            F.split(w, ""), F.lit(0),
            lambda acc, c: acc + F.when(c == "a", 1).otherwise(0)))
        .alias("a_per_word"),
        (F.col("k") * 4 + 1).alias("i"))
    assert bound.collect() == direct.collect()
    # a NULL bound value reaches the body as NULL, not as a missing row
    assert [r["a_per_word"] for r in bound.collect()][1] is None
    nulls = spark.range(2).select(
        bind_sql(F.lit(None).cast("int"), "v",
                 "coalesce(v, -1) + CASE WHEN v IS NULL THEN 10 ELSE 0 END")
        .alias("x")).collect()
    assert [r["x"] for r in nulls] == [9, 9]
