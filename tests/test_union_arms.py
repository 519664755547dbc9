"""driver_queries.union_arms — the one way a registry row with several arms
declares them — and the per-arm mismatch report check_correctness prints
for such rows."""
import importlib.util
import os

import pytest

from transmogrifai_spark.driver_queries import ARM_TAGS, union_arms

_SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "scripts", "check_correctness.py")
_spec = importlib.util.spec_from_file_location("check_correctness", _SCRIPT)
check_correctness = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_correctness)


def test_union_arms_orders_tags_casts_and_pads(spark):
    a = spark.createDataFrame([(1, "x")], "n int, s string")
    b = spark.createDataFrame([(2.5,)], "v double")
    c = spark.createDataFrame([("y", 7)], "s string, n bigint")
    out = union_arms([("first", a), ("second", b), ("third", c)],
                     "n bigint, s string, v double, m map<string,int>")
    assert out.columns == ["part", "n", "s", "v", "m"]
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("part", "string"), ("n", "bigint"), ("s", "string"),
        ("v", "double"), ("m", "map<string,int>")]
    assert [tuple(r) for r in out.collect()] == [
        ("first", 1, "x", None, None),
        ("second", None, None, 2.5, None),
        ("third", 7, "y", None, None)]


def test_union_arms_custom_tag_and_cast_values(spark):
    a = spark.createDataFrame([("3", 1)], "q string, r int")
    out = union_arms([("only", a)], "q bigint, r double", tag="method")
    assert out.columns == ["method", "q", "r"]
    assert [tuple(r) for r in out.collect()] == [("only", 3, 1.0)]


def test_union_arms_rejects_undeclared_columns(spark):
    a = spark.createDataFrame([(1, 2)], "a bigint, extra bigint")
    with pytest.raises(ValueError, match="extra"):
        union_arms([("arm", a)], "a bigint")
    # the tag column itself is not an arm column either
    t = spark.createDataFrame([("x", 1)], "part string, a bigint")
    with pytest.raises(ValueError, match="part"):
        union_arms([("arm", t)], "a bigint")


def test_arm_diffs_names_only_the_differing_arm():
    scols = ["part", "a", "d"]
    srows = [("pair", 1, 0.5), ("pair", 2, 0.25),
             ("cluster", 1, None), ("cluster", 2, None), ("cluster", 3, None)]
    # the oracle's columns come in another order; one cluster row differs
    ocols = ["a", "d", "part"]
    orows = [(2, 0.25, "pair"), (1, 0.5, "pair"),
             (1, None, "cluster"), (2, None, "cluster"), (4, None, "cluster"),
             (5, None, "cluster")]
    assert check_correctness.arm_diffs(ARM_TAGS, scols, srows, ocols,
                                       orows) == [("cluster", 3, 4)]
    assert check_correctness.arm_diffs(ARM_TAGS, scols, srows, scols,
                                       srows) == []
    # a frame that is not a union of arms gets no per-arm report
    assert check_correctness.arm_diffs(
        ARM_TAGS, ["a", "part"], [(1, "x")], ["a", "part"], [(2, "x")]) == []
