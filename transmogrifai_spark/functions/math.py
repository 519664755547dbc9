"""Null-safe math column expressions.

Re-expression of MathTransformers
(core/src/main/scala/com/salesforce/op/stages/impl/feature/MathTransformers.scala:50-393)
and the numeric DSL (core/.../dsl/RichNumericFeature.scala:70-165).

Reference null semantics, kept exactly:
  * None propagates (binary ops yield None if either side is None) — SQL NULL
    already behaves this way.
  * Results that are NaN or +/-Inf become None
    (MathTransformers.scala:145-149) — Spark returns Inf for x/0.0 and NaN
    for 0.0/0.0, so every op is wrapped in a NaN/Inf guard.

All are pure Column expressions: JVM-side, codegen-fused, zero Python cost —
at 100 TB these run inside the parquet scan stage.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def nan_inf_to_null(c: Column) -> Column:
    """NaN/Infinity -> NULL (MathTransformers.scala:145-149)."""
    return F.when(F.isnan(c) | (F.abs(c) == float("inf")), F.lit(None)).otherwise(c)


def add(a: Column, b: Column) -> Column:  # AddTransformer:50
    return nan_inf_to_null(a + b)


def subtract(a: Column, b: Column) -> Column:  # SubtractTransformer:90
    return nan_inf_to_null(a - b)


def multiply(a: Column, b: Column) -> Column:  # MultiplyTransformer:138
    return nan_inf_to_null(a * b)


def divide(a: Column, b: Column) -> Column:
    """DivideTransformer:185. ``try_divide`` instead of ``/``: Spark 4's ANSI
    mode (on by default) raises on division by zero; try_divide yields NULL,
    which is exactly the reference's Inf->None semantics."""
    return nan_inf_to_null(F.try_divide(a, b))


def scalar_add(c: Column, s: float) -> Column:  # ScalarAddTransformer:70
    return nan_inf_to_null(c + F.lit(s))


def scalar_multiply(c: Column, s: float) -> Column:  # ScalarMultiplyTransformer:165
    return nan_inf_to_null(c * F.lit(s))


def scalar_subtract(c: Column, s: float) -> Column:  # ScalarSubtractTransformer:119
    return nan_inf_to_null(c - F.lit(s))


def scalar_divide(c: Column, s: float) -> Column:  # ScalarDivideTransformer:213
    return nan_inf_to_null(F.try_divide(c, F.lit(s)))


def absolute(c: Column) -> Column:  # AbsoluteValueTransformer:232
    return F.abs(c)


def ceil(c: Column) -> Column:  # CeilTransformer:248 (returns Integral)
    return F.ceil(c).cast("long")


def floor(c: Column) -> Column:  # FloorTransformer:265
    return F.floor(c).cast("long")


def round_(c: Column) -> Column:  # RoundTransformer:282 (to Integral)
    return F.round(c, 0).cast("long")


def round_digits(c: Column, digits: int) -> Column:  # RoundDigitsTransformer:381
    return F.round(c, digits)


def exp(c: Column) -> Column:  # ExpTransformer:299
    return nan_inf_to_null(F.exp(c))


def sqrt(c: Column) -> Column:  # SqrtTransformer:316 (sqrt(<0) = NaN -> NULL)
    return nan_inf_to_null(F.sqrt(c))


def log(c: Column, base: float = 2.718281828459045) -> Column:
    """LogTransformer:335 — arbitrary base; non-positive input -> NULL
    (Spark's log already yields NULL there)."""
    return nan_inf_to_null(F.log(base, c))


def power(c: Column, p: float) -> Column:  # PowerTransformer:361
    return nan_inf_to_null(F.pow(c, F.lit(p)))


def z_normalize(c: Column, mean: float, std: float) -> Column:
    """Fitted form of OpScalarStandardScaler (OpScalarStandardScaler.scala:49)."""
    return (c - F.lit(mean)) / F.lit(std if std != 0 else 1.0)
