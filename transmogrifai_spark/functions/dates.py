"""Date/time column expressions.

Re-expression of SURVEY.md §2.8:
  * TimePeriodTransformer  core/.../impl/feature/TimePeriodTransformer.scala:47
    with the TimePeriod enum (features/.../impl/feature/TimePeriod.scala):
    DayOfMonth / DayOfWeek / DayOfYear / HourOfDay / MonthOfYear /
    WeekOfMonth / WeekOfYear.
  * DateToUnitCircleTransformer  DateToUnitCircleTransformer.scala:77 —
    time-of-period projected onto the unit circle (sin θ, cos θ).
  * TimePeriodListTransformer / TimePeriodMapTransformer — same over
    ArrayType / MapType via F.transform / F.transform_values.

DateListVectorizer pivots (SinceFirst/SinceLast) live in operators/date_ops.py.

The reference's "ago" computations default to now() (Transmogrifier.scala:58
``ReferenceDate``); the rebuild makes the reference date an explicit parameter
— determinism is required by the DuckDB oracle gate (SURVEY.md §7).

Timestamps are carried as Spark TimestampType (or epoch-ms longs, the
reference's Date/DateTime physical type); every function accepts either and
normalizes internally.
"""
from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def millis_to_ts(c: Column) -> Column:
    return F.timestamp_millis(c.cast("long"))


_PERIODS = {
    "DayOfMonth": lambda c: F.dayofmonth(c),
    "DayOfWeek": lambda c: F.dayofweek(c),          # 1 = Sunday … 7 = Saturday
    "DayOfYear": lambda c: F.dayofyear(c),
    "HourOfDay": lambda c: F.hour(c),
    "MonthOfYear": lambda c: F.month(c),
    "WeekOfMonth": lambda c: (F.dayofmonth(c) - 1) / 7 + 1,
    "WeekOfYear": lambda c: F.weekofyear(c),        # ISO week
}

_PERIOD_SIZE = {  # for unit-circle projection (DateToUnitCircleTransformer.scala:77)
    "DayOfMonth": 31.0,
    "DayOfWeek": 7.0,
    "DayOfYear": 366.0,
    "HourOfDay": 24.0,
    "MonthOfYear": 12.0,
    "WeekOfYear": 53.0,
}


def time_period(ts: Column, period: str) -> Column:
    """TimePeriodTransformer.scala:47 — extract a calendar unit as Integral."""
    try:
        fn = _PERIODS[period]
    except KeyError:
        raise ValueError(f"unknown TimePeriod {period!r}; one of {sorted(_PERIODS)}") from None
    out = fn(ts)
    if period == "WeekOfMonth":
        out = F.floor(out)
    return out.cast("long")


def time_period_list(ts_list: Column, period: str) -> Column:
    """TimePeriodListTransformer.scala:47 — over array<timestamp/long>."""
    return F.transform(ts_list, lambda t: time_period(millis_to_ts(t), period))


def time_period_map(ts_map: Column, period: str) -> Column:
    """TimePeriodMapTransformer.scala:47 — over map values."""
    return F.transform_values(ts_map, lambda _, t: time_period(millis_to_ts(t), period))


def unit_circle(ts: Column, period: str = "HourOfDay") -> tuple[Column, Column]:
    """DateToUnitCircleTransformer.scala:77 — (sin, cos) of the phase angle.

    θ = 2π * unit / period_size; month/day-of-month are 1-based in Spark so
    they are shifted to 0-based first (matching the reference's
    ``getPeriodWithSize`` randians computation).
    """
    unit = time_period(ts, period).cast("double")
    if period in ("DayOfMonth", "MonthOfYear"):
        unit = unit - 1.0
    size = _PERIOD_SIZE[period]
    theta = unit * (2.0 * math.pi / size)
    return F.sin(theta), F.cos(theta)
