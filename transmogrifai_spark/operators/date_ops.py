"""Date-list and date-map vectorization operators (SURVEY.md §2.8).

Re-expression of:
  * DateListVectorizer  core/.../impl/feature/DateListVectorizer.scala:103 —
    pivots SinceFirst / SinceLast / ModeDay / ModeMonth / ModeHour over a
    DateList (array of epoch-ms longs)
  * DateMapVectorizer   OPMapVectorizer.scala:150 — days-ago per map key
  * DateToUnitCircleTransformer / DateMapToUnitCircleVectorizer
    (scalar forms live in functions/dates.py)

The reference's "ago" computations default to now() (Transmogrifier.scala:58)
— here ``reference_date`` is an explicit required parameter (determinism)."""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..feature import Feature
from ..functions.dates import millis_to_ts
from ..stages.base import ColumnTransformer
from .vectorizers import FittedVectorizer, VectorSlot


def _mode_of_sorted(sorted_u: Column) -> Column:
    """Deterministic mode of a small SORTED long array via one fold:
    max count, ties -> smallest value (the reference's minBy (-c, v))."""
    acc0 = F.struct(F.lit(None).cast("long").alias("best"), F.lit(0).alias("bn"),
                    F.lit(None).cast("long").alias("cur"), F.lit(0).alias("cn"))
    return F.aggregate(
        sorted_u, acc0,
        lambda a, x: F.struct(
            F.when((F.when(x == a["cur"], a["cn"] + 1).otherwise(F.lit(1))) > a["bn"], x)
             .otherwise(a["best"]).alias("best"),
            F.greatest(F.when(x == a["cur"], a["cn"] + 1).otherwise(F.lit(1)), a["bn"]).alias("bn"),
            x.alias("cur"),
            F.when(x == a["cur"], a["cn"] + 1).otherwise(F.lit(1)).alias("cn"),
        ),
        lambda a: a["best"])


def date_list_expr_builder(reference_date: str, pivots):
    """Expression factory of op "dateListVec" (the serving registry builds
    the stage's Column from it)."""
    ref = F.lit(reference_date).cast("timestamp")

    def since(ms: Column) -> Column:
        return F.datediff(ref, millis_to_ts(ms)).cast("double")

    def mode_unit(lst: Column, unit) -> Column:
        units = F.transform(lst, lambda m: unit(millis_to_ts(m)).cast("long"))
        return _mode_of_sorted(F.array_sort(units)).cast("double")

    unit_fns = {"ModeDay": F.dayofweek, "ModeMonth": F.month, "ModeHour": F.hour}

    def make_expr(lst: Column) -> Column:
        empty = lst.isNull() | (F.size(lst) == 0)
        parts = []
        for p in pivots:
            if p == "SinceFirst":
                parts.append(F.when(empty, 0.0).otherwise(since(F.array_min(lst))))
            elif p == "SinceLast":
                parts.append(F.when(empty, 0.0).otherwise(since(F.array_max(lst))))
            elif p in unit_fns:
                parts.append(F.when(empty, -1.0).otherwise(mode_unit(lst, unit_fns[p])))
            else:
                raise ValueError(f"unknown DateList pivot {p!r}")
        return F.array(*parts)

    return make_expr


def date_list_vectorizer(feat: Feature, reference_date: str,
                         pivots: tuple[str, ...] = ("SinceFirst", "SinceLast"),
                         output_name: str | None = None) -> ColumnTransformer:
    """DateListVectorizer.scala:103 — whole-day distances from the reference
    date to the first/last event, and/or modal calendar units of the list.

    Empty/null lists produce 0.0 for Since* (with the implicit semantics of
    the reference's fill) and -1.0 for Mode* slots."""
    out = output_name or f"{feat.name}_vec"
    slots = [VectorSlot(feat.name, descriptor=p) for p in pivots]
    return FittedVectorizer("dateListVec", [feat], out, slots,
                            {"reference_date": reference_date, "pivots": list(pivots)})


# -- one-hot mode pivots (DateListVectorizer.scala:218-258: ModeDay /
# ModeMonth / ModeHour replace the list by a one-hot of the modal calendar
# unit; empty list -> all zeros; trackNulls appends an isEmpty slot) --

_PIVOT_SLOTS = {
    "ModeDay": ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
                "Saturday", "Sunday"],
    "ModeMonth": ["January", "February", "March", "April", "May", "June",
                  "July", "August", "September", "October", "November",
                  "December"],
    "ModeHour": [f"{h}:00" for h in range(24)],
}


def _pivot_unit_index(pivot: str, ts: Column) -> Column:
    """0-based calendar-unit index aligned with the reference's joda calls:
    getDayOfWeek (Mon=1..Sun=7) - 1, getMonthOfYear - 1, getHourOfDay."""
    if pivot == "ModeDay":
        return F.weekday(ts).cast("long")          # Mon=0 .. Sun=6
    if pivot == "ModeMonth":
        return (F.month(ts) - 1).cast("long")      # Jan=0
    return F.hour(ts).cast("long")                 # 0..23


def date_list_pivot_expr_builder(pivot: str, track_nulls: bool):
    size = len(_PIVOT_SLOTS[pivot])

    def make_expr(lst: Column) -> Column:
        empty = lst.isNull() | (F.size(lst) == 0)
        units = F.transform(lst, lambda m: _pivot_unit_index(pivot, millis_to_ts(m)))
        mode = _mode_of_sorted(F.array_sort(units))
        parts = [F.when(~empty & (mode == i), 1.0).otherwise(0.0) for i in range(size)]
        if track_nulls:
            parts.append(F.when(empty, 1.0).otherwise(0.0))
        return F.array(*parts)

    return make_expr


def date_list_pivot_vectorizer(feat: Feature, pivot: str,
                               track_nulls: bool = True,
                               output_name: str | None = None) -> ColumnTransformer:
    """DateListVectorizer with a Mode* pivot (DateListVectorizer.scala:218):
    one-hot of the modal day-of-week / month / hour of the epoch-ms list
    (ties -> smallest unit, matching minBy(-count, unit)); empty list ->
    zero vector (+ null-indicator slot when ``track_nulls``)."""
    if pivot not in _PIVOT_SLOTS:
        raise ValueError(f"pivot must be one of {sorted(_PIVOT_SLOTS)}, got {pivot!r}")
    out = output_name or f"{feat.name}_vec"
    slots = [VectorSlot(feat.name, indicator_value=v) for v in _PIVOT_SLOTS[pivot]]
    if track_nulls:
        slots.append(VectorSlot(feat.name, indicator_value="NullIndicatorValue"))
    return FittedVectorizer("dateListPivotVec", [feat], out, slots,
                            {"pivot": pivot, "track_nulls": track_nulls})


def date_map_days_ago(feat: Feature, keys: list[str], reference_date: str,
                      output_name: str | None = None) -> ColumnTransformer:
    """DateMapVectorizer (OPMapVectorizer.scala:150): per fitted key, whole
    days between the map's epoch-ms value and the reference date."""
    out = output_name or f"{feat.name}_vec"
    slots = [VectorSlot(feat.name, group=k, descriptor="daysAgo") for k in keys]
    return FittedVectorizer("dateMapVec", [feat], out, slots,
                            {"keys": keys, "reference_date": reference_date})
