"""Row-level filter/predicate/projection operators (SURVEY.md §2.5).

Each builds a ColumnTransformer stage over Features, compiling to a native
Catalyst expression:
  * FilterTransformer   core/.../impl/feature/FilterTransformer.scala:39
  * ExistsTransformer   ExistsTransformer.scala:40
  * ToOccurTransformer  ToOccurTransformer.scala:47
  * ReplaceTransformer  ReplaceTransformer.scala:39
  * SubstringTransformer SubstringTransformer.scala:48
  * AliasTransformer    AliasTransformer.scala:51
  * FilterMap           FilterMap.scala:45 (expression in functions/maps.py)
"""
from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..feature import Feature
from ..stages.base import ColumnTransformer, unary
from ..functions.maps import filter_map_keys


def filter_value(feat: Feature, predicate: Callable[[Column], Column],
                 default=None, output_name: str | None = None) -> Feature:
    """FilterTransformer.scala:39 — ``if p(x) then x else default`` per row."""
    out = output_name or f"{feat.name}_filtered"
    return unary("filter", feat, out, feat.type_tag.name,
                 lambda c: F.when(predicate(c), c).otherwise(F.lit(default)))


def exists(feat: Feature, predicate: Callable[[Column], Column],
           output_name: str | None = None) -> Feature:
    """ExistsTransformer.scala:40 — predicate -> Binary (null-safe false)."""
    out = output_name or f"{feat.name}_exists"
    return unary("exists", feat, out, "Binary",
                 lambda c: F.coalesce(predicate(c), F.lit(False)))


def to_occur(feat: Feature, match: Callable[[Column], Column] | None = None,
             output_name: str | None = None) -> Feature:
    """ToOccurTransformer.scala:47 — non-empty (or matchFn) -> 1.0 else 0.0."""
    out = output_name or f"{feat.name}_occurs"
    pred = match if match is not None else (lambda c: c.isNotNull())
    return unary("toOccur", feat, out, "RealNN",
                 lambda c: F.when(F.coalesce(pred(c), F.lit(False)), F.lit(1.0)).otherwise(F.lit(0.0)))


def replace(feat: Feature, old, new, output_name: str | None = None) -> Feature:
    """ReplaceTransformer.scala:39 — value substitution (null-safe equality)."""
    out = output_name or f"{feat.name}_replaced"
    return unary("replace", feat, out, feat.type_tag.name,
                 lambda c: F.when(c.eqNullSafe(F.lit(old)), F.lit(new)).otherwise(c))


def substring_of(needle: Feature, haystack: Feature, output_name: str | None = None) -> Feature:
    """SubstringTransformer.scala:48 — Text x Text -> Binary."""
    from ..stages.base import binary as _binary
    from ..functions.text import is_substring
    out = output_name or f"{needle.name}_in_{haystack.name}"
    return _binary("substring", needle, haystack, out, "Binary", is_substring)


def alias(feat: Feature, new_name: str) -> Feature:
    """AliasTransformer.scala:51 — rename a feature (persistable identity)."""
    from ..operators.numeric import FittedParamTransformer
    st = FittedParamTransformer("alias", [feat], new_name, feat.type_tag.name, {})
    return st.output


def filter_map(feat: Feature, allow=None, block=None, clean_keys=False,
               output_name: str | None = None) -> Feature:
    """FilterMap.scala:45 as a stage."""
    out = output_name or f"{feat.name}_filtered"
    return unary("filterMap", feat, out, feat.type_tag.name,
                 lambda c: filter_map_keys(c, allow, block, clean_keys))
