"""Map-typed column expressions.

Re-expression of SURVEY.md §2.5/§2.10 map operators:
  * FilterMap        core/.../impl/feature/FilterMap.scala:45 —
    allowlist/blocklist keys, optional key cleaning.
  * map extraction for the OPMapVectorizer family (OPMapVectorizer.scala:60):
    pulling typed values out of map columns per key.
  * TextMap parsing: the reference receives maps natively from Avro; the
    rebuild also parses JSON-string columns (events.props in the driver
    testdata) via from_json — JVM-side, no UDF.

All native Catalyst map functions (map_filter / map_contains_key /
transform_values) — at scale these run inside codegen with zero shuffle.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def parse_json_map(c: Column, value_type: str = "string") -> Column:
    """JSON object string -> map<string,V>."""
    return F.from_json(c, f"map<string,{value_type}>")


def filter_map_keys(m: Column, allow: list[str] | None = None,
                    block: list[str] | None = None, clean_keys: bool = False) -> Column:
    """FilterMap.scala:45 — keep allowlisted keys, drop blocklisted ones;
    ``clean_keys`` lowercases and strips non-alphanumerics from keys."""
    out = m
    if allow is not None:
        allowed = F.array(*[F.lit(k) for k in allow])
        out = F.map_filter(out, lambda k, _: F.array_contains(allowed, k))
    if block:
        blocked = F.array(*[F.lit(k) for k in block])
        out = F.map_filter(out, lambda k, _: ~F.array_contains(blocked, k))
    if clean_keys:
        out = F.map_from_arrays(
            F.transform(F.map_keys(out), lambda k: F.regexp_replace(F.lower(k), r"[^a-z0-9]", "")),
            F.map_values(out),
        )
    return out


def map_get(m: Column, key: str) -> Column:
    """Typed per-key extraction (the core move of OPMapVectorizer.scala:60).
    try_element_at: NULL for absent keys under ANSI mode too."""
    return F.try_element_at(m, F.lit(key))


def map_to_multipicklist(m: Column) -> Column:
    """PickListMap -> MultiPickList of values (RichMapFeature DSL)."""
    return F.array_distinct(F.map_values(m))
