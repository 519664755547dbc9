"""Multi-label utilities + custom monoid + slot dropping (SURVEY.md §2.12 /
§2.1 / §2.5 tails).

Re-expression of:
  * MultiLabelJoiner / TopNLabelProbMap / TopNLabelJoiner
    core/.../impl/feature/MultiLabelJoiner.scala:44,67,89 — join a label
    array with a probability vector into a map; keep the top-N entries.
  * DropIndicesByTransformer  core/.../impl/feature/DropIndicesByTransformer.scala:50
    — drop vector slots whose metadata matches a predicate.
  * CustomMonoidAggregator  features/.../aggregators/CustomMonoidAggregator.scala:45
    — user-supplied associative combine over events, expressed as a fold of
    ``collect_list`` for arbitrary Python combiners or (preferred) a
    user-supplied native aggregate expression.
"""
from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..feature import Feature
from ..operators.vectorizers import FittedVectorizer, VectorSlot
from ..stages.base import ColumnTransformer


def multi_label_joiner(labels: list[str], probs: Column) -> Column:
    """MultiLabelJoiner.scala:44 — map label -> probability."""
    return F.map_from_arrays(F.array(*[F.lit(l) for l in labels]), probs)


def top_n_label_prob_map(labels: list[str], probs: Column, n: int) -> Column:
    """TopNLabelProbMap.scala:67 — keep the N highest-probability entries
    (ties -> label ascending, deterministic)."""
    entries = F.array(*[
        F.struct(F.lit(l).alias("label"), probs[i].alias("p"))
        for i, l in enumerate(labels)])
    ranked = F.array_sort(entries, lambda a, b:
                          F.when(a["p"] > b["p"], -1).when(a["p"] < b["p"], 1)
                          .otherwise(F.when(a["label"] < b["label"], -1).otherwise(1)))
    top = F.slice(ranked, 1, n)
    return F.map_from_entries(F.transform(top, lambda e: F.struct(e["label"], e["p"])))


def top_n_label_joiner(labels: list[str], probs: Column, n: int) -> Column:
    """TopNLabelJoiner.scala:89 — just the top-N labels (array<string>)."""
    m = top_n_label_prob_map(labels, probs, n)
    return F.map_keys(m)


def drop_indices_by(vec: Feature, predicate: Callable[[VectorSlot], bool],
                    slots: list[VectorSlot], output_name: str | None = None) -> ColumnTransformer:
    """DropIndicesByTransformer.scala:50 — drop slots whose metadata matches
    the predicate (e.g. all null-indicator slots)."""
    out = output_name or f"{vec.name}_dropped"
    keep = [i for i, s in enumerate(slots) if not predicate(s)]
    return FittedVectorizer("dropIndicesBy", [vec], out, [slots[i] for i in keep],
                            {"keep": keep})


def custom_monoid(expr_fn: Callable[[Column], Column]) -> Callable:
    """CustomMonoidAggregator.scala:45 — the preferred form: the user supplies
    a native aggregate-expression factory (stays in Tungsten). Returns an
    AggFactory usable in AggSpec via aggregators.MONOIDS registration or
    directly with aggregate_events."""
    def factory(c: Column, ts: Column | None = None) -> Column:
        return expr_fn(c)
    return factory


def register_monoid(name: str, expr_fn: Callable[[Column], Column]) -> None:
    """Register a custom monoid under a name usable in AggSpec.monoid."""
    from ..aggregators import MONOIDS
    MONOIDS[name] = custom_monoid(expr_fn)
