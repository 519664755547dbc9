"""Map-typed vectorizers — the OPMapVectorizer family (SURVEY.md §2.10).

Re-expression of:
  * OPMapVectorizer family  core/.../impl/feature/OPMapVectorizer.scala:60
    (BinaryMapVectorizer:107, IntegralMapVectorizer:120, RealMapVectorizer:224,
    DateMapVectorizer:150) — per-key numeric vectorization with allow/block
    lists and fitted fills
  * TextMapPivotVectorizer  TextMapPivotVectorizer.scala:53 — categorical map
    pivot (per key, top-K values one-hot)
  * MultiPickListMapVectorizer  MultiPickListMapVectorizer.scala:49
  * TextMapLenEstimator / TextMapNullEstimator  TextMapLenEstimator.scala:44,
    TextMapNullEstimator.scala:47

Fit plan: ONE explode -> groupBy(key) aggregation discovers the key universe
+ per-key statistics (fills / top values) — the shuffle carries (key, stats)
pairs, bounded by the number of distinct map keys, not by rows. Transform is
a pure expression over ``try_element_at`` per fitted key — fused, no
explode in the hot path.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..feature import Feature
from ..stages.base import Estimator
from .vectorizers import FittedVectorizer, VectorSlot


def real_map_vectorizer(feat: Feature, allow_keys: list[str] | None = None,
                        block_keys: list[str] | None = None,
                        fill_with_mean: bool = True, track_nulls: bool = True,
                        output_name: str | None = None) -> Estimator:
    """RealMapVectorizer (OPMapVectorizer.scala:224): one slot per discovered
    map key (+ null indicator), missing values filled with that key's fitted
    mean."""
    out = output_name or f"{feat.name}_vec"

    def fit(stage: Estimator, df: DataFrame) -> FittedVectorizer:
        exploded = df.select(F.explode(F.col(feat.name)).alias("_k", "_v"))
        if allow_keys is not None:
            exploded = exploded.where(F.col("_k").isin(allow_keys))
        if block_keys:
            exploded = exploded.where(~F.col("_k").isin(block_keys))
        stats = (exploded.groupBy("_k")
                 .agg((F.sum(F.col("_v").cast("decimal(30,8)")).cast("double")
                       / F.count("_v")).alias("mean"))
                 .orderBy("_k").collect())
        keys = [r["_k"] for r in stats]
        fills = {r["_k"]: (float(r["mean"]) if fill_with_mean and r["mean"] is not None
                           else 0.0) for r in stats}
        slots = [VectorSlot(feat.name, group=k, descriptor="value") for k in keys]
        if track_nulls:
            slots += [VectorSlot(feat.name, group=k, indicator_value="NullIndicatorValue")
                      for k in keys]
        return FittedVectorizer("realMapVec", [feat], out, slots,
                                {"keys": keys, "fills": fills, "track_nulls": track_nulls})

    return Estimator("realMapVec", [feat], out, "OPVector", fit)


def binary_map_vectorizer(feat: Feature, track_nulls: bool = True,
                          output_name: str | None = None) -> Estimator:
    """BinaryMapVectorizer (OPMapVectorizer.scala:107)."""
    out = output_name or f"{feat.name}_vec"

    def fit(stage: Estimator, df: DataFrame) -> FittedVectorizer:
        keys = [r["_k"] for r in df.select(F.explode(F.map_keys(F.col(feat.name))).alias("_k"))
                .distinct().orderBy("_k").collect()]
        slots = [VectorSlot(feat.name, group=k, descriptor="value") for k in keys]
        if track_nulls:
            slots += [VectorSlot(feat.name, group=k, indicator_value="NullIndicatorValue")
                      for k in keys]
        return FittedVectorizer("binaryMapVec", [feat], out, slots,
                                {"keys": keys, "track_nulls": track_nulls})

    return Estimator("binaryMapVec", [feat], out, "OPVector", fit)


def text_map_pivot_vectorizer(feat: Feature, top_k: int = 20, min_support: int = 1,
                              track_nulls: bool = True,
                              output_name: str | None = None) -> Estimator:
    """TextMapPivotVectorizer.scala:53 — per map key, one-hot the top-K
    values (+ OTHER + null indicator per key)."""
    out = output_name or f"{feat.name}_vec"

    def fit(stage: Estimator, df: DataFrame) -> FittedVectorizer:
        counts = (df.select(F.explode(F.col(feat.name)).alias("_k", "_v"))
                  .groupBy("_k", "_v").agg(F.count(F.lit(1)).alias("n"))
                  .where(F.col("n") >= min_support).collect())
        by_key: dict[str, list[tuple[str, int]]] = {}
        for r in counts:
            by_key.setdefault(r["_k"], []).append((r["_v"], r["n"]))
        pivots = {k: [v for v, _ in sorted(vs, key=lambda t: (-t[1], t[0]))[:top_k]]
                  for k, vs in sorted(by_key.items())}
        slots = []
        for k in sorted(pivots):
            for v in pivots[k]:
                slots.append(VectorSlot(feat.name, group=k, indicator_value=str(v)))
            slots.append(VectorSlot(feat.name, group=k, indicator_value="OTHER"))
            if track_nulls:
                slots.append(VectorSlot(feat.name, group=k, indicator_value="NullIndicatorValue"))
        return FittedVectorizer("textMapPivotVec", [feat], out, slots,
                                {"pivots": pivots, "track_nulls": track_nulls})

    return Estimator("textMapPivotVec", [feat], out, "OPVector", fit)


def smart_text_map_vectorizer(feat: Feature, max_cardinality: int = 30,
                              top_k: int = 20, min_support: int = 1,
                              hash_features: int = 64, track_nulls: bool = True,
                              output_name: str | None = None) -> Estimator:
    """SmartTextMapVectorizer.scala:61 — per map key, decide pivot vs hash
    from bounded fitted stats (the per-column SmartTextVectorizer decision,
    applied key-wise). One explode + one groupBy(key, value) with a window
    topK discovers everything; high-cardinality keys fall back to the
    hashing trick over their tokenized values."""
    from pyspark.sql.window import Window

    out = output_name or f"{feat.name}_vec"

    def fit(stage: Estimator, df: DataFrame) -> FittedVectorizer:
        exploded = df.select(F.explode(F.col(feat.name)).alias("_k", "_v"))
        card = {r["_k"]: r["c"] for r in
                exploded.groupBy("_k").agg(F.approx_count_distinct("_v").alias("c")).collect()}
        counts = exploded.groupBy("_k", "_v").agg(F.count(F.lit(1)).alias("n"))
        w = Window.partitionBy("_k").orderBy(F.col("n").desc(), F.col("_v").asc())
        top = counts.withColumn("rn", F.row_number().over(w)) \
            .where((F.col("rn") <= top_k) & (F.col("n") >= min_support)).collect()
        by_key: dict[str, list[str]] = {}
        for r in sorted(top, key=lambda r: (r["_k"], r["rn"])):
            by_key.setdefault(r["_k"], []).append(r["_v"])
        strategies = {k: ("pivot" if card.get(k, 0) <= max_cardinality else "hash")
                      for k in sorted(card)}
        slots: list[VectorSlot] = []
        for k in sorted(strategies):
            if strategies[k] == "pivot":
                for v in by_key.get(k, []):
                    slots.append(VectorSlot(feat.name, group=k, indicator_value=str(v)))
                slots.append(VectorSlot(feat.name, group=k, indicator_value="OTHER"))
            else:
                slots += [VectorSlot(feat.name, group=k, descriptor=f"hash_{i}")
                          for i in range(hash_features)]
            if track_nulls:
                slots.append(VectorSlot(feat.name, group=k, indicator_value="NullIndicatorValue"))
        return FittedVectorizer("smartTextMapVec", [feat], out, slots,
                                {"strategies": strategies, "pivots": by_key,
                                 "hash_features": hash_features,
                                 "track_nulls": track_nulls})

    return Estimator("smartTextMapVec", [feat], out, "OPVector", fit)


def text_list_null_vectorizer(feat: Feature, output_name: str | None = None):
    """TextListNullTransformer.scala:48 — (isEmpty) indicator for a list."""
    from ..stages.base import ColumnTransformer
    out = output_name or f"{feat.name}_null_vec"
    return ColumnTransformer(
        "textListNull", [feat], out, "OPVector",
        lambda c: F.array(F.when(c.isNull() | (F.size(c) == 0), 1.0).otherwise(0.0)))


def text_map_null_vectorizer(feat: Feature, output_name: str | None = None) -> Estimator:
    """TextMapNullEstimator.scala:47 — per fitted key, null indicator."""
    out = output_name or f"{feat.name}_null_vec"

    def fit(stage: Estimator, df: DataFrame) -> FittedVectorizer:
        keys = [r["_k"] for r in df.select(F.explode(F.map_keys(F.col(feat.name))).alias("_k"))
                .distinct().orderBy("_k").collect()]
        slots = [VectorSlot(feat.name, group=k, indicator_value="NullIndicatorValue")
                 for k in keys]
        return FittedVectorizer("textMapNullVec", [feat], out, slots, {"keys": keys})

    return Estimator("textMapNullVec", [feat], out, "OPVector", fit)


def text_map_len_vectorizer(feat: Feature, output_name: str | None = None) -> Estimator:
    """TextMapLenEstimator.scala:44 — per-key value lengths."""
    out = output_name or f"{feat.name}_len_vec"

    def fit(stage: Estimator, df: DataFrame) -> FittedVectorizer:
        keys = [r["_k"] for r in df.select(F.explode(F.map_keys(F.col(feat.name))).alias("_k"))
                .distinct().orderBy("_k").collect()]
        slots = [VectorSlot(feat.name, group=k, descriptor="length") for k in keys]
        return FittedVectorizer("textMapLenVec", [feat], out, slots, {"keys": keys})

    return Estimator("textMapLenVec", [feat], out, "OPVector", fit)


def geolocation_map_vectorizer(feat: Feature, allow_keys: list[str] | None = None,
                               block_keys: list[str] | None = None,
                               track_nulls: bool = True,
                               default_value: tuple[float, float, float] = (0.0, 0.0, 0.0),
                               output_name: str | None = None) -> Estimator:
    """GeolocationMapVectorizer (GeolocationMapVectorizer.scala:42): fit
    discovers the key universe (one explode -> distinct keys, sorted);
    transform emits (lat, lon, accuracy) per fitted key — missing keys fill
    with the default geolocation (reference default Geolocation(0,0,Unknown)
    = (0,0,0)) — with a per-key null indicator appended after each triple
    when ``track_nulls`` (the reference's grouped(3) interleave)."""
    out = output_name or f"{feat.name}_vec"

    def fit(stage: Estimator, df: DataFrame) -> FittedVectorizer:
        exploded = df.select(F.explode(F.map_keys(F.col(feat.name))).alias("_k"))
        if allow_keys is not None:
            exploded = exploded.where(F.col("_k").isin(allow_keys))
        if block_keys:
            exploded = exploded.where(~F.col("_k").isin(block_keys))
        keys = [r["_k"] for r in exploded.distinct().orderBy("_k").collect()]
        slots: list[VectorSlot] = []
        for k in keys:
            slots += [VectorSlot(feat.name, group=k, descriptor=d)
                      for d in ("lat", "lon", "accuracy")]
            if track_nulls:
                slots.append(VectorSlot(feat.name, group=k,
                                        indicator_value="NullIndicatorValue"))
        return FittedVectorizer("geoMapVec", [feat], out, slots,
                                {"keys": keys, "track_nulls": track_nulls,
                                 "default_value": [float(v) for v in default_value]})

    return Estimator("geoMapVec", [feat], out, "OPVector", fit)
