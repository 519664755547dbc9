"""Vectorization operators — the engine's "SELECT-list compiler" (SURVEY.md §2.10).

Re-expression of:
  * Transmogrifier.transmogrify  core/.../impl/feature/Transmogrifier.scala:92-340
    (defaults:52-90 — TopK=20, MinSupport=10, TrackNulls=true,
    MaxCategoricalCardinality=30)
  * OpSetVectorizer / one-hot TopK+other+null  OpOneHotVectorizer.scala:61,140,164
  * RealVectorizer / IntegralVectorizer / BinaryVectorizer
    RealVectorizer.scala:49, IntegralVectorizer.scala:49, BinaryVectorizer.scala:57
  * SmartTextVectorizer decision logic  SmartTextVectorizer.scala:113-152
    (cardinality<=maxCard -> pivot; topK coverage>=pct -> pivot; else hash)
  * OPCollectionHashingVectorizer / OpHashingTF  OPCollectionHashingVectorizer.scala:59
  * VectorsCombiner  VectorsCombiner.scala:51
  * vector metadata  features/.../utils/spark/OpVectorColumnMetadata.scala:67

Physical decisions:
  * Vectors are ``array<double>`` columns built by pure Column expressions
    (when-chains / transform), not VectorUDT — parquet-friendly, prunable,
    oracle-comparable. ``to_ml_vector`` converts at the model boundary.
  * One-hot fitting is ONE ``groupBy(value).count`` per column (partial agg,
    single shuffle of (value,count) pairs — tiny at any scale), with
    ``approx_count_distinct`` guarding the smart-text cardinality decision so
    the fit never materializes a high-cardinality dictionary (the reference
    bounds its TextStats maps the same way, SmartTextVectorizer.scala:251-259).
  * Hashing vectorizer uses xxhash64 — JVM-side, seedable, no vocabulary at
    all: the 100 TB path for unbounded-cardinality text.
  * Slot metadata (parent feature / grouping / indicator value) lives in an
    engine-side registry attached to the fitted stage, mirroring
    OpVectorMetadata.
"""
from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..feature import Feature
from ..stages.base import ColumnTransformer, Estimator

TOP_K = 20            # Transmogrifier.scala:59 TopK
MIN_SUPPORT = 10      # Transmogrifier.scala:60 MinSupport
MAX_CARDINALITY = 30  # Transmogrifier.scala MaxCategoricalCardinality


@dataclass(frozen=True)
class VectorSlot:
    """OpVectorColumnMetadata.scala:67 — provenance of one vector slot."""

    parent: str
    group: str | None = None
    indicator_value: str | None = None
    descriptor: str | None = None

    @property
    def column_name(self) -> str:
        tail = self.indicator_value or self.descriptor or "value"
        return f"{self.parent}_{tail}"


class FittedVectorizer(ColumnTransformer):
    """A fitted vectorizer: (op_name, params) plus slot metadata. Its Column
    comes from ``serving.registry.expr_for(op_name, params)``, the builder
    that also sits beside the op's local fn, so a fit, a reloaded manifest
    and local scoring share one expression source."""

    def __init__(self, op_name, inputs, output_name, slots: list[VectorSlot],
                 params: dict):
        from ..serving.registry import expr_for
        super().__init__(op_name, inputs, output_name, "OPVector",
                         expr_for(op_name, params))
        self.slots = slots
        self.params = params


def one_hot_estimator(feat: Feature, top_k: int = TOP_K, min_support: int = MIN_SUPPORT,
                      track_nulls: bool = True, output_name: str | None = None) -> Estimator:
    """OpSetVectorizer (OpOneHotVectorizer.scala:61): pivot the top-K values
    by support, an 'other' bucket, and a null indicator.

    Fit = one groupBy(value).count() ordered by (count desc, value asc) — the
    deterministic tie-break the oracle needs; the reference's ordering is its
    RDD topK. Transform = a when-chain per kept value: fused, shuffle-free.
    """
    out = output_name or f"{feat.name}_vec"

    def fit(stage: Estimator, df: DataFrame) -> FittedVectorizer:
        counts = (
            df.where(F.col(feat.name).isNotNull())
            .groupBy(feat.name).agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") >= min_support)
            .orderBy(F.col("n").desc(), F.col(feat.name).asc())
            .limit(top_k)
            .collect()
        )
        values = [r[feat.name] for r in counts]
        slots = [VectorSlot(feat.name, indicator_value=str(v)) for v in values]
        slots.append(VectorSlot(feat.name, indicator_value="OTHER"))
        if track_nulls:
            slots.append(VectorSlot(feat.name, indicator_value="NullIndicatorValue"))
        return FittedVectorizer("oneHot", [feat], out, slots,
                                {"values": values, "track_nulls": track_nulls})

    return Estimator("oneHot", [feat], out, "OPVector", fit)


def real_vectorizer(feat: Feature, fill_with_mean: bool = True,
                    track_nulls: bool = True, output_name: str | None = None) -> Estimator:
    """RealVectorizer.scala:49 — impute mean (fitted via one agg), null slot."""
    out = output_name or f"{feat.name}_vec"

    def fit(stage: Estimator, df: DataFrame) -> FittedVectorizer:
        fill = 0.0
        if fill_with_mean:
            from .numeric import exact_mean
            m = exact_mean(df, feat.name)
            fill = m if m is not None else 0.0
        slots = [VectorSlot(feat.name, descriptor="value")]
        if track_nulls:
            slots.append(VectorSlot(feat.name, indicator_value="NullIndicatorValue"))
        return FittedVectorizer("realVec", [feat], out, slots,
                                {"fill": fill, "track_nulls": track_nulls})

    return Estimator("realVec", [feat], out, "OPVector", fit)


def integral_vectorizer(feat: Feature, track_nulls: bool = True,
                        output_name: str | None = None) -> Estimator:
    """IntegralVectorizer.scala:49 — fill with (deterministic) mode."""
    out = output_name or f"{feat.name}_vec"

    def fit(stage: Estimator, df: DataFrame) -> FittedVectorizer:
        row = (
            df.where(F.col(feat.name).isNotNull())
            .groupBy(feat.name).agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col(feat.name).asc())
            .first()
        )
        fill = float(row[feat.name]) if row else 0.0
        slots = [VectorSlot(feat.name, descriptor="value")]
        if track_nulls:
            slots.append(VectorSlot(feat.name, indicator_value="NullIndicatorValue"))
        return FittedVectorizer("integralVec", [feat], out, slots,
                                {"fill": fill, "track_nulls": track_nulls})

    return Estimator("integralVec", [feat], out, "OPVector", fit)


def binary_vectorizer(feat: Feature, track_nulls: bool = True,
                      output_name: str | None = None) -> ColumnTransformer:
    """BinaryVectorizer.scala:57 — (value, isNull) slots; no fit needed."""
    out = output_name or f"{feat.name}_vec"
    slots = [VectorSlot(feat.name, descriptor="value")]
    if track_nulls:
        slots.append(VectorSlot(feat.name, indicator_value="NullIndicatorValue"))
    return FittedVectorizer("binaryVec", [feat], out, slots,
                            {"track_nulls": track_nulls})


def hashing_vectorizer(feat: Feature, num_features: int = 512, seed: int = 42,
                       output_name: str | None = None) -> ColumnTransformer:
    """OPCollectionHashingVectorizer.scala:59 / OpHashingTF.scala:50 —
    hashing-trick term frequencies over a token array, xxhash64 % N.

    No vocabulary, no fit, no shuffle: the unbounded-cardinality path. The
    reference uses MurmurHash3 (HashAlgorithm.scala); xxhash64 is Spark's
    native 64-bit hash — same role, JVM-side.
    """
    out = output_name or f"{feat.name}_vec"
    slots = [VectorSlot(feat.name, descriptor=f"hash_{i}") for i in range(num_features)]
    return FittedVectorizer("hashingTF", [feat], out, slots,
                            {"num_features": num_features, "seed": seed})


def geolocation_vectorizer(feat: Feature, track_nulls: bool = True,
                           output_name: str | None = None) -> Estimator:
    """GeolocationVectorizer.scala:49 — (lat, lon, accuracy) slots, missing
    rows filled with the fitted geographic mean."""
    out = output_name or f"{feat.name}_vec"

    def fit(stage: Estimator, df: DataFrame) -> FittedVectorizer:
        c = F.col(feat.name)
        row = df.where(c.isNotNull() & (F.size(c) >= 3)).agg(
            *[F.avg(F.element_at(c, i + 1)).alias(f"m{i}") for i in range(3)]).first()
        fills = [float(row[f"m{i}"]) if row[f"m{i}"] is not None else 0.0 for i in range(3)]
        slots = [VectorSlot(feat.name, descriptor=d) for d in ("lat", "lon", "accuracy")]
        if track_nulls:
            slots.append(VectorSlot(feat.name, indicator_value="NullIndicatorValue"))
        return FittedVectorizer("geoVec", [feat], out, slots,
                                {"fills": fills, "track_nulls": track_nulls})

    return Estimator("geoVec", [feat], out, "OPVector", fit)


def combine_vectors(vecs: list[Feature], output_name: str = "features") -> ColumnTransformer:
    """VectorsCombiner.scala:51 — concat array-vectors + merge slot metadata."""
    st = FittedVectorizer("vectorsCombiner", list(vecs), output_name, [], {})
    # RFF: a combiner regenerates over the surviving vector inputs
    st.rebuilder = lambda survivors: combine_vectors(survivors, output_name)
    return st


def transmogrify_batched(features: list[Feature], top_k: int = TOP_K,
                         min_support: int = MIN_SUPPORT, track_nulls: bool = True,
                         output_name: str = "features") -> Feature:
    """Batched transmogrify: ONE estimator fitting every column in two jobs.

    The per-column path runs one fit job per estimator — fine for a handful
    of columns, linear job overhead for hundreds. This form melts all
    categorical/integral columns into (col, value) pairs and aggregates them
    in a single shuffle (per-column topK picked by a window rank, so the
    collect is bounded by cols x topK), and computes every numeric mean in
    one decimal-exact agg pass. 2 jobs total regardless of column count —
    the 100-column/100 TB fitting path.

    Scalar categorical/numeric/binary types only (lists/maps/geo dispatch
    through the per-column ``transmogrify``)."""
    from pyspark.sql.window import Window

    cat_cols, int_cols, real_cols, bin_cols = [], [], [], []
    for f in features:
        t = f.type_tag
        if t.name == "Binary":
            bin_cols.append(f)
        elif not t.is_list and not t.is_map and (t.categorical or t.is_text):
            cat_cols.append(f)
        elif t.name in ("Integral", "Date", "DateTime"):
            int_cols.append(f)
        elif t.is_numeric:
            real_cols.append(f)
        else:
            raise ValueError(f"transmogrify_batched: unsupported type {t.name} "
                             f"({f.name}); use transmogrify()")

    est = Estimator("transmogrify", features, output_name, "OPVector",
                    lambda st, df: _fit_batched(st, df, cat_cols, int_cols,
                                                real_cols, bin_cols, top_k,
                                                min_support, track_nulls,
                                                output_name))
    # RFF: the batched vectorizer regenerates over the surviving columns
    est.rebuilder = lambda survivors: transmogrify_batched(
        survivors, top_k, min_support, track_nulls, output_name).origin_stage
    return est.output


def _fit_batched(stage, df: DataFrame, cat_cols, int_cols, real_cols, bin_cols,
                 top_k, min_support, track_nulls, output_name) -> "FittedVectorizer":
    from pyspark.sql.window import Window

    # job 1: melt categorical+integral columns -> one groupBy(col, value)
    pivot_values: dict[str, list] = {}
    int_modes: dict[str, float] = {}
    melt_feats = cat_cols + int_cols
    if melt_feats:
        pairs = F.array(*[
            F.struct(F.lit(f.name).alias("c"), F.col(f.name).cast("string").alias("v"))
            for f in melt_feats])
        melted = df.select(F.explode(pairs).alias("p")) \
            .select(F.col("p.c").alias("c"), F.col("p.v").alias("v")) \
            .where(F.col("v").isNotNull())
        counts = melted.groupBy("c", "v").agg(F.count(F.lit(1)).alias("n"))
        # integral columns tie-break numerically (the per-column path's rule:
        # smallest VALUE, not smallest string — "2" < "10"); categorical
        # columns keep the string order. try_cast: ANSI-safe under Spark 4.
        int_names = [f.name for f in int_cols]
        num_v = F.when(F.col("c").isin(int_names),
                       F.expr("try_cast(v as double)")) if int_names else F.lit(None)
        w = Window.partitionBy("c").orderBy(F.col("n").desc(),
                                            num_v.asc_nulls_last(),
                                            F.col("v").asc())
        top = counts.withColumn("rn", F.row_number().over(w)) \
            .where((F.col("rn") <= top_k) &
                   ((F.col("n") >= min_support) | (F.col("rn") == 1))).collect()
        by_col: dict[str, list] = {}
        for r in sorted(top, key=lambda r: (r["c"], r["rn"])):
            by_col.setdefault(r["c"], []).append((r["v"], r["n"]))
        for f in cat_cols:
            pivot_values[f.name] = [v for v, n in by_col.get(f.name, [])
                                    if n >= min_support]
        for f in int_cols:
            vs = by_col.get(f.name, [])
            int_modes[f.name] = float(vs[0][0]) if vs else 0.0

    # job 2: every real mean in one decimal-exact agg
    real_fills: dict[str, float] = {}
    if real_cols:
        aggs = []
        for f in real_cols:
            x = F.col(f.name).cast("double")
            aggs.append(F.sum(x.cast("decimal(30,8)")).alias(f"{f.name}__s"))
            aggs.append(F.count(F.col(f.name)).alias(f"{f.name}__n"))
        row = df.agg(*aggs).first()
        for f in real_cols:
            n = row[f"{f.name}__n"]
            real_fills[f.name] = float(row[f"{f.name}__s"]) / n if n else 0.0

    # assemble the slots + serializable params (the registry builds the Column)
    slots: list[VectorSlot] = []
    col_specs: list[dict] = []
    for f in stage.inputs:
        if f in bin_cols:
            col_specs.append({"name": f.name, "kind": "binary"})
            slots.append(VectorSlot(f.name, descriptor="value"))
            if track_nulls:
                slots.append(VectorSlot(f.name, indicator_value="NullIndicatorValue"))
        elif f in cat_cols:
            values = pivot_values.get(f.name, [])
            col_specs.append({"name": f.name, "kind": "pivot", "values": values})
            slots += [VectorSlot(f.name, indicator_value=str(v)) for v in values]
            slots.append(VectorSlot(f.name, indicator_value="OTHER"))
            if track_nulls:
                slots.append(VectorSlot(f.name, indicator_value="NullIndicatorValue"))
        elif f in int_cols:
            col_specs.append({"name": f.name, "kind": "fill", "fill": int_modes.get(f.name, 0.0)})
            slots.append(VectorSlot(f.name, descriptor="value"))
            if track_nulls:
                slots.append(VectorSlot(f.name, indicator_value="NullIndicatorValue"))
        else:
            col_specs.append({"name": f.name, "kind": "fill", "fill": real_fills.get(f.name, 0.0)})
            slots.append(VectorSlot(f.name, descriptor="value"))
            if track_nulls:
                slots.append(VectorSlot(f.name, indicator_value="NullIndicatorValue"))

    return FittedVectorizer("transmogrify", list(stage.inputs), output_name, slots,
                            {"columns": col_specs, "track_nulls": track_nulls})


def transmogrify(features: list[Feature], top_k: int = TOP_K,
                 min_support: int = MIN_SUPPORT, track_nulls: bool = True,
                 output_name: str = "features") -> Feature:
    """Transmogrifier.transmogrify (Transmogrifier.scala:92-340): per-type
    automatic vectorization dispatch, then combine into one vector feature."""
    stages: list = []
    for f in features:
        t = f.type_tag
        if t.name == "Binary":
            stages.append(binary_vectorizer(f, track_nulls))
        elif t.name == "Geolocation":
            stages.append(geolocation_vectorizer(f, track_nulls))
        elif t.name == "MultiPickList" or (t.is_list and t.categorical):
            stages.append(hashing_vectorizer(f))
        elif not t.is_list and not t.is_map and (
                t.categorical or t.name in ("PickList", "ComboBox", "Country", "State",
                                            "City", "PostalCode", "Street", "ID")):
            stages.append(one_hot_estimator(f, top_k, min_support, track_nulls))
        elif t.name in ("Integral", "Date", "DateTime"):
            stages.append(integral_vectorizer(f, track_nulls))
        elif t.is_numeric:
            stages.append(real_vectorizer(f, True, track_nulls))
        elif t.name == "Email":
            # Transmogrifier: Email -> domain pivot (RichTextFeature.toEmailDomain)
            from ..functions.text import email_domain
            dom = ColumnTransformer("emailDomain", [f], f"{f.name}_domain", "PickList",
                                    email_domain)
            stages.append(one_hot_estimator(dom.output, top_k, min_support, track_nulls,
                                            output_name=f"{f.name}_vec"))
        elif t.name == "URL":
            from ..functions.text import url_domain
            dom = ColumnTransformer("urlDomain", [f], f"{f.name}_domain", "PickList",
                                    url_domain)
            stages.append(one_hot_estimator(dom.output, top_k, min_support, track_nulls,
                                            output_name=f"{f.name}_vec"))
        elif t.name == "Phone":
            # Transmogrifier: Phone -> isValid Binary
            from ..functions.text import is_valid_phone_us
            valid = ColumnTransformer("phoneValid", [f], f"{f.name}_valid", "Binary",
                                      lambda c: F.when(c.isNull(), F.lit(None).cast("boolean"))
                                      .otherwise(is_valid_phone_us(c)))
            stages.append(binary_vectorizer(valid.output, track_nulls,
                                            output_name=f"{f.name}_vec"))
        elif t.name == "Base64":
            # Transmogrifier: Base64 -> detected MIME type pivot
            from .categorical import detect_mime_type
            mime = ColumnTransformer("mimeType", [f], f"{f.name}_mime", "PickList",
                                     detect_mime_type)
            stages.append(one_hot_estimator(mime.output, top_k, min_support, track_nulls,
                                            output_name=f"{f.name}_vec"))
        elif t.is_text:
            # Text/TextArea/ID and remaining free-text subtypes: tokenize+hash
            from ..functions.text import tokenize
            tok = ColumnTransformer("tokenize", [f], f"{f.name}_tok", "TextList",
                                    lambda c: tokenize(c))
            stages.append(hashing_vectorizer(tok.output, output_name=f"{f.name}_vec"))
        elif t.is_list:
            stages.append(hashing_vectorizer(f))
        else:
            raise ValueError(f"transmogrify: no dispatch for type {t.name} ({f.name})")
    outs = [s.output for s in stages]
    return combine_vectors(outs, output_name).output


def to_ml_vector(df: DataFrame, array_col: str, out_col: str = "features_ml") -> DataFrame:
    """array<double> -> ml VectorUDT at the model boundary."""
    from pyspark.ml.functions import array_to_vector
    return df.withColumn(out_col, array_to_vector(F.col(array_col)))


def collect_slots(model, vector_name: str = "features") -> list[VectorSlot]:
    """Resolve the slot metadata of a (possibly combined) vector feature from
    a fitted WorkflowModel — the engine-side OpVectorMetadata lookup
    (features/.../utils/spark/OpVectorMetadata.scala).

    Walks the fitted layers: a vectorizer's slots are its own; a combiner's
    slots are the concatenation of its inputs' slots in input order."""
    by_output: dict[str, object] = {}
    for layer in model.layers:
        for s in layer:
            by_output[s.output_name] = s

    def resolve(name: str) -> list[VectorSlot]:
        st = by_output.get(name)
        if st is None:
            return []
        if st.op_name == "vectorsCombiner":
            out: list[VectorSlot] = []
            for f in st.inputs:
                out.extend(resolve(f.name))
            return out
        return list(getattr(st, "slots", []))

    return resolve(vector_name)
