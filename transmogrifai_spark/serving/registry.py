"""Stage builder registry: a fitted stage's (op_name, params) -> its Spark
Column builder and its local row fn.

This is the contract behind the reference's ``OpTransformer`` triple path
(features/.../stages/OpPipelineStages.scala:526-550: ``transform`` /
``transformRow`` / ``transformKeyValue``) and its save/load machinery
(OpPipelineStageReaderWriter.scala). A fitted stage is (op_name, params):
``FittedVectorizer`` and ``FittedParamTransformer`` take no expression, they
build their Column here through ``expr_for``, at fit time and when a manifest
is loaded alike. This module is the only place a fitted stage's Column is
written, beside the op's local fn, so the fitted, reloaded and local forms
cannot drift apart; a fit records in ``params`` every argument its
expression reads. Spark path and local path are asserted equal in tests (the
reference's OpTransformerSpec law, features/.../test/OpTransformerSpec.scala:53-91).

Local fns receive the input values (already Python scalars) and return the
output value; None propagates per the reference's null semantics. An op
registered without a local fn (``smartTextMapVec``, ``dropIndicesBy``) saves
and loads; ``compile_local`` rejects it at compile time.
"""
from __future__ import annotations

import math
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# op_name -> (make_expr_builder(params) -> Callable[[Column...], Column],
#             local_builder(params) -> Callable[[Any...], Any] | None)
REGISTRY: dict[str, tuple[Callable, Callable | None]] = {}


def register(op_name: str, expr_builder: Callable, local_builder: Callable | None):
    REGISTRY[op_name] = (expr_builder, local_builder)


def expr_for(op_name: str, params: dict) -> Callable:
    return REGISTRY[op_name][0](params)


def local_for(op_name: str, params: dict) -> Callable:
    builder = REGISTRY[op_name][1]
    if builder is None:
        raise NotImplementedError(f"stage {op_name!r} has no local (Spark-free) form")
    return builder(params)


def supports(op_name: str) -> bool:
    return op_name in REGISTRY


# ---------------------------------------------------------------------------
# vectorizers
# ---------------------------------------------------------------------------

def _onehot_expr(p):
    values, track_nulls = p["values"], p["track_nulls"]

    def make_expr(c: Column) -> Column:
        hot = [F.when(c.eqNullSafe(F.lit(v)), 1.0).otherwise(0.0) for v in values]
        known = F.lit(False)
        for v in values:
            known = known | c.eqNullSafe(F.lit(v))
        parts = hot + [F.when(c.isNotNull() & ~known, 1.0).otherwise(0.0)]
        if track_nulls:
            parts.append(F.when(c.isNull(), 1.0).otherwise(0.0))
        return F.array(*parts)
    return make_expr


def _onehot_local(p):
    values, track_nulls = p["values"], p["track_nulls"]

    def fn(x):
        out = [1.0 if x == v and x is not None else 0.0 for v in values]
        out.append(1.0 if x is not None and x not in values else 0.0)
        if track_nulls:
            out.append(1.0 if x is None else 0.0)
        return out
    return fn


register("oneHot", _onehot_expr, _onehot_local)


def _fillvec_expr(p):
    fill, track_nulls = p["fill"], p["track_nulls"]

    def make_expr(c: Column) -> Column:
        parts = [F.coalesce(c.cast("double"), F.lit(fill))]
        if track_nulls:
            parts.append(F.when(c.isNull(), 1.0).otherwise(0.0))
        return F.array(*parts)
    return make_expr


def _fillvec_local(p):
    fill, track_nulls = p["fill"], p["track_nulls"]

    def fn(x):
        out = [float(x) if x is not None else fill]
        if track_nulls:
            out.append(1.0 if x is None else 0.0)
        return out
    return fn


register("realVec", _fillvec_expr, _fillvec_local)
register("integralVec", _fillvec_expr, _fillvec_local)


def _binaryvec_expr(p):
    track_nulls = p["track_nulls"]

    def make_expr(c: Column) -> Column:
        parts = [F.when(c.eqNullSafe(F.lit(True)), 1.0).otherwise(0.0)]
        if track_nulls:
            parts.append(F.when(c.isNull(), 1.0).otherwise(0.0))
        return F.array(*parts)
    return make_expr


def _binaryvec_local(p):
    track_nulls = p["track_nulls"]

    def fn(x):
        out = [1.0 if x is True else 0.0]
        if track_nulls:
            out.append(1.0 if x is None else 0.0)
        return out
    return fn


register("binaryVec", _binaryvec_expr, _binaryvec_local)


def _geovec_expr(p):
    fills, track_nulls = p["fills"], p["track_nulls"]

    def make_expr(c: Column) -> Column:
        ok = c.isNotNull() & (F.size(c) >= 3)
        parts = [F.when(ok, F.element_at(c, i + 1)).otherwise(F.lit(fills[i]))
                 for i in range(3)]
        if track_nulls:
            parts.append(F.when(ok, 0.0).otherwise(1.0))
        return F.array(*parts)
    return make_expr


def _geovec_local(p):
    fills, track_nulls = p["fills"], p["track_nulls"]

    def fn(x):
        ok = x is not None and len(x) >= 3
        out = [float(x[i]) if ok else fills[i] for i in range(3)]
        if track_nulls:
            out.append(0.0 if ok else 1.0)
        return out
    return fn


register("geoVec", _geovec_expr, _geovec_local)


def _hashing_expr(p):
    n, seed = p["num_features"], p["seed"]

    def make_expr(tokens: Column) -> Column:
        toks = F.coalesce(tokens, F.array().cast("array<string>"))  # null -> zero vector
        idx = F.transform(toks, lambda t: F.pmod(F.xxhash64(t, F.lit(seed)), F.lit(n)))
        buckets = F.sequence(F.lit(0), F.lit(n - 1))
        return F.transform(buckets,
                           lambda b: F.size(F.filter(idx, lambda i: i == b)).cast("double"))
    return make_expr


def _hashing_local(p):
    n, seed = p["num_features"], p["seed"]
    from .xxhash import spark_xxhash64

    def fn(tokens):
        out = [0.0] * n
        for t in tokens or []:
            out[spark_xxhash64(t, seed) % n] += 1.0
        return out
    return fn


register("hashingTF", _hashing_expr, _hashing_local)


def _combiner_expr(p):
    def make_expr(*cols: Column) -> Column:
        return F.concat(*cols)
    return make_expr


def _combiner_local(p):
    def fn(*vecs):
        out = []
        for v in vecs:
            out.extend(v or [])
        return out
    return fn


register("vectorsCombiner", _combiner_expr, _combiner_local)


def _transmogrify_expr(p):
    specs, track_nulls = p["columns"], p["track_nulls"]

    def make_expr(*cols: Column) -> Column:
        parts: list[Column] = []
        for spec, c in zip(specs, cols):
            kind = spec["kind"]
            if kind == "binary":
                parts.append(F.when(c.eqNullSafe(F.lit(True)), 1.0).otherwise(0.0))
            elif kind == "pivot":
                values = spec["values"]
                known = F.lit(False)
                sc = c.cast("string")
                for v in values:
                    parts.append(F.when(sc.eqNullSafe(F.lit(v)), 1.0).otherwise(0.0))
                    known = known | sc.eqNullSafe(F.lit(v))
                parts.append(F.when(c.isNotNull() & ~known, 1.0).otherwise(0.0))
            else:  # fill
                parts.append(F.coalesce(c.cast("double"), F.lit(spec["fill"])))
            if track_nulls:
                parts.append(F.when(c.isNull(), 1.0).otherwise(0.0))
        return F.array(*parts)
    return make_expr


def _transmogrify_local(p):
    specs, track_nulls = p["columns"], p["track_nulls"]

    def fn(*vals):
        out: list[float] = []
        for spec, x in zip(specs, vals):
            kind = spec["kind"]
            if kind == "binary":
                out.append(1.0 if x is True else 0.0)
            elif kind == "pivot":
                values = spec["values"]
                s = None if x is None else str(x)
                for v in values:
                    out.append(1.0 if s == v else 0.0)
                out.append(1.0 if s is not None and s not in values else 0.0)
            else:
                out.append(float(x) if x is not None else spec["fill"])
            if track_nulls:
                out.append(1.0 if x is None else 0.0)
        return out
    return fn


register("transmogrify", _transmogrify_expr, _transmogrify_local)


def _slice_expr(p):
    keep = p["keep"]

    def make_expr(c: Column, *_rest: Column) -> Column:
        return F.array(*[F.element_at(c, i + 1) for i in keep])
    return make_expr


def _slice_local(p):
    keep = p["keep"]

    def fn(x, *_rest):
        return [x[i] for i in keep] if x is not None else None
    return fn


register("minVariance", _slice_expr, _slice_local)
register("sanityChecker", _slice_expr, _slice_local)


def local_tokenize(text, min_token_length: int = 1) -> list[str]:
    """Python mirror of functions.text.tokenize (lowercase, split on
    non-alphanumerics). Uses str.isalnum() for the \\p{L}\\p{N} classes —
    equivalent on the BMP alphanumerics the tokenizer targets."""
    if text is None:
        return []
    toks, cur = [], []
    for ch in text.lower():
        if ch.isalnum():
            cur.append(ch)
        elif cur:
            toks.append("".join(cur))
            cur = []
    if cur:
        toks.append("".join(cur))
    return [t for t in toks if len(t) >= min_token_length]


def _smart_text_hash_expr(p):
    from ..functions.text import tokenize
    inner = _hashing_expr(p)
    return lambda c: inner(tokenize(c))


def _smart_text_hash_local(p):
    inner = _hashing_local(p)
    return lambda x: inner(local_tokenize(x))


register("smartTextPivot", _onehot_expr, _onehot_local)
register("smartTextHash", _smart_text_hash_expr, _smart_text_hash_local)


# ---------------------------------------------------------------------------
# map / smart-text / date vectorizers
# ---------------------------------------------------------------------------

def _real_map_expr(p):
    keys, fills, track_nulls = p["keys"], p["fills"], p["track_nulls"]

    def make_expr(m: Column) -> Column:
        parts = [F.coalesce(F.try_element_at(m, F.lit(k)).cast("double"),
                            F.lit(fills[k])) for k in keys]
        if track_nulls:
            parts += [F.when(F.try_element_at(m, F.lit(k)).isNull(), 1.0).otherwise(0.0)
                      for k in keys]
        return F.array(*parts)
    return make_expr


def _real_map_local(p):
    keys, fills, track_nulls = p["keys"], p["fills"], p["track_nulls"]

    def fn(m):
        m = m or {}
        out = [float(m[k]) if m.get(k) is not None else fills[k] for k in keys]
        if track_nulls:
            out += [1.0 if m.get(k) is None else 0.0 for k in keys]
        return out
    return fn


register("realMapVec", _real_map_expr, _real_map_local)


def _binary_map_expr(p):
    keys, track_nulls = p["keys"], p["track_nulls"]

    def make_expr(m: Column) -> Column:
        parts = [F.when(F.try_element_at(m, F.lit(k)).eqNullSafe(F.lit(True)), 1.0)
                 .otherwise(0.0) for k in keys]
        if track_nulls:
            parts += [F.when(F.try_element_at(m, F.lit(k)).isNull(), 1.0).otherwise(0.0)
                      for k in keys]
        return F.array(*parts)
    return make_expr


def _binary_map_local(p):
    keys, track_nulls = p["keys"], p["track_nulls"]

    def fn(m):
        m = m or {}
        out = [1.0 if m.get(k) is True else 0.0 for k in keys]
        if track_nulls:
            out += [1.0 if m.get(k) is None else 0.0 for k in keys]
        return out
    return fn


register("binaryMapVec", _binary_map_expr, _binary_map_local)


def _text_map_pivot_expr(p):
    pivots, track_nulls = p["pivots"], p["track_nulls"]

    def make_expr(m: Column) -> Column:
        parts = []
        for k in sorted(pivots):
            val = F.try_element_at(m, F.lit(k))
            known = F.lit(False)
            for v in pivots[k]:
                parts.append(F.when(val.eqNullSafe(F.lit(v)), 1.0).otherwise(0.0))
                known = known | val.eqNullSafe(F.lit(v))
            parts.append(F.when(val.isNotNull() & ~known, 1.0).otherwise(0.0))
            if track_nulls:
                parts.append(F.when(val.isNull(), 1.0).otherwise(0.0))
        return F.array(*parts)
    return make_expr


def _text_map_pivot_local(p):
    pivots, track_nulls = p["pivots"], p["track_nulls"]

    def fn(m):
        m = m or {}
        out = []
        for k in sorted(pivots):
            v = m.get(k)
            for val in pivots[k]:
                out.append(1.0 if v == val else 0.0)
            out.append(1.0 if v is not None and v not in pivots[k] else 0.0)
            if track_nulls:
                out.append(1.0 if v is None else 0.0)
        return out
    return fn


register("textMapPivotVec", _text_map_pivot_expr, _text_map_pivot_local)


def _text_map_len_expr(p):
    keys = p["keys"]

    def make_expr(m: Column) -> Column:
        return F.array(*[
            F.coalesce(F.length(F.try_element_at(m, F.lit(k))).cast("double"), F.lit(0.0))
            for k in keys])
    return make_expr


def _smart_text_map_expr(p):
    from ..functions.text import tokenize
    strategies, pivots = p["strategies"], p["pivots"]
    n, track_nulls = p["hash_features"], p["track_nulls"]

    def make_expr(m: Column) -> Column:
        # segments: each either a 1-element array (scalar slot) or the
        # hash-bucket array; one flatten assembles the vector
        segments: list[Column] = []
        for k in sorted(strategies):
            val = F.try_element_at(m, F.lit(k))
            if strategies[k] == "pivot":
                known = F.lit(False)
                for v in pivots.get(k, []):
                    segments.append(F.array(
                        F.when(val.eqNullSafe(F.lit(v)), 1.0).otherwise(0.0)))
                    known = known | val.eqNullSafe(F.lit(v))
                segments.append(F.array(
                    F.when(val.isNotNull() & ~known, 1.0).otherwise(0.0)))
            else:
                idx = F.transform(tokenize(val),
                                  lambda t: F.pmod(F.xxhash64(t, F.lit(42)), F.lit(n)))
                buckets = F.sequence(F.lit(0), F.lit(n - 1))
                segments.append(F.transform(buckets, lambda b: F.size(
                    F.filter(idx, lambda i: i == b)).cast("double")))
            if track_nulls:
                segments.append(F.array(F.when(val.isNull(), 1.0).otherwise(0.0)))
        return F.flatten(F.array(*segments))
    return make_expr


register("smartTextMapVec", _smart_text_map_expr, None)

register("textMapLenVec", _text_map_len_expr,
         lambda p: (lambda m: [float(len((m or {}).get(k) or "")) for k in p["keys"]]))

register("textMapNullVec",
         lambda p: (lambda m: F.array(*[
             F.when(F.try_element_at(m, F.lit(k)).isNull(), 1.0).otherwise(0.0)
             for k in p["keys"]])),
         lambda p: (lambda m: [1.0 if (m or {}).get(k) is None else 0.0
                               for k in p["keys"]]))


def _date_map_expr(p):
    keys, ref = p["keys"], p["reference_date"]

    def make_expr(m: Column) -> Column:
        refc = F.lit(ref).cast("timestamp")
        return F.array(*[
            F.coalesce(F.datediff(refc, F.timestamp_millis(
                F.try_element_at(m, F.lit(k)).cast("long"))).cast("double"), F.lit(0.0))
            for k in keys])
    return make_expr


def _date_map_local(p):
    import datetime
    keys = p["keys"]
    ref = datetime.datetime.fromisoformat(p["reference_date"]).date()

    def fn(m):
        m = m or {}
        out = []
        for k in keys:
            v = m.get(k)
            if v is None:
                out.append(0.0)
            else:
                d = datetime.datetime.utcfromtimestamp(v / 1000.0).date()
                out.append(float((ref - d).days))
        return out
    return fn


register("dateMapVec", _date_map_expr, _date_map_local)


def _date_list_expr(p):
    from ..operators.date_ops import date_list_expr_builder
    return date_list_expr_builder(p["reference_date"], p["pivots"])


def _date_list_local(p):
    import datetime
    from collections import Counter
    ref = datetime.datetime.fromisoformat(p["reference_date"])
    ref_date = ref.date()
    pivots = p["pivots"]

    def to_dt(ms):
        return datetime.datetime.utcfromtimestamp(ms / 1000.0)

    def fn(lst):
        out = []
        for piv in pivots:
            if not lst:
                out.append(0.0 if piv.startswith("Since") else -1.0)
                continue
            if piv == "SinceFirst":
                out.append(float((ref_date - to_dt(min(lst)).date()).days))
            elif piv == "SinceLast":
                out.append(float((ref_date - to_dt(max(lst)).date()).days))
            else:
                units = []
                for ms in lst:
                    d = to_dt(ms)
                    if piv == "ModeDay":
                        units.append(d.isoweekday() % 7 + 1)  # Spark dayofweek: Sun=1
                    elif piv == "ModeMonth":
                        units.append(d.month)
                    elif piv == "ModeHour":
                        units.append(d.hour)
                counts = Counter(units)
                best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
                out.append(float(best))
        return out
    return fn


register("dateListVec", _date_list_expr, _date_list_local)


def _date_list_pivot_expr(p):
    from ..operators.date_ops import date_list_pivot_expr_builder
    return date_list_pivot_expr_builder(p["pivot"], p["track_nulls"])


def _date_list_pivot_local(p):
    import datetime
    from collections import Counter
    from ..operators.date_ops import _PIVOT_SLOTS
    pivot, track_nulls = p["pivot"], p["track_nulls"]
    size = len(_PIVOT_SLOTS[pivot])

    def fn(lst):
        if not lst:
            out = [0.0] * size
            return out + [1.0] if track_nulls else out
        units = []
        for ms in lst:
            d = datetime.datetime.utcfromtimestamp(ms / 1000.0)
            if pivot == "ModeDay":
                units.append(d.weekday())        # Mon=0..Sun=6 (joda - 1)
            elif pivot == "ModeMonth":
                units.append(d.month - 1)
            else:
                units.append(d.hour)
        counts = Counter(units)
        best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        out = [1.0 if i == best else 0.0 for i in range(size)]
        return out + [0.0] if track_nulls else out
    return fn


register("dateListPivotVec", _date_list_pivot_expr, _date_list_pivot_local)


def _geo_map_expr(p):
    keys, track_nulls, dv = p["keys"], p["track_nulls"], p["default_value"]

    def make_expr(m: Column) -> Column:
        parts = []
        for k in keys:
            v = F.try_element_at(m, F.lit(k))
            for i in range(3):
                parts.append(F.coalesce(F.try_element_at(v, F.lit(i + 1)).cast("double"),
                                        F.lit(float(dv[i]))))
            if track_nulls:
                parts.append(F.when(v.isNull(), 1.0).otherwise(0.0))
        return F.array(*parts)
    return make_expr


def _geo_map_local(p):
    keys, track_nulls, dv = p["keys"], p["track_nulls"], p["default_value"]

    def fn(m):
        m = m or {}
        out = []
        for k in keys:
            v = m.get(k)
            for i in range(3):
                ok = v is not None and i < len(v) and v[i] is not None
                out.append(float(v[i]) if ok else float(dv[i]))
            if track_nulls:
                out.append(0.0 if v is not None else 1.0)
        return out
    return fn


register("geoMapVec", _geo_map_expr, _geo_map_local)


# ---------------------------------------------------------------------------
# numeric fitted ops
# ---------------------------------------------------------------------------

register("fillMean",
         lambda p: (lambda c: F.coalesce(c.cast("double"), F.lit(p["mean"]))),
         lambda p: (lambda x: float(x) if x is not None else p["mean"]))


def _stdscaler_expr(p):
    # absent flags mean on: manifests written before they were recorded
    with_mean, with_std = p.get("with_mean", True), p.get("with_std", True)

    def make_expr(c: Column) -> Column:
        x = c.cast("double")
        if with_mean:
            x = x - F.lit(p["mean"])
        if with_std:
            x = x / F.lit(p["std"])
        return x
    return make_expr


def _stdscaler_local(p):
    mean = p["mean"] if p.get("with_mean", True) else 0.0
    std = p["std"] if p.get("with_std", True) else 1.0
    return lambda x: None if x is None else (float(x) - mean) / std


register("stdScaler", _stdscaler_expr, _stdscaler_local)


def _bucket_local(splits):
    """``splits`` is the FULL ascending boundary list (may start/end with
    +/-inf); values outside finite endpoints map to None (Bucketizer
    semantics)."""
    def fn(x):
        if x is None:
            return None
        x = float(x)
        full = [float(v) for v in splits]
        for i in range(len(full) - 1):
            lo, hi = full[i], full[i + 1]
            last = i == len(full) - 2
            if x >= lo and (x < hi or (last and x <= hi)):
                return i
        return None
    return fn


def _bucket_onehot_local(splits, track_nulls):
    """Bucket one-hot (+ null slot); out-of-range values are all zeros."""
    idx_fn, nb = _bucket_local(splits), len(splits) - 1

    def fn(x):
        idx = idx_fn(x)
        out = [1.0 if idx == i else 0.0 for i in range(nb)]
        if track_nulls:
            out.append(1.0 if x is None else 0.0)
        return out
    return fn


def _bucket_expr_from_params(p):
    from ..operators.numeric import _bucket_expr
    return _bucket_expr([float(v) for v in p["splits"]])


def _numeric_bucketizer_expr(p):
    idx_expr = _bucket_expr_from_params(p)
    if not p.get("as_onehot"):  # absent: the index form
        return idx_expr
    nb = len(p["splits"]) - 1

    def make_expr(c: Column) -> Column:
        idx = idx_expr(c)
        parts = [F.when(idx == i, 1.0).otherwise(0.0) for i in range(nb)]
        if p["track_nulls"]:
            parts.append(F.when(c.isNull(), 1.0).otherwise(0.0))
        return F.array(*parts)
    return make_expr


def _numeric_bucketizer_local(p):
    if not p.get("as_onehot"):
        return _bucket_local(p["splits"])
    return _bucket_onehot_local(p["splits"], p["track_nulls"])


register("numericBucketizer", _numeric_bucketizer_expr, _numeric_bucketizer_local)
register("percentileCalibrator", _bucket_expr_from_params,
         lambda p: _bucket_local(p["splits"]))
register("dtBucketizer",
         lambda p: (lambda c, *_r: _bucket_expr_from_params(p)(c)),
         lambda p: (lambda x, *_r: _bucket_local(p["splits"])(x)))


def _dt_map_bucket_expr_from_params(p):
    from ..operators.numeric import _dt_map_bucket_expr
    return _dt_map_bucket_expr(p)


def _dt_map_bucket_local(p):
    per_key = [(k, _bucket_onehot_local(p["splits"][k], p["track_nulls"]))
               for k in p["keys"]]

    def fn(m, *_rest):
        out = []
        for k, onehot in per_key:
            v = None if m is None else m.get(k)
            out += onehot(None if v is None else float(v))
        return out
    return fn


register("dtMapBucketizer", _dt_map_bucket_expr_from_params,
         _dt_map_bucket_local)


def _iso_local(p):
    bounds, preds = p["boundaries"], p["predictions"]

    def fn(x, *_rest):
        if x is None:
            return None
        x = float(x)
        if x <= bounds[0]:
            return preds[0]
        if x > bounds[-1]:
            return preds[-1]
        for i in range(1, len(bounds)):
            if x <= bounds[i]:
                x0, x1, y0, y1 = bounds[i - 1], bounds[i], preds[i - 1], preds[i]
                if x1 == x0:
                    return y1
                return y0 + (x - x0) * ((y1 - y0) / (x1 - x0))
        return preds[-1]
    return fn


def _iso_expr(p):
    bounds, preds = p["boundaries"], p["predictions"]

    def make_expr(c: Column, *_rest: Column) -> Column:
        x = c.cast("double")
        expr = F.lit(preds[0])
        for i in range(1, len(bounds)):
            x0, x1, y0, y1 = bounds[i - 1], bounds[i], preds[i - 1], preds[i]
            seg = F.lit(y1) if x1 == x0 else \
                F.lit(y0) + (x - F.lit(x0)) * F.lit((y1 - y0) / (x1 - x0))
            expr = F.when((x > F.lit(x0)) & (x <= F.lit(x1)), seg).otherwise(expr)
        expr = F.when(x > F.lit(bounds[-1]), F.lit(preds[-1])).otherwise(expr)
        # NULL input -> NULL output, matching _iso_local's None guard (the
        # Spark==local triple-equality law); without this the otherwise-chain
        # bottoms out at preds[0] for NULL.
        return F.when(x.isNull(), F.lit(None).cast("double")).otherwise(expr)
    return make_expr


register("isotonicCalibrator", _iso_expr, _iso_local)


# ---------------------------------------------------------------------------
# categorical fitted ops
# ---------------------------------------------------------------------------

def _indexer_expr(p):
    labels, policy = p["labels"], p["handle_invalid"]
    index = {v: i for i, v in enumerate(labels)}

    def make_expr(c: Column) -> Column:
        m = F.create_map(*[x for v, i in index.items()
                           for x in (F.lit(v), F.lit(i))]) if index else None
        looked = F.try_element_at(m, c) if m is not None else F.lit(None).cast("int")
        if policy == "keep":
            return F.coalesce(looked, F.lit(len(labels))).cast("long")
        return looked.cast("long")
    return make_expr


def _indexer_local(p):
    labels, policy = p["labels"], p["handle_invalid"]
    index = {v: i for i, v in enumerate(labels)}

    def fn(x):
        got = index.get(x)
        if got is None and policy == "keep":
            return len(labels)
        return got
    return fn


register("stringIndexer", _indexer_expr, _indexer_local)


def _index_to_string_expr(p):
    labels, unseen = p["labels"], p["unseen"]

    def make_expr(c: Column) -> Column:
        arr = F.array(*[F.lit(v) for v in labels])
        i = c.cast("int")
        return F.when((i >= 0) & (i < len(labels)),
                      F.try_element_at(arr, i + 1)).otherwise(F.lit(unseen))
    return make_expr


register("indexToString", _index_to_string_expr,
         lambda p: (lambda x: p["labels"][int(x)]
                    if x is not None and 0 <= int(x) < len(p["labels"]) else p["unseen"]))


def _scaler_expr(p):
    a = p["scaling"]
    if a["family"] == "linear":
        return lambda c: c * F.lit(a["slope"]) + F.lit(a["intercept"])
    return lambda c: F.log(a["log_base"], c)


def _scaler_local(p):
    a = p["scaling"]
    if a["family"] == "linear":
        return lambda x: None if x is None else float(x) * a["slope"] + a["intercept"]
    return lambda x: (None if x is None or float(x) <= 0
                      else math.log(float(x)) / math.log(a["log_base"]))


def _descaler_expr(p):
    a = p["scaling"]
    if a["family"] == "linear":
        return lambda c: (c - F.lit(a["intercept"])) / F.lit(a["slope"])
    return lambda c: F.pow(F.lit(a["log_base"]), c)


def _descaler_local(p):
    a = p["scaling"]
    if a["family"] == "linear":
        return lambda x: None if x is None else (float(x) - a["intercept"]) / a["slope"]
    return lambda x: None if x is None else a["log_base"] ** float(x)


register("alias", lambda p: (lambda c: c), lambda p: (lambda x: x))
register("dropIndicesBy",
         lambda p: (lambda c: F.array(*[F.try_element_at(c, F.lit(i + 1))
                                        for i in p["keep"]])),
         None)
register("scaler", _scaler_expr, _scaler_local)
register("descaler", _descaler_expr, _descaler_local)
