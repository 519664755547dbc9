"""Export fitted Spark ML predictor params for model-free scoring.

Re-expression of the reference's MLeap-backed local scoring across the ML
boundary (local/.../OpWorkflowModelLocal.scala:79): the fitted predictor's
parameters (linear coefficients, tree structures) are extracted into plain
JSON-able dicts and registered as a serving-registry op ("mlPredictor"), so
a saved workflow can score through the SAME three paths as every other
stage — Spark Column expression, local row fn, and manifest round-trip —
with no Spark ML model object (and no JVM) in the serving hot path.

Regression tree structures come from ``toDebugString`` — the stable public
surface (Scala's Double.toString is shortest-roundtrip, so thresholds and
leaf values are bit-exact). Classifier trees need the per-leaf CLASS
DISTRIBUTIONS (Spark's probability averages them), which toDebugString does
not carry — those walk the model's public Java node objects
(rootNode / impurityStats) via py4j instead. Supported:

  * LogisticRegressionModel (binomial)   -> kind "logistic"  (P(class 1))
  * LinearRegressionModel               -> kind "linear"
  * DecisionTreeClassifier / Regressor  -> kind "dt"
  * RandomForestRegressionModel         -> kind "rf_regressor" (tree mean)
  * RandomForestClassificationModel     -> kind "rf_classifier"
    (P(1) = mean over trees of leaf class distributions)
  * GBTRegressionModel                  -> kind "gbt_regressor" (weighted sum)
  * GBTClassificationModel              -> kind "gbt_classifier"
    (P(1) = 1/(1+exp(-2*margin)), Spark's logistic loss inversion)

Multiclass: multinomial LogisticRegression exports as kind "softmax"
(per-class margin rows + softmax, matching Spark's probability vector) and
DT/RF classifiers as "dt_multi"/"rf_multi" (leaf class-distribution arrays,
tree-mean for RF) — these score an array<double> of class probabilities.

Also:
  * LinearSVCModel                     -> kind "svc_margin" (raw w.x + b)
  * NaiveBayesModel (multinomial)      -> kind "nb_multi"
    (probabilities = exp(pi + theta.x - max)/sum, Spark's raw2probability)
  * MultilayerPerceptronClassification -> kind "mlp" (affine layers column-
    major unrolled, sigmoid hidden + softmax top, FeedForwardTopology)
"""
from __future__ import annotations

import math
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..util import lit_vec

from . import registry

_IF_RE = re.compile(r"^If \(feature (\d+) (<=|>) ([0-9eE.+-]+)\)$")
_IF_IN_RE = re.compile(r"^If \(feature (\d+) (in|not in) \{([^}]*)\}\)$")
_PREDICT_RE = re.compile(r"^Predict: ([0-9eE.+-]+)$")


def parse_debug_tree(lines: list[str]) -> dict:
    """Parse one tree's ``toDebugString`` body (If/Else/Predict lines,
    indentation-nested) into {"f", "t"|"in", "l", "r"} / {"p"} node dicts."""
    pos = 0

    def parse() -> dict:
        nonlocal pos
        line = lines[pos].strip()
        m = _PREDICT_RE.match(line)
        if m:
            pos += 1
            return {"p": float(m.group(1))}
        m = _IF_RE.match(line)
        if m:
            pos += 1
            feat, op, thr = int(m.group(1)), m.group(2), float(m.group(3))
            left = parse()
            if not lines[pos].strip().startswith("Else"):
                raise ValueError(f"expected Else at line {pos}: {lines[pos]!r}")
            pos += 1
            right = parse()
            node = {"f": feat, "t": thr, "l": left, "r": right}
            if op == ">":  # normalize: left branch is always <=
                node["l"], node["r"] = right, left
            return node
        m = _IF_IN_RE.match(line)
        if m:
            pos += 1
            feat, op = int(m.group(1)), m.group(2)
            vals = [float(v) for v in m.group(3).split(",") if v.strip()]
            left = parse()
            pos += 1  # Else
            right = parse()
            node = {"f": feat, "in": vals, "l": left, "r": right}
            if op == "not in":
                node["l"], node["r"] = right, left
            return node
        raise ValueError(f"unparseable tree line: {line!r}")

    root = parse()
    return root


def _tree_bodies(debug: str) -> tuple[list[list[str]], list[float]]:
    """Split an ensemble debugString into per-tree line blocks + weights."""
    lines = debug.splitlines()
    blocks: list[list[str]] = []
    weights: list[float] = []
    cur: list[str] = []
    for ln in lines:
        s = ln.strip()
        m = re.match(r"^Tree (\d+) \(weight ([0-9eE.+-]+)\):$", s)
        if m:
            if cur:
                blocks.append(cur)
            cur = []
            weights.append(float(m.group(2)))
        elif s.startswith(("If ", "Else", "Predict:")):
            cur.append(s)
    if cur:
        blocks.append(cur)
    if not weights:
        weights = [1.0] * len(blocks)
    return blocks, weights


def _java_tree_to_dict(jnode, prob_class: int | None = None) -> dict:
    """Walk a fitted tree's public Java node objects (rootNode /
    InternalNode / LeafNode of org.apache.spark.ml.tree) into the same node
    dicts parse_debug_tree produces. With ``prob_class`` set, leaves carry
    that class's probability from the leaf's impurity class counts
    (counts normalized to sum 1 — exactly what Spark's
    ProbabilisticClassifier averages for DT/RF probability), which
    toDebugString does NOT expose."""
    cls = jnode.getClass().getSimpleName()
    if cls == "LeafNode":
        if prob_class == "dist":  # full normalized class distribution
            stats = list(jnode.impurityStats().stats())
            tot = sum(stats) or 1.0
            return {"d": [float(v / tot) for v in stats]}
        if prob_class is not None:
            stats = list(jnode.impurityStats().stats())
            tot = sum(stats) or 1.0
            return {"p": float(stats[prob_class] / tot)}
        return {"p": float(jnode.prediction())}
    split = jnode.split()
    node = {"f": int(split.featureIndex()),
            "l": _java_tree_to_dict(jnode.leftChild(), prob_class),
            "r": _java_tree_to_dict(jnode.rightChild(), prob_class)}
    if split.getClass().getSimpleName() == "ContinuousSplit":
        node["t"] = float(split.threshold())
    else:  # CategoricalSplit: left branch taken when value in leftCategories
        node["in"] = [float(v) for v in split.leftCategories()]
    return node


def export_model_params(model) -> dict:
    """Fitted Spark ML model -> serving params dict for op "mlPredictor"."""
    cls = type(model).__name__
    if cls == "LogisticRegressionModel":
        if model.numClasses != 2:
            # multinomial: per-class margin rows + softmax (Spark's
            # probability without pivoting)
            mat = model.coefficientMatrix.toArray()
            return {"kind": "softmax",
                    "intercepts": [float(b) for b in model.interceptVector.toArray()],
                    "coefficients": [[float(v) for v in row] for row in mat]}
        return {"kind": "logistic", "intercept": float(model.intercept),
                "coefficients": [float(c) for c in model.coefficients.toArray()]}
    if cls == "LinearRegressionModel":
        return {"kind": "linear", "intercept": float(model.intercept),
                "coefficients": [float(c) for c in model.coefficients.toArray()]}
    if cls == "DecisionTreeClassificationModel":
        if model.numClasses != 2:
            # multiclass: leaves carry the full class distribution
            root = _java_tree_to_dict(model._java_obj.rootNode(), prob_class="dist")
            return {"kind": "dt_multi", "trees": [root],
                    "n_classes": int(model.numClasses)}
        # leaf P(1) from class counts -> scores equal Spark's probability[1]
        root = _java_tree_to_dict(model._java_obj.rootNode(), prob_class=1)
        return {"kind": "dt", "trees": [root], "weights": [1.0]}
    if cls == "DecisionTreeRegressionModel":
        blocks, _ = _tree_bodies(model.toDebugString)
        return {"kind": "dt", "trees": [parse_debug_tree(blocks[0])],
                "weights": [1.0]}
    if cls == "RandomForestRegressionModel":
        blocks, _ = _tree_bodies(model.toDebugString)
        return {"kind": "rf_regressor",
                "trees": [parse_debug_tree(b) for b in blocks],
                "weights": [1.0] * len(blocks)}
    if cls == "RandomForestClassificationModel":
        if model.numClasses != 2:
            trees = [_java_tree_to_dict(t._java_obj.rootNode(), prob_class="dist")
                     for t in model.trees]
            return {"kind": "rf_multi", "trees": trees,
                    "n_classes": int(model.numClasses)}
        # Spark RF probability = mean over trees of the leaf class
        # distribution; with leaves carrying P(1) that mean is exactly the
        # rf_regressor tree-average
        trees = [_java_tree_to_dict(t._java_obj.rootNode(), prob_class=1)
                 for t in model.trees]
        return {"kind": "rf_classifier", "trees": trees,
                "weights": [1.0] * len(trees)}
    if cls == "GBTRegressionModel":
        blocks, weights = _tree_bodies(model.toDebugString)
        return {"kind": "gbt_regressor",
                "trees": [parse_debug_tree(b) for b in blocks],
                "weights": weights}
    if cls == "GBTClassificationModel":
        blocks, weights = _tree_bodies(model.toDebugString)
        return {"kind": "gbt_classifier",
                "trees": [parse_debug_tree(b) for b in blocks],
                "weights": weights}
    if cls == "LinearSVCModel":
        # raw margin w.x + b (LinearSVC has no probability; the reference's
        # Prediction carries rawPrediction = [-m, m])
        return {"kind": "svc_margin", "intercept": float(model.intercept),
                "coefficients": [float(c) for c in model.coefficients.toArray()]}
    if cls == "NaiveBayesModel":
        model_type = model.getModelType()
        if model_type != "multinomial":
            raise NotImplementedError(
                f"NaiveBayes export supports multinomial, got {model_type}")
        # raw(c) = pi(c) + theta(c,:).x ; probability = exp(raw-max)/sum
        # (NaiveBayesModel.multinomialCalculation + raw2probabilityInPlace)
        return {"kind": "nb_multi",
                "pi": [float(v) for v in model.pi.toArray()],
                "theta": [[float(v) for v in row]
                          for row in model.theta.toArray()]}
    if cls == "MultilayerPerceptronClassificationModel":
        # FeedForwardTopology.multiLayerPerceptron weight layout: per affine
        # layer, n_in*n_out entries = W as (n_out x n_in) COLUMN-MAJOR, then
        # n_out bias entries; hidden activation sigmoid, softmax on top
        layers = [int(v) for v in model.getLayers()]
        flat = [float(v) for v in model.weights.toArray()]
        mats, off = [], 0
        for n_in, n_out in zip(layers, layers[1:]):
            w = flat[off:off + n_in * n_out]
            off += n_in * n_out
            b = flat[off:off + n_out]
            off += n_out
            rows = [[w[i * n_out + j] for i in range(n_in)]
                    for j in range(n_out)]
            mats.append({"W": rows, "b": b})
        assert off == len(flat), "MLP weight layout mismatch"
        return {"kind": "mlp", "layers": layers, "weights": mats}
    raise NotImplementedError(f"no param export for {cls}")


# -- registry op ------------------------------------------------------------

def _tree_expr(node: dict, x: Column) -> Column:
    if "p" in node:
        return F.lit(node["p"])
    v = F.try_element_at(x, F.lit(node["f"] + 1)).cast("double")
    cond = (v <= F.lit(node["t"])) if "t" in node else v.isin(node["in"])
    return F.when(cond, _tree_expr(node["l"], x)).otherwise(_tree_expr(node["r"], x))


def _margin_expr(p, x: Column) -> Column:
    coefs = p["coefficients"]
    dotc = F.aggregate(
        F.zip_with(x, lit_vec(coefs),
                   lambda xi, wi: xi.cast("double") * wi),
        F.lit(0.0), lambda a, v: a + v)
    return F.lit(p["intercept"]) + dotc


def _dist_tree_expr(node: dict, x: Column) -> Column:
    """Tree whose leaves are class-distribution arrays."""
    if "d" in node:
        return lit_vec(node["d"])
    v = F.try_element_at(x, F.lit(node["f"] + 1)).cast("double")
    cond = (v <= F.lit(node["t"])) if "t" in node else v.isin(node["in"])
    return F.when(cond, _dist_tree_expr(node["l"], x))         .otherwise(_dist_tree_expr(node["r"], x))


def _softmax_expr(margins: list[Column]) -> Column:
    arr = F.array(*margins)
    mx = F.array_max(arr)
    exps = F.transform(arr, lambda m: F.exp(m - mx))
    tot = F.aggregate(exps, F.lit(0.0), lambda a, v: a + v)
    return F.transform(exps, lambda e: e / tot)


def _affine_expr(layer: dict, x: Column) -> list[Column]:
    """y_j = b_j + W[j,:].x — the fold seeds at the bias, matching gemm's
    C := bias; C += W*x accumulation order."""
    # weight rows as ONE parsed literal each (util.lit_vec — wide MLP
    # layers otherwise cost a py4j round-trip per weight)
    outs = []
    for row, b in zip(layer["W"], layer["b"]):
        outs.append(F.aggregate(
            F.zip_with(x, lit_vec(row),
                       lambda xi, wi: xi.cast("double") * wi),
            F.lit(b), lambda a, v: a + v))
    return outs


def _mlp_expr(p, x: Column) -> Column:
    """Hidden layers sigmoid, softmax on top (FeedForwardTopology)."""
    cur = x
    for layer in p["weights"][:-1]:
        outs = _affine_expr(layer, cur)
        cur = F.array(*[F.lit(1.0) / (F.lit(1.0) + F.exp(-o)) for o in outs])
    return _softmax_expr(_affine_expr(p["weights"][-1], cur))


def _ml_pred_expr(p):
    kind = p["kind"]

    def make_expr(x: Column) -> Column:
        if kind == "softmax":  # multinomial: array of class probabilities
            margins = [
                _margin_expr({"intercept": b, "coefficients": row}, x)
                for b, row in zip(p["intercepts"], p["coefficients"])]
            return _softmax_expr(margins)
        if kind == "svc_margin":
            return _margin_expr(p, x)
        if kind == "nb_multi":
            margins = [
                _margin_expr({"intercept": b, "coefficients": row}, x)
                for b, row in zip(p["pi"], p["theta"])]
            return _softmax_expr(margins)
        if kind == "mlp":
            return _mlp_expr(p, x)
        if kind == "dt_multi":
            return _dist_tree_expr(p["trees"][0], x)
        if kind == "rf_multi":  # elementwise mean of per-tree distributions
            acc = _dist_tree_expr(p["trees"][0], x)
            for t in p["trees"][1:]:
                acc = F.zip_with(acc, _dist_tree_expr(t, x), lambda a, b: a + b)
            n = float(len(p["trees"]))
            return F.transform(acc, lambda v: v / F.lit(n))
        if kind == "linear":
            return _margin_expr(p, x)
        if kind == "logistic":
            m = _margin_expr(p, x)
            return F.lit(1.0) / (F.lit(1.0) + F.exp(-m))
        trees = [_tree_expr(t, x) for t in p["trees"]]
        ws = p["weights"]
        if kind == "dt":
            return trees[0]
        if kind in ("rf_regressor", "rf_classifier"):
            total = trees[0]
            for t in trees[1:]:
                total = total + t
            return total / F.lit(float(len(trees)))
        acc = trees[0] * F.lit(ws[0])
        for t, w in zip(trees[1:], ws[1:]):
            acc = acc + t * F.lit(w)
        if kind == "gbt_regressor":
            return acc
        if kind == "gbt_classifier":  # Spark's logistic-loss inversion
            return F.lit(1.0) / (F.lit(1.0) + F.exp(F.lit(-2.0) * acc))
        raise ValueError(f"unknown mlPredictor kind {kind!r}")
    return make_expr


def _eval_tree(node: dict, xs) -> float:
    while "p" not in node:
        v = xs[node["f"]]
        if "t" in node:
            node = node["l"] if v <= node["t"] else node["r"]
        else:
            node = node["l"] if v in node["in"] else node["r"]
    return node["p"]


def _eval_dist_tree(node: dict, xs) -> list[float]:
    while "d" not in node:
        v = xs[node["f"]]
        if "t" in node:
            node = node["l"] if v <= node["t"] else node["r"]
        else:
            node = node["l"] if v in node["in"] else node["r"]
    return node["d"]


def _ml_pred_local(p):
    kind = p["kind"]

    def fn(xs):
        if xs is None:
            return None
        xs = [float(v) for v in xs]
        if kind == "softmax":
            margins = [b + sum(x * c for x, c in zip(xs, row))
                       for b, row in zip(p["intercepts"], p["coefficients"])]
            mx = max(margins)
            exps = [math.exp(m - mx) for m in margins]
            tot = sum(exps)
            return [e / tot for e in exps]
        if kind == "svc_margin":
            return p["intercept"] + sum(x * c for x, c in zip(xs, p["coefficients"]))
        if kind == "nb_multi":
            margins = [b + sum(x * c for x, c in zip(xs, row))
                       for b, row in zip(p["pi"], p["theta"])]
            mx = max(margins)
            exps = [math.exp(m - mx) for m in margins]
            tot = sum(exps)
            return [e / tot for e in exps]
        if kind == "mlp":
            cur = xs
            for layer in p["weights"][:-1]:
                cur = [1.0 / (1.0 + math.exp(-(b + sum(x * w for x, w in zip(cur, row)))))
                       for row, b in zip(layer["W"], layer["b"])]
            last = p["weights"][-1]
            margins = [b + sum(x * w for x, w in zip(cur, row))
                       for row, b in zip(last["W"], last["b"])]
            mx = max(margins)
            exps = [math.exp(m - mx) for m in margins]
            tot = sum(exps)
            return [e / tot for e in exps]
        if kind == "dt_multi":
            return _eval_dist_tree(p["trees"][0], xs)
        if kind == "rf_multi":
            dists = [_eval_dist_tree(t, xs) for t in p["trees"]]
            n = len(dists)
            return [sum(d[i] for d in dists) / n for i in range(len(dists[0]))]
        if kind in ("linear", "logistic"):
            m = p["intercept"] + sum(x * c for x, c in zip(xs, p["coefficients"]))
            return m if kind == "linear" else 1.0 / (1.0 + math.exp(-m))
        vals = [_eval_tree(t, xs) for t in p["trees"]]
        if kind == "dt":
            return vals[0]
        if kind in ("rf_regressor", "rf_classifier"):
            return sum(vals) / len(vals)
        acc = sum(v * w for v, w in zip(vals, p["weights"]))
        if kind == "gbt_regressor":
            return acc
        if kind == "gbt_classifier":
            return 1.0 / (1.0 + math.exp(-2.0 * acc))
        raise ValueError(f"unknown mlPredictor kind {kind!r}")
    return fn


registry.register("mlPredictor", _ml_pred_expr, _ml_pred_local)


def predictor_stage(model, features, output_name: str = "score"):
    """Wrap a fitted Spark ML predictor as a serving-registry stage
    (op "mlPredictor"): the exported params score through the same three
    paths as every fitted stage — Spark expr, local row fn, and manifest
    save/load — so a full workflow INCLUDING its model persists and scores
    with no Spark ML object (the reference needs MLeap for this,
    OpWorkflowModelLocal.scala:79). ``features`` must be an array<double>
    Feature (e.g. the transmogrified vector)."""
    from ..operators.numeric import FittedParamTransformer
    params = export_model_params(model)
    out_type = "OPVector" if params["kind"] in ("softmax", "dt_multi",
                                                "rf_multi", "nb_multi",
                                                "mlp") else "RealNN"
    return FittedParamTransformer("mlPredictor", [features], output_name,
                                  out_type, params)
