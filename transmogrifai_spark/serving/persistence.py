"""WorkflowModel save / load — JSON manifest of fitted stages.

Re-expression of OpWorkflowModelWriter / Reader
(core/.../OpWorkflowModelWriter.scala:56, OpWorkflowModelReader.scala:63) and
the per-stage JSON read/write (features/.../stages/
OpPipelineStageReaderWriter.scala): every fitted stage serializes to
(op_name, inputs, output, output_type, params, slots) and is rebuilt from
(op_name, params) by the fitted-stage constructors, whose Column comes from
the serving registry that also holds the local fns — a loaded stage scores
exactly as it did when fitted. The manifest is written and read through
``sources/layout.py`` (``write_atomic`` / ``read_sidecar``).
"""
from __future__ import annotations

import json
import os
from typing import Any

from ..feature import Feature
from ..sources.layout import read_sidecar, write_atomic
from ..stages.base import ColumnTransformer
from ..types import tag
from ..workflow import WorkflowModel
from . import registry
from ..operators.vectorizers import FittedVectorizer, VectorSlot

MANIFEST = "manifest.json"
FORMAT_VERSION = 1


def _stage_dict(stage) -> dict:
    if not registry.supports(stage.op_name):
        raise NotImplementedError(
            f"stage {stage.op_name!r} is not registered for persistence; "
            f"registered: {sorted(registry.REGISTRY)}")
    params = getattr(stage, "params", None)
    if params is None:
        raise NotImplementedError(
            f"stage {stage.op_name!r} carries no fitted params to serialize")
    slots = [
        {"parent": s.parent, "group": s.group,
         "indicator_value": s.indicator_value, "descriptor": s.descriptor}
        for s in getattr(stage, "slots", [])
    ]
    return {
        "op": stage.op_name,
        "inputs": [f.name for f in stage.inputs],
        "input_types": [f.type_tag.name for f in stage.inputs],
        "output": stage.output_name,
        "output_type": stage.output_type.name,
        "params": params,
        "slots": slots,
    }


def _json_default(o: Any):
    """Convert the numeric types fitted params legitimately carry (numpy
    scalars); anything else raises so a non-round-trippable param fails the
    save loudly instead of being silently stringified."""
    tolist = getattr(o, "tolist", None)
    if callable(tolist):  # numpy scalar -> python scalar; numpy array -> list
        return tolist()
    raise TypeError(
        f"stage param of type {type(o).__name__} is not JSON-serializable; "
        f"convert it to plain python types before fitting persistence")


def save_model(model: WorkflowModel, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    manifest = {
        "format_version": FORMAT_VERSION,
        "result_features": [f.name for f in model.result_features],
        "layers": [[_stage_dict(s) for s in layer] for layer in model.layers],
    }
    if model.rff is not None:  # RawFeatureFilter result rides the manifest
        from dataclasses import asdict, is_dataclass
        manifest["rff"] = asdict(model.rff) if is_dataclass(model.rff) \
            else model.rff
    write_atomic(os.path.join(path, MANIFEST),
                 json.dumps(manifest, indent=2, default=_json_default))


def _rebuild_stage(d: dict) -> ColumnTransformer:
    feats = [Feature(name=n, type_tag=tag(t), source_expr=n)
             for n, t in zip(d["inputs"], d["input_types"])]
    slots = [VectorSlot(**s) for s in d["slots"]]
    if slots or d["output_type"] == "OPVector":
        return FittedVectorizer(d["op"], feats, d["output"], slots, d["params"])
    from ..operators.numeric import FittedParamTransformer
    return FittedParamTransformer(d["op"], feats, d["output"], d["output_type"],
                                  d["params"])


def load_model(path: str) -> WorkflowModel:
    manifest = read_sidecar(os.path.join(path, MANIFEST), format_version=FORMAT_VERSION)
    layers = [[_rebuild_stage(d) for d in layer] for layer in manifest["layers"]]
    outputs = {s.output_name: s.output for layer in layers for s in layer}
    result_features = [outputs[n] for n in manifest["result_features"] if n in outputs]
    return WorkflowModel(layers=layers, result_features=result_features,
                         rff=manifest.get("rff"))
