"""The metrics a run prints are the ones BENCHMARK.json declares, for every
workload: the per-layer split is computed on a synthetic traced loop."""
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.trace import EventLog, JobRecord, Span, TaskRecord, Tracer  # noqa: E402

PKG = "/src/transmogrifai_spark"


def _manifest():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _loop():
    """Two operations: a fit span with one ml job (two tasks) and one util
    job, then a stream span whose micro-batch job runs under the query's own
    job group."""
    tracer = Tracer("model")
    log = EventLog()
    for op in range(2):
        t = 10.0 * op
        tracer.spans += [Span("model/workflow/fit", op, t, t + 4.0),
                         Span("model/streaming/score_stream", op, t + 4.0,
                              t + 5.0)]
        jobs = [JobRecord(("a", 3 * op), "model/workflow/fit",
                          f"collect at {PKG}/ml/evaluators.py:3", None,
                          int(t * 1000), int((t + 1.0) * 1000), [("a", 3 * op)]),
                JobRecord(("a", 3 * op + 1), "model/workflow/fit",
                          f"count at {PKG}/util.py:9", None,
                          int((t + 2.0) * 1000), int((t + 3.0) * 1000), []),
                JobRecord(("a", 3 * op + 2), "run-id", None, "query-id",
                          int((t + 4.5) * 1000), int((t + 4.7) * 1000), [])]
        for j in jobs:
            log.jobs[j.job_id] = j
        log.stage_job[("a", 3 * op)] = ("a", 3 * op)
        log.tasks += [TaskRecord(("a", 3 * op), 300, 400, 10, 0, 0),
                      TaskRecord(("a", 3 * op), 500, 800, 30, 0, 0)]
    # a job outside the loop (the warm-up's stream) is not counted
    log.jobs[("a", 99)] = JobRecord(("a", 99), "x", None, "q0", 90_000, 91_000)
    return tracer, log


def test_per_layer_split():
    tracer, log = _loop()
    m = {k: v for k, (v, _) in run.per_layer(tracer, log).items()}
    assert m["traced_op_s"] == pytest.approx(5.0)
    assert m["jobs"] == 3 and m["tasks"] == 2 and m["stages"] == 1
    assert m["job_wall_s"] == pytest.approx(2.2)
    assert m["driver_s"] == pytest.approx(5.0 - 2.2)
    assert m["executor_run_s"] == pytest.approx(0.8)
    assert m["shuffle_bytes"] == 40
    assert (m["ml.jobs"], m["util.jobs"], m["streaming.jobs"]) == (1, 1, 1)
    assert m["llm.jobs"] == 0
    assert m["workflow.share"] == pytest.approx(0.8)
    assert m["streaming.share"] == pytest.approx(0.2)


def test_declared_metrics():
    tracer, log = _loop()
    manifest = _manifest()
    layer = run.per_layer(tracer, log)
    assert {m["name"]: m["unit"] for m in manifest["per_layer"]} == \
        {k: u for k, (_, u) in layer.items()}
    assert {w["name"] for w in manifest["workloads"]} == set(run.NOMINAL_OP_S)
    assert {m["name"]: m["unit"] for m in manifest["end_to_end"]} == \
        run.END_TO_END
