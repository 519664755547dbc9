"""The event-log parser and the call-site attribution, pinned on a tiny
query run in a fresh JVM (the event log must be configured at launch)."""
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.trace import EventLog, JobRecord, JobSet, call_site_module  # noqa: E402

TINY = """
import json, os, sys
sys.path.insert(0, {root!r})
from perfbench.trace import Tracer, call_sites, submit_args
os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args({events!r})
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.linalg import Vectors
from pyspark.sql import functions as F
from transmogrifai_spark import session
from transmogrifai_spark.util import right_size_for_iteration

spark = session(app="perfbench-test", cpus=2)
spark.sparkContext.setLogLevel("ERROR")
tracer = Tracer("t", spark.sparkContext)
with call_sites():
    with tracer.span("bench", "q"):
        spark.range(0, 100, 1, 2).groupBy((F.col("id") % 3).alias("k")) \\
            .count().collect()
    with tracer.span("util", "right_size"):
        right_size_for_iteration(spark.range(0, 100, 1, 2))
    df = spark.createDataFrame(
        [(float(i % 2), Vectors.dense([float(i), float(i % 3)]))
         for i in range(20)], ["label", "features"])
    with tracer.span("ml", "fit"):
        LogisticRegression(maxIter=2).fit(df)
spark.stop()
print(json.dumps({{s.group: [s.jobs, s.stages, s.tasks] for s in tracer.spans}}))
"""


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("tiny")
    events = tmp / "events"
    events.mkdir()
    script = tmp / "tiny.py"
    script.write_text(TINY.format(root=ROOT, events=str(events)))
    out = subprocess.run([sys.executable, str(script)], capture_output=True,
                         text=True, timeout=300, cwd=str(tmp))
    assert out.returncode == 0, out.stderr[-3000:]
    spans = json.loads(out.stdout.strip().splitlines()[-1])
    return spans, EventLog.read_dir(str(events))


def test_tiny_query_counts(tiny):
    """A groupBy under AQE: the shuffle-map job and the result job, one
    executed stage each (the result job's copy of the map stage is
    skipped), 2 map tasks plus 1 coalesced reduce task."""
    spans, log = tiny
    q = log.group("t/bench/q")
    assert (len(q.jobs), q.stages, len(q.tasks)) == (2, 2, 3)
    assert spans["t/bench/q"] == [2, 2, 3]   # statusTracker agrees


def test_status_tracker_agrees_with_event_log(tiny):
    spans, log = tiny
    for group, (jobs, stages, tasks) in spans.items():
        js = log.group(group)
        assert (jobs, stages, tasks) == (len(js.jobs), js.stages,
                                         len(js.tasks)), group


def test_call_site_attribution(tiny):
    _, log = tiny
    assert {j.module for j in log.group("t/bench/q").jobs} == {"bench"}
    # count() carries no Python call site in PySpark; call_sites() adds it
    assert {j.module for j in log.group("t/util/right_size").jobs} == {"util"}
    # Spark ML runs its fit jobs from the JVM, with no Python call site
    fit = log.group("t/ml/fit").jobs
    assert fit and {j.module for j in fit} == {"ml"}
    assert all(j.call_site is None for j in fit)
    mods = log.modules("t/")
    assert set(mods) == {"bench", "util", "ml"}
    assert sum(len(m.jobs) for m in mods.values()) == len(log.group("t/").jobs)


def test_event_log_metrics(tiny):
    _, log = tiny
    q = log.group("t/bench/q")
    assert q.shuffle_bytes > 0
    assert q.executor_run_s >= 0 and q.task_skew >= 1.0
    assert 0 < q.job_wall_s < 60


def test_call_site_module_mapping():
    pkg = "/src/transmogrifai_spark"
    assert call_site_module(f"collect at {pkg}/ml/evaluators.py:40") == "ml"
    assert call_site_module(f"count at {pkg}/util.py:143") == "util"
    assert call_site_module(
        f"collect at {pkg}/operators/vectorizers.py:330") == "operators"
    assert call_site_module(f"collect at {pkg}/workflow.py:9") == "workflow"
    assert call_site_module("collect at /src/perfbench/model.py:80") == "bench"
    assert call_site_module(None, jvm_ml=True) == "ml"
    assert call_site_module(None) == "jvm"
    assert call_site_module("count at NativeMethodAccessorImpl.java:0") == "jvm"


def _job(i, lo, hi):
    return JobRecord(("app", i), None, None, None, lo, hi)


def test_job_wall_counts_overlap_once():
    js = JobSet([_job(0, 0, 1000), _job(1, 500, 1500), _job(2, 3000, 3500)],
                [], 0)
    assert js.job_wall_s == pytest.approx(2.0)
