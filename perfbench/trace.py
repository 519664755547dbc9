"""Spans around the benchmark's calls into each layer, and the Spark event
log read back with stdlib ``json``.

A span is opened by the benchmark around one call into one public function
of the program. Untraced, a span only records wall time. Traced, it also runs
the call under the Spark job group ``<workload>/<layer>/<call>`` and reads the
job, stage and task counts back from ``statusTracker()``; after the session
stops, the uncompressed event log gives executor time, shuffle bytes, task
skew and each job's Python call site.
"""
from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "transmogrifai_spark"
_CALLSITE = re.compile(r" at (?P<path>\S+\.py):\d+")


def submit_args(event_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` enabling an uncompressed, non-rolling event
    log. It must be in the environment before the JVM starts: builder
    options given after launch never reach the context."""
    return (f"--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{os.path.abspath(event_dir)} "
            f"--conf spark.eventLog.compress=false "
            f"--conf spark.eventLog.rolling.enabled=false pyspark-shell")


@dataclass
class Span:
    group: str          # <workload>/<layer>/<call>
    op: int             # the operation of the closed loop it belongs to
    start: float        # epoch seconds
    end: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans; ``sc`` is None for an untraced run."""

    workload: str
    sc: object = None
    spans: list = field(default_factory=list)
    op: int = 0         # bumped by the loop before each operation

    @property
    def traced(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, layer: str, call: str):
        group = f"{self.workload}/{layer}/{call}"
        before = set()
        if self.traced:
            before = set(self.sc.statusTracker().getJobIdsForGroup(group))
            self.sc.setJobGroup(group, group)
        sp = Span(group, self.op, time.time(), 0.0)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._count(sp, before)
            self.spans.append(sp)

    def _count(self, sp: Span, before: set) -> None:
        """Jobs of this span: the group's jobs not seen before it opened
        (a group name repeats on every iteration)."""
        tracker = self.sc.statusTracker()
        for job in set(tracker.getJobIdsForGroup(sp.group)) - before:
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            sp.jobs += 1
            for sid in list(info.stageIds):
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    sp.stages += 1
                    sp.tasks += st.numCompletedTasks

    def op_walls(self) -> list[float]:
        """Per operation, the wall time spent inside calls into the
        program (the spans), in operation order."""
        out: dict = {}
        for s in self.spans:
            out[s.op] = out.get(s.op, 0.0) + s.wall
        return [out[k] for k in sorted(out)]

    def layer_walls(self) -> dict[str, float]:
        """Summed span wall per layer."""
        out: dict = {}
        for s in self.spans:
            layer = s.group.split("/")[1]
            out[layer] = out.get(layer, 0.0) + s.wall
        return out

    def span_medians(self) -> dict[str, float]:
        """Median wall per ``<layer>/<call>``."""
        walls: dict = {}
        for s in self.spans:
            walls.setdefault(s.group.split("/", 1)[1], []).append(s.wall)
        return {k: statistics.median(v) for k, v in sorted(walls.items())}


def _python_call_site(action: str) -> str | None:
    """``"<action> at <file>:<line>"`` for the innermost frame outside
    PySpark and this module: the program code that ran the action."""
    import pyspark
    skip = (os.path.dirname(pyspark.__file__), __file__)
    f = sys._getframe(2)
    while f is not None and f.f_code.co_filename.startswith(skip):
        f = f.f_back
    return None if f is None else \
        f"{action} at {f.f_code.co_filename}:{f.f_lineno}"


def _with_call_site(fn, action: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        from pyspark import SparkContext
        sc = SparkContext._active_spark_context
        if sc is None or sc.getLocalProperty("callSite.short"):
            return fn(*args, **kwargs)
        sc._jsc.setCallSite(_python_call_site(action))
        try:
            return fn(*args, **kwargs)
        finally:
            sc._jsc.setCallSite(None)
    return wrapper


@contextmanager
def call_sites():
    """Give the DataFrame actions that PySpark runs without a Python call
    site (``count``, checkpoints, writes) one while the block runs, so the
    event log can attribute their jobs to the module that called them.
    Tracing only: the program's behaviour is unchanged."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter
    targets = [(DataFrame, n) for n in ("count", "checkpoint", "localCheckpoint")]
    targets += [(DataFrameWriter, n) for n in ("save", "parquet")]
    saved = [(cls, n, cls.__dict__[n]) for cls, n in targets]
    for cls, n, fn in saved:
        setattr(cls, n, _with_call_site(fn, n))
    try:
        yield
    finally:
        for cls, n, fn in saved:
            setattr(cls, n, fn)


def call_site_module(call_site: str | None, jvm_ml: bool = False) -> str:
    """Layer of the Python frame that started a job.

    ``callSite.short`` reads ``"<action> at <file>.py:<line>"``. A frame inside
    the package maps to its top-level module (``ml/evaluators.py`` -> ``ml``,
    ``util.py`` -> ``util``); any other Python file is the caller itself
    (``bench``). A job with no Python call site was started by the JVM on
    its own: ``ml`` when its stages run Spark ML code (the fits), else
    ``jvm``."""
    m = _CALLSITE.search(call_site or "")
    if m is None:
        return "ml" if jvm_ml else "jvm"
    path = m.group("path").replace(os.sep, "/")
    marker = f"/{PACKAGE}/"
    if marker not in path:
        return "bench"
    rel = path.split(marker, 1)[1]
    head = rel.split("/", 1)[0]
    return head[:-3] if head.endswith(".py") else head


@dataclass
class JobRecord:
    job_id: tuple       # (event log file, job id)
    group: str | None
    call_site: str | None
    stream_query: str | None
    submit_ms: int
    end_ms: int = 0
    stage_ids: list = field(default_factory=list)
    jvm_ml: bool = False   # a stage's JVM stack runs org.apache.spark.ml

    @property
    def module(self) -> str:
        # a streaming query's micro-batch jobs run on its own thread
        if self.stream_query is not None:
            return "streaming"
        return call_site_module(self.call_site, self.jvm_ml)


@dataclass
class TaskRecord:
    stage_id: tuple     # (event log file, stage id)
    run_ms: int
    duration_ms: int
    shuffle_write: int
    input_bytes: int
    output_bytes: int


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)         # job id -> JobRecord
    tasks: list = field(default_factory=list)
    stage_job: dict = field(default_factory=dict)    # stage id -> job id

    def add_file(self, path: str) -> None:
        """Add one application's log. Job and stage ids restart with every
        SparkContext, so they are keyed by (file, id)."""
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                self._add(path, json.loads(line))

    def _add(self, app: str, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            rec = JobRecord((app, e["Job ID"]), props.get("spark.jobGroup.id"),
                            props.get("callSite.short"),
                            props.get("sql.streaming.queryId"),
                            e["Submission Time"],
                            stage_ids=[(app, s) for s in e.get("Stage IDs", [])],
                            jvm_ml=any("org.apache.spark.ml." in s.get("Details", "")
                                       for s in e.get("Stage Infos", [])))
            self.jobs[rec.job_id] = rec
            for sid in rec.stage_ids:
                self.stage_job.setdefault(sid, rec.job_id)
        elif kind == "SparkListenerJobEnd":
            rec = self.jobs.get((app, e["Job ID"]))
            if rec is not None:
                rec.end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append(TaskRecord(
                (app, e["Stage ID"]), int(m.get("Executor Run Time", 0)),
                int(info.get("Finish Time", 0)) - int(info.get("Launch Time", 0)),
                int(sw.get("Shuffle Bytes Written", 0)),
                int((m.get("Input Metrics") or {}).get("Bytes Read", 0)),
                int((m.get("Output Metrics") or {}).get("Bytes Written", 0))))

    @classmethod
    def read_dir(cls, event_dir: str) -> "EventLog":
        log = cls()
        for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
            log.add_file(path)
        return log

    def select(self, pred) -> "JobSet":
        jobs = [j for j in self.jobs.values() if pred(j)]
        ids = {j.job_id for j in jobs}
        tasks = [t for t in self.tasks if self.stage_job.get(t.stage_id) in ids]
        stages = {t.stage_id for t in tasks}
        return JobSet(jobs, tasks, len(stages))

    def group(self, prefix: str) -> "JobSet":
        """Jobs run under every job group starting with ``prefix``."""
        return self.select(lambda j: (j.group or "").startswith(prefix))

    def modules(self, where) -> dict[str, "JobSet"]:
        """The jobs of ``group(where)`` (or, for a callable, of
        ``select(where)``) split by call-site module."""
        pred = where if callable(where) else \
            (lambda j: (j.group or "").startswith(where))
        mods = {j.module for j in self.jobs.values() if pred(j)}
        return {m: self.select(lambda j, m=m: pred(j) and j.module == m)
                for m in sorted(mods)}


@dataclass
class JobSet:
    jobs: list
    tasks: list
    stages: int

    @property
    def job_wall_s(self) -> float:
        """Wall time covered by at least one job (overlapping jobs count
        once)."""
        spans = sorted((j.submit_ms, j.end_ms) for j in self.jobs if j.end_ms)
        total, cur_lo, cur_hi = 0, None, None
        for lo, hi in spans:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total / 1000.0

    @property
    def executor_run_s(self) -> float:
        return sum(t.run_ms for t in self.tasks) / 1000.0

    @property
    def shuffle_bytes(self) -> int:
        return sum(t.shuffle_write for t in self.tasks)

    @property
    def input_bytes(self) -> int:
        return sum(t.input_bytes for t in self.tasks)

    @property
    def write_bytes(self) -> int:
        return sum(t.output_bytes for t in self.tasks)

    @property
    def task_skew(self) -> float:
        """max / median task duration over the set's tasks."""
        d = [max(t.duration_ms, 1) for t in self.tasks]
        return max(d) / statistics.median(d) if d else 1.0
