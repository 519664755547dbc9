#!/usr/bin/env python3
"""Seeded model / curate benchmark for transmogrifai_spark.

    python3 perfbench/run.py --workload model --seed 1 --seconds 20 --trace 0

Run from the repository root. The benchmark generates the workload's inputs
from ``--seed`` under ``.perfbench/`` in the current directory, plus a
smaller warm-up set of the same shape. It starts one Spark session on
``local[<cores>]`` and sets the workload up three times (the first set-up
launches the JVM, the others restart the SparkContext in it; ``setup_s`` is
their median). It runs one untimed operation over the warm-up inputs, so
that class loading, code generation and JIT compilation are paid before
timing, then runs the workload as a closed loop of one client:
``max(2, round(seconds / nominal operation time))`` operations over the full
inputs, each followed by its output checks.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
loop with every call under a Spark job group and an event log, and prints
the per-layer metrics instead; its ``traced_op_s`` against the untraced
``op_s`` is the tracing overhead. Every line but the last is a
human-readable report; the last line is the JSON result.
"""
from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import json
import multiprocessing
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.gen import table_sizes, tree_digest  # noqa: E402
from perfbench.trace import (EventLog, Tracer, call_sites,  # noqa: E402
                             submit_args)

SETUP_REPS = 3
MIN_OPS = 2
# nominal wall of one warm operation on a 4-core box; sets how many
# operations a run of --seconds makes, the same number on every run
NOMINAL_OP_S = {"model": 13.0, "curate": 9.0}
# name -> unit of the end-to-end metrics (--trace 0)
END_TO_END = {"setup_s": "s", "op_s": "s", "peak_rss_mb": "MB",
              "quality": "ratio"}
# The per-layer metrics are named after the program's modules. Jobs are
# counted for the modules that start Spark jobs in these workloads (the
# readers, persistence and local scoring start none: their reads are run by
# the benchmark's own count() or by later stages), and time shares for the
# modules whose public functions the benchmark calls (and times) itself.
JOB_LAYERS = ("operators", "workflow", "ml", "streaming", "llm", "util")
SPAN_LAYERS = ("sources", "workflow", "ml", "serving", "streaming", "llm")
# The driver JVM's heap. A fixed young generation makes the JVM's resident
# high-water mark repeat run to run (an adaptive one moved peak_rss_mb by
# +-20% between identical runs on a 4-core box).
DRIVER_MEM = "3g"
YOUNG_GEN = "768m"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(NOMINAL_OP_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def workload_class(name: str):
    if name == "model":
        from perfbench.model import Model
        return Model
    from perfbench.curate import Curate
    return Curate


def cores() -> int:
    return len(os.sched_getaffinity(0))


def jvm_options(work: str) -> str:
    """Submit args for the driver JVM. Its scratch files, those of the
    launcher JVM that spark-submit starts first, and those of Python
    workers stay inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = tmp
    return (f"--driver-java-options -Xmn{YOUNG_GEN} "
            f"--conf spark.local.dir={os.path.join(work, 'spark-local')} "
            f"--conf spark.ui.showConsoleProgress=false ")


def peak_rss_mb(spark) -> dict:
    """High-water marks of the driver Python and of the JVM (VmHWM)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return {"python": py_kb / 1024.0, "jvm": jvm_kb / 1024.0}


def generate(wl_cls, root: str, warm: str, seed: int):
    """Write the inputs and the warm-up inputs; returns the planted truth
    of each and the inputs' digest."""
    truth = wl_cls.generate(root, seed)
    return truth, wl_cls.generate(warm, seed, wl_cls.warm_size), \
        tree_digest(root)


def check_generator(wl_cls, seed: int, work: str, digest: str) -> list[str]:
    """Same seed -> byte-identical inputs; another seed -> different inputs
    of the same sizes. Compares against ``work/gen-a`` (whose digest is
    ``digest``); returns failed checks."""
    a, b, c = (os.path.join(work, f"gen-{x}") for x in "abc")
    wl_cls.generate(b, seed)
    wl_cls.generate(c, seed + 1)
    failed = []
    if tree_digest(b) != digest:
        failed.append("same seed gave different inputs")
    if tree_digest(c) == digest:
        failed.append("another seed gave identical inputs")
    if table_sizes(a) != table_sizes(c):
        failed.append("another seed gave inputs of other sizes")
    for d in (b, c):
        shutil.rmtree(d)
    return failed


def program_digest() -> str:
    """sha256 over the program's Python sources."""
    import transmogrifai_spark
    return tree_digest(os.path.dirname(transmogrifai_spark.__file__), ".py")


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import transmogrifai_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    # a SIGTERM unwinds like an exception, so the JVM is stopped and the
    # scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl_cls = workload_class(args.workload)
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = _run(args, wl_cls, base, work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _stop_jvm() -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _setup(args, wl, work, after_launch):
    """Launch the JVM, call ``after_launch``, then set the workload up
    SETUP_REPS times. Returns the session and the set-up times."""
    from transmogrifai_spark import session

    events = os.path.join(work, "events")
    os.makedirs(events, exist_ok=True)
    os.environ["PYSPARK_SUBMIT_ARGS"] = jvm_options(work) + (
        submit_args(events) if args.trace else "pyspark-shell")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    setup_tracer = Tracer(args.workload)   # untraced: set-up runs no jobs
    setup_s = []
    spark = None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = session(app="perfbench", cpus=cores())
        spark.sparkContext.setLogLevel("ERROR")
        if rep == 0:
            t0 += after_launch()
        wl.setup(spark, setup_tracer)
        setup_s.append(time.perf_counter() - t0)
    return spark, setup_s


def per_layer(tracer: Tracer, log: EventLog) -> dict:
    """The per-layer metrics of a traced loop, each per operation."""
    walls = tracer.op_walls()
    n = len(walls)
    streaming = [s for s in tracer.spans if s.group.split("/")[1] == "streaming"]
    prefix = f"{tracer.workload}/"

    def in_loop(job) -> bool:
        # a streaming query runs its micro-batches under its own job group
        if job.stream_query is not None:
            return any(s.start * 1000 <= job.submit_ms <= s.end * 1000
                       for s in streaming)
        return (job.group or "").startswith(prefix)

    jobs = log.select(in_loop)
    mods = log.modules(in_loop)
    layer_walls = tracer.layer_walls()
    out = {
        "traced_op_s": (statistics.median(walls), "s"),
        "driver_s": ((sum(walls) - jobs.job_wall_s) / n, "s"),
        "job_wall_s": (jobs.job_wall_s / n, "s"),
        "executor_run_s": (jobs.executor_run_s / n, "s"),
        "jobs": (len(jobs.jobs) / n, "count"),
        "stages": (jobs.stages / n, "count"),
        "tasks": (len(jobs.tasks) / n, "count"),
        "shuffle_bytes": (jobs.shuffle_bytes / n, "bytes"),
        "task_skew": (jobs.task_skew, "ratio"),
    }
    for layer in JOB_LAYERS:
        out[f"{layer}.jobs"] = (len(mods[layer].jobs) / n
                                if layer in mods else 0.0, "count")
    for layer in SPAN_LAYERS:
        out[f"{layer}.share"] = (layer_walls.get(layer, 0.0) / sum(walls),
                                 "share")
    return out


def _run(args, wl_cls, base: str, work: str) -> dict:
    """Generate, set up, warm up, run the closed loop, check; returns the
    result."""
    phases = {}
    inputs = os.path.join(work, "gen-a")
    warm_inputs = os.path.join(work, "warm")
    # Generation and the determinism check run in a child process, forked
    # before the JVM starts, so that the driver's peak_rss_mb is the
    # program's and not the generator's. The check regenerates twice; it
    # overlaps the JVM launch and is joined before the warm-up, whose
    # driver-side Python it would otherwise slow. Its wait is not set-up.
    with concurrent.futures.ProcessPoolExecutor(
            1, mp_context=multiprocessing.get_context("fork")) as pool:
        t_phase = time.perf_counter()
        truth, warm_truth, digest = pool.submit(
            generate, wl_cls, inputs, warm_inputs, args.seed).result()
        phases["generate_s"] = time.perf_counter() - t_phase
        gen_check = pool.submit(check_generator, wl_cls, args.seed, work,
                                digest)

        def join_check() -> float:
            t = time.perf_counter()
            pool.shutdown()
            return time.perf_counter() - t

        # records that outlive the run (the untraced time for the tracing
        # overhead, curate's survivor count) are kept per seed, input
        # digest and program revision, so a change to either starts afresh
        record = os.path.join(base, f"{args.workload}-{args.seed}-"
                              f"{digest[:16]}-{program_digest()[:16]}")
        wl = wl_cls(inputs, work, truth, record)
        spark, setup_s = _setup(args, wl, work, after_launch=join_check)
    gen_failed = gen_check.result()
    ops = {"generate": gen_failed}   # operation -> failed checks
    attempted, failed_ops = 1, int(bool(gen_failed))

    # The warm-up's checks are reported but not counted: its inputs are too
    # small for the recall floors (one missed near copy of the warm-up
    # curate set's single chain already fails the 0.95 floor).
    t_phase = time.perf_counter()
    warm = wl_cls(warm_inputs, work, warm_truth, None)
    warm.setup(spark, Tracer(args.workload))
    warm_checks = warm.op(spark, Tracer(args.workload))
    phases["warmup_s"] = time.perf_counter() - t_phase

    tracer = Tracer(args.workload, spark.sparkContext if args.trace else None)
    n_ops = max(MIN_OPS, round(args.seconds / NOMINAL_OP_S[args.workload]))
    t_phase = time.perf_counter()
    with call_sites() if args.trace else contextlib.nullcontext():
        for i in range(n_ops):
            tracer.op = i
            results = wl.op(spark, tracer)
            attempted += len(results)
            for op, bad in results.items():
                failed_ops += bool(bad)
                ops.setdefault(op, []).extend(bad)
    phases["loop_s"] = time.perf_counter() - t_phase
    rss = peak_rss_mb(spark)
    spark.stop()   # flushes the event log

    walls = tracer.op_walls()
    op_s = statistics.median(walls)
    untraced_record = record + "-untraced.json"
    report = {"workload": args.workload, "seed": args.seed, "nproc": cores(),
              "ops": n_ops, "op_walls_s": walls, "setup_reps_s": setup_s,
              "phases_s": phases, "span_medians_s": tracer.span_medians(),
              "peak_rss_split_mb": rss,
              "failed_checks": {k: v for k, v in ops.items() if v},
              "warmup_failed_checks": {k: v for k, v in warm_checks.items()
                                       if v},
              "failed_frac": failed_ops / attempted,
              **wl.report()}
    if args.trace:
        log = EventLog.read_dir(os.path.join(work, "events"))
        metrics = per_layer(tracer, log)
        report.update(wl.traced_report(tracer, log, n_ops))
        # tracing overhead: against the untraced run of the same seed,
        # inputs and program in this directory, when there was one
        if os.path.exists(untraced_record):
            with open(untraced_record) as fh:
                untraced = json.load(fh)["op_s"]
            report["tracing_overhead"] = {
                "traced_op_s": op_s, "untraced_op_s": untraced,
                "overhead_frac": op_s / untraced - 1.0}
    else:
        values = {"setup_s": statistics.median(setup_s), "op_s": op_s,
                  "peak_rss_mb": sum(rss.values()), "quality": wl.quality()}
        metrics = {k: (v, END_TO_END[k]) for k, v in values.items()}
        with open(untraced_record, "w") as fh:
            json.dump({"op_s": op_s}, fh)
    print(json.dumps(report, default=str))
    for name, (value, unit) in sorted(metrics.items()):
        print(f"{name:<24} {value:>16.6g} {unit}")
    return {"correct": failed_ops == 0, "attempted": attempted,
            "failed": failed_ops,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()}}


if __name__ == "__main__":
    sys.exit(main())
