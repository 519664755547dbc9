#!/usr/bin/env python
"""Capture .explain("formatted") for registry queries into plans/<tag>/.

Usage:
    python scripts/capture_plans.py <tag> [query ...]    # default: all
    SF_DIR=/root/testdata/sf0.01 python scripts/capture_plans.py r12_before

Writes plans/<tag>/<query>.txt with the session's counters (expression
ids ``#123L`` -> ``#``, lambda variables, plan and RDD ids) and the
random suffixes of temporary directories stripped, so two captures
compare with plain ``diff``. Queries that drive
side effects (index writes, warc round-trips) still produce a final
DataFrame; we explain that final frame without executing it where
possible. Some query builders execute eager sub-jobs (collect snapshots)
during construction — that is part of their plan-building cost, accepted
here.
"""
from __future__ import annotations

import os
import re
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))

# counters of what the session built before the plan: expression ids,
# lambda variables, exchange plan ids and RDD ids
_COUNTERS = [(re.compile(r"#\d+L?"), "#"),
             (re.compile(r"(lambda \w+?_)\d+"), r"\1#"),
             (re.compile(r"plan_id=\d+"), "plan_id=#"),
             (re.compile(r"RDD\[\d+\]"), "RDD[#]")]
# the random 8-character tail tempfile.mkdtemp gives a directory name
_TEMP_DIR = re.compile(re.escape(tempfile.gettempdir())
                       + r"/(\w+?)\w{8}(?=[/\],\s]|$)", re.M)


def strip_ids(plan: str) -> str:
    """The plan text without what changes from one capture to the next:
    the session's counters and the random tail of temporary directory
    names."""
    for pattern, repl in _COUNTERS:
        plan = pattern.sub(repl, plan)
    return _TEMP_DIR.sub(lambda m: f"{tempfile.gettempdir()}/{m[1]}*", plan)


def main() -> None:
    # args: <dir>/<suffix> [query ...] — e.g. "r12/before" writes
    # plans/r12/<query>_before.txt
    tag = sys.argv[1] if len(sys.argv) > 1 else "r12/before"
    only = sys.argv[2:]
    dirpart, _, suffix = tag.partition("/")
    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", dirpart)
    os.makedirs(outdir, exist_ok=True)

    from transmogrifai_spark import session
    from transmogrifai_spark.driver_queries import SPARK_QUERIES

    spark = session(cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    names = only or list(SPARK_QUERIES)
    for name in names:
        t0 = time.time()
        fname = f"{name}_{suffix}.txt" if suffix else f"{name}.txt"
        path = os.path.join(outdir, fname)
        try:
            df = SPARK_QUERIES[name](spark, SF_DIR)
            plan = strip_ids(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")))
            with open(path, "w") as f:
                f.write(plan)
            print(f"{name}: {len(plan)} bytes [{time.time()-t0:.1f}s]")
        except Exception:
            with open(path, "w") as f:
                f.write("ERROR\n" + traceback.format_exc())
            print(f"{name}: ERROR [{time.time()-t0:.1f}s]")
    spark.stop()


if __name__ == "__main__":
    main()
