#!/usr/bin/env python
"""Driver rehearsal: run entry() + every queries() entry against oracle_sql()
using a STOCK default SparkSession (no engine configs) — catches anything that
silently depends on session settings (ANSI, timezone, AQE, legacy flags).
Rows are compared with check_correctness.py's canonical signature, and a
mismatching ``union_arms`` row names each arm whose rows differ.

    python scripts/driver_sim.py [sf_dir]
"""
from __future__ import annotations

import importlib.util
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb
from check_correctness import frame_sig, print_arm_diffs
from pyspark.sql import SparkSession

from transmogrifai_spark.driver_queries import ARM_TAGS

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    spark = SparkSession.builder.master(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]").appName("driver-sim").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    t0 = time.time()
    n = m.entry(spark).count()
    print(f"entry: {n} rows [{time.time()-t0:.1f}s]")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    qs, oracles = m.queries(), m.oracle_sql()
    npass = nfail = nrows = 0
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, SF)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark: {str(e)[:200]}")
            nfail += 1
            continue
        if name not in oracles:
            print(f"ROWS {name}: {len(srows)} [{time.time()-t0:.1f}s]")
            nrows += 1
            continue
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        if frame_sig(scols, srows) != frame_sig(ocols, orows):
            print(f"FAIL {name}: mismatch ({len(srows)} vs {len(orows)} rows)")
            print_arm_diffs(ARM_TAGS, scols, srows, ocols, orows)
            nfail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            npass += 1
    print(f"\n== driver-sim: {npass} pass, {nfail} fail, {nrows} rows-only ==")
    spark.stop()
    sys.exit(1 if nfail else 0)


if __name__ == "__main__":
    main()
