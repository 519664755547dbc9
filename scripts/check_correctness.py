#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate.

Runs every SPARK_QUERIES entry at sf0.01 and compares against its ORACLES SQL
via DuckDB: row count, column names, and an order-insensitive value hash
(columns sorted by name, rows sorted, floats compared bit-exactly after a
canonical repr). When a row whose first column is a ``union_arms`` tag
mismatches, each arm whose rows differ is named with its row counts on
both sides. Usage:

    python scripts/check_correctness.py [query ...]   # default: all
    SF_DIR=/root/testdata/sf0.001 python scripts/check_correctness.py
"""
from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    """Canonical repr for hashing/compare across engines."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "0"  # normalize -0.0
        return repr(v)  # shortest round-trip repr: bit-exact
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def frame_sig(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    return sorted(cols), lines


def arm_diffs(tags, scols, srows, ocols, orows):
    """``[(arm, spark_rows, oracle_rows)]`` for every tag value whose rows
    differ between the two sides, when the Spark frame's first column is
    one of ``tags`` (a union of named arms); ``[]`` otherwise."""
    tag = scols[0] if scols and scols[0] in tags else None
    if tag is None or tag not in ocols:
        return []

    def by_arm(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        t = cols.index(tag)
        arms = {}
        for r in rows:
            arms.setdefault(canon(r[t]), []).append(
                "\x01".join(canon(r[i]) for i in order))
        return {a: sorted(lines) for a, lines in arms.items()}

    s, o = by_arm(scols, srows), by_arm(ocols, orows)
    return [(a, len(s.get(a, ())), len(o.get(a, ())))
            for a in sorted(set(s) | set(o)) if s.get(a) != o.get(a)]


def print_arm_diffs(tags, scols, srows, ocols, orows):
    for arm, ns, no in arm_diffs(tags, scols, srows, ocols, orows):
        print(f"   arm {scols[0]}={arm}: spark={ns} rows oracle={no} rows")


_SPARK_T = {"bigint": "i64", "int": "i32", "smallint": "i16", "double": "f64",
            "float": "f32", "string": "str", "boolean": "bool",
            "timestamp": "ts", "timestamp_ntz": "ts", "date": "date"}


def norm_spark_type(t: str) -> str:
    return _SPARK_T.get(t, t)


def norm_arrow_type(t) -> str:
    import pyarrow as pa
    if pa.types.is_int64(t):
        return "i64"
    if pa.types.is_int32(t):
        return "i32"
    if pa.types.is_float64(t):
        return "f64"
    if pa.types.is_float32(t):
        return "f32"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_date(t):
        return "date"
    return str(t)


def type_report(sdf, arrow_schema) -> list[str]:
    """Column-level normalized-type mismatches (the driver's schema check)."""
    stypes = {f.name: norm_spark_type(f.dataType.simpleString()) for f in sdf.schema.fields}
    dtypes = {f.name: norm_arrow_type(f.type) for f in arrow_schema}
    out = []
    for c in sorted(set(stypes) & set(dtypes)):
        if stypes[c] != dtypes[c]:
            out.append(f"{c}: spark={stypes[c]} duck={dtypes[c]}")
    return out


def main():
    only = set(sys.argv[1:])
    from transmogrifai_spark import session
    from transmogrifai_spark.driver_queries import (ARM_TAGS, ORACLES,
                                                    SPARK_QUERIES)

    spark = session(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    n_pass = n_fail = n_rows_only = 0
    for name, fn in SPARK_QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in ORACLES:
            print(f"ROWS {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            tbl = con.execute(ORACLES[name]).fetch_arrow_table()
            ocols = tbl.column_names
            orows = [tuple(d[c] for c in ocols) for d in tbl.to_pylist()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        mismatched_types = type_report(sdf, tbl.schema)
        if mismatched_types:
            print(f"TYPE {name}: {'; '.join(mismatched_types)}")
        sc, sl = frame_sig(scols, srows)
        oc, ol = frame_sig(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: columns spark={sc} oracle={oc}")
            n_fail += 1
            continue
        if len(sl) != len(ol):
            print(f"FAIL {name}: rowcount spark={len(sl)} oracle={len(ol)}")
            print_arm_diffs(ARM_TAGS, scols, srows, ocols, orows)
            n_fail += 1
            continue
        if sl != ol:
            bad = [(a, b) for a, b in zip(sl, ol) if a != b][:3]
            print(f"FAIL {name}: value mismatch ({sum(1 for a,b in zip(sl,ol) if a!=b)} rows); e.g.:")
            for a, b in bad:
                print(f"   spark:  {a[:200]}")
                print(f"   oracle: {b[:200]}")
            print_arm_diffs(ARM_TAGS, scols, srows, ocols, orows)
            n_fail += 1
            continue
        print(f"PASS {name}: {len(sl)} rows [{time.time()-t0:.1f}s]")
        n_pass += 1

    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only ==")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
