#!/usr/bin/env python3
"""Interleaved A/B of the seeded benchmark: a git rev against the working tree.

    python3 scripts/ab_perfbench.py --rev HEAD~1 --workload curate \\
        --pairs 10 --seed 51 --out plans/ab_curate.jsonl

Run from the repository root. The rev's committed files are exported
(``git archive``) into a new temporary directory, removed at exit; pair
``i`` runs ``perfbench/run.py --workload W --seed <seed + i>`` (for
BENCHMARK.json's ``run_seconds``) once on each side, the rev first on even
pairs and the working tree first on odd ones, so host drift within a pair
falls on both sides equally often. Every run appends one
JSON line to ``--out`` (side, pair, order, seed, the run's result and its
report line). At the end it prints, for each end-to-end metric of
``BENCHMARK.json``, how many pairs the working tree won, both medians and
the rev's interquartile range; a gain is clear when the wins are near all
pairs and the median difference exceeds that IQR.

``--trace 1`` runs the traced loop instead and adds, per span
(``<workload>/<layer>/<call>``), the wall, the time covered by Spark jobs,
the rest (driver time) and the jobs, each per operation — read from the
benchmark's own tracer and event log in-process, without changing
``perfbench/``.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPANS_TAG = "AB_SPANS "

# Run in the child interpreter from the side's checkout: the benchmark's own
# main(), with per_layer wrapped to also print the per-span split.
_CHILD = r"""
import json, sys
sys.path.insert(0, ".")
import perfbench.run as run

per_layer = run.per_layer

def with_spans(tracer, log):
    n_ops = len(tracer.op_walls())
    spans = {}
    for g in sorted({s.group for s in tracer.spans}):
        wall = sum(s.wall for s in tracer.spans if s.group == g)
        js = log.select(lambda j, g=g: j.group == g)
        spans[g] = {"wall_s": wall / n_ops, "job_wall_s": js.job_wall_s / n_ops,
                    "driver_s": (wall - js.job_wall_s) / n_ops,
                    "jobs": len(js.jobs) / n_ops}
    print(%r + json.dumps(spans), flush=True)
    return per_layer(tracer, log)

run.per_layer = with_spans
sys.exit(run.main(sys.argv[1:]))
""" % SPANS_TAG


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rev", default="HEAD",
                    help="git rev to compare against (default HEAD)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1,
                    help="seed of pair 0; pair i uses seed + i")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", required=True, help="JSONL file to append to")
    return ap.parse_args(argv)


def export_rev(rev: str, dest: str) -> str:
    """The committed files of ``rev`` under ``dest``; returns the full sha."""
    sha = subprocess.run(["git", "rev-parse", rev], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout.strip()
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT,
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout,
                   check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")
    return sha


def run_once(cwd: str, args, seed: int, seconds: float) -> dict:
    """One benchmark run in ``cwd``: its result, report and spans."""
    cmd = [sys.executable, "-c", _CHILD, "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(args.trace)]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    lines = proc.stdout.splitlines()
    out = {"returncode": proc.returncode}
    for line in lines:
        if line.startswith(SPANS_TAG):
            out["spans"] = json.loads(line[len(SPANS_TAG):])
        elif line.startswith('{"workload"'):
            out["report"] = json.loads(line)
    if lines and lines[-1].startswith("{"):
        out["result"] = json.loads(lines[-1])
    else:
        out["stderr_tail"] = proc.stderr[-2000:]
    return out


def metric(run: dict, name: str):
    m = (run.get("result") or {}).get("metrics", {}).get(name)
    return None if m is None else m["value"]


def iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def summarize(runs: list[dict], declared: list[dict]) -> list[str]:
    """Per metric: change wins / pairs, both medians, the rev's IQR."""
    by_pair: dict = {}
    for r in runs:
        by_pair.setdefault(r["pair"], {})[r["side"]] = r
    pairs = [p for p in by_pair.values() if len(p) == 2]
    lines = [f"{'metric':<22}{'wins':>8}{'rev med':>12}{'tree med':>12}"
             f"{'rev IQR':>12}{'diff':>12}"]
    for m in declared:
        vals = [(metric(p["rev"], m["name"]), metric(p["tree"], m["name"]))
                for p in pairs]
        vals = [(a, b) for a, b in vals if a is not None and b is not None]
        if not vals:
            continue
        lower = m.get("better", "lower") == "lower"
        wins = sum((b < a) if lower else (b > a) for a, b in vals)
        base = [a for a, _ in vals]
        mb, mt = statistics.median(base), statistics.median(b for _, b in vals)
        lines.append(f"{m['name']:<22}{wins:>5}/{len(vals):<2}{mb:>12.4g}"
                     f"{mt:>12.4g}{iqr(base):>12.4g}{mt - mb:>12.4g}")
    spans = sorted({g for p in pairs for side in p.values()
                    for g in side.get("spans", {})})
    if spans:
        lines.append(f"{'span (medians per op)':<34}{'rev driver_s':>14}"
                     f"{'tree driver_s':>14}{'rev jobs':>10}{'tree jobs':>10}")
    for g in spans:
        def med(side, key):
            xs = [p[side]["spans"][g][key] for p in pairs
                  if g in p[side].get("spans", {})]
            return statistics.median(xs) if xs else float("nan")
        lines.append(f"{g:<34}{med('rev', 'driver_s'):>14.3f}"
                     f"{med('tree', 'driver_s'):>14.3f}"
                     f"{med('rev', 'jobs'):>10.1f}{med('tree', 'jobs'):>10.1f}")
    return lines


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = bench["per_layer"] if args.trace else bench["end_to_end"]
    work = tempfile.mkdtemp(prefix="ab_perfbench-")
    rev_dir = os.path.join(work, "rev")
    runs: list[dict] = []
    try:
        sha = export_rev(args.rev, rev_dir)
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        for i in range(args.pairs):
            seed = args.seed + i
            order = ["rev", "tree"] if i % 2 == 0 else ["tree", "rev"]
            for pos, side in enumerate(order):
                r = run_once(rev_dir if side == "rev" else ROOT, args, seed,
                             bench["run_seconds"])
                r.update({"side": side, "pair": i, "order": pos,
                          "seed": seed, "workload": args.workload,
                          "trace": args.trace,
                          "rev": sha if side == "rev" else "working tree"})
                runs.append(r)
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(r) + "\n")
                ms = {m["name"]: metric(r, m["name"]) for m in declared}
                print(f"pair {i} seed {seed} {side:<4} "
                      + " ".join(f"{k}={v:.4g}" for k, v in ms.items()
                                 if v is not None), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(summarize(runs, declared)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
