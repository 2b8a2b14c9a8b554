#!/usr/bin/env python3
"""Trace diff: compares traced runs of two trees, per workload and layer.

    python3 perfbench/tracediff.py BEFORE AFTER

BEFORE and AFTER are each a traced run's record (.bench_build/records/
*-trace1-*.json, written by `run.py --trace 1`) or a directory of them.
Per workload it prints each per-layer metric's median on both sides and the
delta, then each query's build self time, job-busy time and driver gap over
the measured warm passes. Any change in a job, stage or task count is
flagged with `COUNT CHANGED`; the exit code is 1 when one is.
"""
import glob
import json
import os
import statistics
import sys

COUNTS = ("tables.read_jobs", "build.jobs", "exec.jobs", "exec.stages", "exec.tasks")


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    by_workload = {}
    for f in files:
        rec = json.load(open(f))
        if isinstance(rec, dict) and rec.get("trace"):
            by_workload.setdefault(rec["workload"], []).append(rec)
    if not by_workload:
        sys.exit(f"tracediff: no traced run records in {path}")
    return by_workload


def per_query(recs):
    """query -> (median build self ms, job busy ms, gap ms, jobs) over the
    measured warm passes of all runs."""
    rows = {}
    for r in recs:
        for s in r["spans"]:
            if s["kind"] == "query" and s["pass"] > r["jit_passes"]:
                rows.setdefault(s["query"], []).append(
                    (s["build_self_ms"], s["job_busy_ms"], s["driver_gap_ms"], s["jobs"]))
    return {q: tuple(statistics.median(x[i] for x in v) for i in range(4))
            for q, v in rows.items()}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    changed = False
    for w in sorted(set(a) & set(b)):
        print(f"== {w}: {len(a[w])} vs {len(b[w])} traced runs")
        print(f"  {'metric':28s} {'before':>12s} {'after':>12s} {'delta':>12s} {'%':>8s}")
        for k in sorted(a[w][0]["per_layer"]):
            x = statistics.median(r["per_layer"][k] for r in a[w])
            y = statistics.median(r["per_layer"][k] for r in b[w] if k in r["per_layer"])
            pct = f"{100 * (y - x) / x:+7.1f}%" if x else ""
            flag = "  COUNT CHANGED" if k in COUNTS and x != y else ""
            changed |= bool(flag)
            print(f"  {k:28s} {x:12.3f} {y:12.3f} {y - x:+12.3f} {pct:>8s}{flag}")
        qa, qb = per_query(a[w]), per_query(b[w])
        print(f"  {'query (ms per run)':28s} {'self':>16s} {'busy':>16s} {'gap':>16s} jobs")
        for q in sorted(set(qa) & set(qb)):
            (sa, ba, ga, ja), (sb, bb, gb, jb) = qa[q], qb[q]
            flag = "  COUNT CHANGED" if ja != jb else ""
            changed |= bool(flag)
            print(f"  {q:28s} {sa:7.1f}>{sb:<8.1f} {ba:7.1f}>{bb:<8.1f} {ga:7.1f}>{gb:<8.1f}"
                  f" {ja:g}>{jb:g}{flag}")
    for w in sorted(set(a) ^ set(b)):
        print(f"== {w}: traced on one side only")
    sys.exit(1 if changed else 0)


if __name__ == "__main__":
    main()
