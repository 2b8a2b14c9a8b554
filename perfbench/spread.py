#!/usr/bin/env python3
"""Spread report: runs N seeds of each workload in BENCHMARK.json, alternating,
with tracing off and the run length from BENCHMARK.json, then prints per
workload and end-to-end metric the median, IQR/median and max/min; each
run's host-speed sentinel; and the ratio of the first to the last measured
warm pass (near 1 when measurement starts past the JIT curve).

    python3 perfbench/spread.py --runs 10 --first-seed 1
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from run import BUILD, END_TO_END


def run_once(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        sys.exit(f"perfbench: run {workload} seed {seed} failed")
    lines = out.stdout.splitlines()
    path = next(l.split(None, 1)[1] for l in lines if l.strip().startswith("record "))
    return json.loads(lines[-1]), json.load(open(path))


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values), \
        max(values) / min(values)


def sentinel(rec):
    s = rec["sentinel"]
    return {k: statistics.median(x[k] for x in s)
            for k in ("steal_share", "load1", "cpu_probe_ms", "mem_probe_ms")}


def report(workload, runs, bounds):
    print(f"\n== {workload}: {len(runs)} runs")
    for k in END_TO_END:
        med, iqr, mm = spread([r["end_to_end"][k]["value"] for r in runs])
        b = bounds[k]
        print(f"  {k:16s} median {med:8.4f} s  IQR/median {iqr:.3f} "
              f"(bound {b}, {'ok' if iqr <= b else 'OVER'}"
              f"{', under a third' if iqr < b / 3 else ''})  max/min {mm:.3f}")
    ratios = [r["first_last_measured"] for r in runs if r["first_last_measured"] is not None]
    print(f"  first/last measured warm pass: median {statistics.median(ratios):.3f} "
          f"(runs: {' '.join(f'{x:.3f}' for x in ratios)})")
    sents = [sentinel(r) for r in runs]
    base = {k: statistics.median(s[k] for s in sents) for k in ("cpu_probe_ms", "mem_probe_ms")}
    for r, s in zip(runs, sents):
        slow = (s["steal_share"] > 0.01 or s["cpu_probe_ms"] > 1.1 * base["cpu_probe_ms"]
                or s["mem_probe_ms"] > 1.1 * base["mem_probe_ms"])
        print(f"  seed {r['seed']:4d} warm {r['end_to_end']['warm_pass_s']['value']:7.3f} s  "
              f"steal {s['steal_share']:.4f} load {s['load1']:.2f} "
              f"cpu {s['cpu_probe_ms']:.1f} ms mem {s['mem_probe_ms']:.1f} ms"
              f"{'  SLOWED (kept)' if slow else ''}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]
    runs = {w: [] for w in workloads}
    for i in range(a.runs):
        for w in workloads:
            seed = a.first_seed + i
            result, rec = run_once(w, seed, bench["run_seconds"])
            if not result["correct"]:
                print(f"  {w} seed {seed}: {result['failed']} of {result['attempted']} "
                      "operations failed", file=sys.stderr)
            runs[w].append(rec)
            print(f"{time.strftime('%H:%M:%S')} {w} seed {seed}: " + " ".join(
                f"{k}={rec['end_to_end'][k]['value']:.3f}" for k in END_TO_END), flush=True)
    for w in workloads:
        report(w, runs[w], bounds)
    path = os.path.join(BUILD, f"spread-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as fh:
        json.dump(runs, fh)
    print(f"\nrecords: {path}")


if __name__ == "__main__":
    main()
