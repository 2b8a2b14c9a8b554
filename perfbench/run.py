#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload floor --seed 1 --seconds 10 --trace 0

Run from the root of a source tree. Each run first calls build.py, which
compiles the library and the harness into .bench_build/ when their sources
changed. The harness writes its full record (sentinel, hygiene, failures
and, traced, spans) to .bench_build/records/, prints a readable summary,
and the last stdout line is the result JSON: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

from build import BUILD, build, fail, spark_jars

RUN_TIMEOUT_S = 170

END_TO_END = ["setup_s", "cold_pass_s", "warm_pass_s", "query_p50_s",
              "query_geomean_s"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(main, tmp):
    cp = os.pathsep.join([os.path.join(BUILD, "harness"),
                          os.path.join(BUILD, "classes"), spark_jars()])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # graft.Bench's heap (build.sbt: -Xmx8g); no hsperfdata file outside
    # the checkout
    return (["java", "-XX:-UsePerfData", "-Xmx8g"] + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", "-cp", cp, main])


def launch(main, args, tag):
    """Run one harness main in a fresh JVM with a private temp dir inside
    the build dir; return its `RECORD` JSON (or None) and the log path."""
    tmp = os.path.abspath(os.path.join(BUILD, "tmp", f"{tag}-{os.getpid()}"))
    os.makedirs(tmp)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    # Scale's checkpoints go to the run's temp dir, not to /dev/shm as
    # under graft.Bench, so that a run writes only inside its checkout.
    # A warm loops_lake pass checkpoints about 1 KB beside ~30 MB of lake
    # files, which go to this disk under graft.Bench too.
    env = dict(os.environ, SPARK_GRAFT_CKPT_BASE=tmp)
    record, lines = None, []
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(java_cmd(main, tmp) + args, stdout=subprocess.PIPE,
                                 stderr=err, env=env, text=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                print(f"perfbench: {main} timed out after {RUN_TIMEOUT_S} s",
                      file=sys.stderr)
                return None, log
        for line in out.splitlines():
            if line.startswith("RECORD "):
                record = json.loads(line[len("RECORD "):])
            else:
                lines.append(line)
        if p.returncode != 0:
            print(f"perfbench: {main} exited {p.returncode}; see {log}",
                  file=sys.stderr)
            sys.stderr.write("".join(open(log).readlines()[-30:]))
            return None, log
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for line in lines:
        print(line)
    return record, log


def summary(rec):
    """Readable lines: metrics with unit and sample count, sentinel, hygiene."""
    print(f"workload {rec['workload']} seed {rec['seed']} trace {int(rec['trace'])}: "
          f"{rec['attempted']} query runs, {rec['failed']} failed")
    for k in END_TO_END:
        m = rec["end_to_end"][k]
        print(f"  {k:16s} {m['value']:.4f} {m['unit']}  (n={m['n']})")
    ratio = rec["first_last_measured"]
    print("  warm passes (s): " + " ".join(f"{x:.3f}" for x in rec["warm_passes_s"])
          + f"  (first {rec['jit_passes']} not measured)  first/last measured "
          + (f"{ratio:.3f}" if ratio is not None else "n/a"))
    for s in rec["sentinel"]:
        print(f"  sentinel {s['at']:8s} steal {s['steal_share']:.4f} load {s['load1']:.2f}"
              f" cpu {s['cpu_probe_ms']:.1f} ms mem {s['mem_probe_ms']:.1f} ms")
    print(f"  hygiene leaked_rdds {rec['hygiene']['leaked_rdds']} "
          f"leaked_files {rec['hygiene']['leaked_files']}")
    for f in rec["failures"]:
        print(f"  FAILED {f['query']} pass {f['pass']}: {f['class']}: {f['message']}")
    if rec["trace"]:
        qs = [s for s in rec["spans"] if s["kind"] == "query"]
        phases = {(s["parent"], s["kind"]) for s in rec["spans"]}
        whole = sum(all((q["id"], p) in phases for p in ("build", "action", "cleanup"))
                    and q["jobs"] > 0 for q in qs)
        print(f"  spans {len(rec['spans'])}: {whole}/{len(qs)} query runs with build, "
              f"action and cleanup spans and attributed jobs; max "
              f"|self+busy+gap-wall| {max(q['check_ms'] for q in qs):.3f} ms; "
              f"unattributed jobs {sum(q['unattributed_jobs'] for q in qs)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["floor", "loops_lake"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()
    build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    rec, log = launch("perfbench.Harness",
                      ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace)], tag)
    if rec is None:
        fail(f"no record from the harness; see {log}")
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    path = os.path.join(BUILD, "records", tag + ".json")
    with open(path, "w") as fh:
        json.dump(rec, fh)
    summary(rec)
    print(f"  record {path}")
    # names and units as BENCHMARK.json declares them
    declared = json.load(open("BENCHMARK.json"))["per_layer" if a.trace else "end_to_end"]
    values = rec["per_layer"] if a.trace else {
        k: m["value"] for k, m in rec["end_to_end"].items()}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
