#!/usr/bin/env python3
"""Builds the benchmark from source, into .bench_build/ of the tree it runs in.

    python3 perfbench/build.py

Compiles the library (src/main/scala) and then the harness
(perfbench/harness) against it with the Scala compiler that ships in
Spark's jars ($SPARK_HOME/jars, else those of a spark-submit on PATH).
Each part is compiled again only when its sources, or the part it depends
on, changed.
run.py calls this before every run.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
LIB_SRC = os.path.join("src", "main", "scala")
HARNESS_SRC = os.path.join("perfbench", "harness")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    fail("no Spark jars with a Scala compiler: set SPARK_HOME")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def compile_if_changed(name, srcs, classpath):
    """Compile `srcs` into .bench_build/<name> unless its stamp, a hash of
    the sources and of everything on `classpath`'s stamps, still matches."""
    h = hashlib.sha256()
    for f in srcs + [os.path.join(BUILD, c + ".stamp") for c in classpath]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(BUILD, name + ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    out_dir = os.path.join(BUILD, name)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out_dir]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(os.path.join(BUILD, c) for c in classpath)]
    log = os.path.join(BUILD, name + ".log")
    with open(log, "w") as out:
        if subprocess.call(cmd + srcs, stdout=out, stderr=subprocess.STDOUT) != 0:
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"compile failed, see {log}")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


def build():
    """Compile the library, then the harness against it, when changed."""
    lib = sources(LIB_SRC)
    if not lib or not os.path.exists("build.sbt"):
        fail(f"run from the root of a graft source tree (no build.sbt or {LIB_SRC})")
    os.makedirs(BUILD, exist_ok=True)
    compile_if_changed("classes", lib, [])
    compile_if_changed("harness", sources(HARNESS_SRC), ["classes"])


if __name__ == "__main__":
    build()
