#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution, without sbt.

    python3 perfbench/build.py          # prints the run-time classpath

Classes land in .bench_build/perfbench/classes-<hash>, keyed by a hash of
every source file, so an unchanged tree is not compiled twice.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".bench_build", "perfbench")


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    spark-submit on the PATH that sits in a full distribution."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark distribution with a Scala compiler found; set SPARK_HOME")


def sources():
    main = os.path.join(REPO, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"build: program sources not found at {main}")
    found = []
    for root in (main, os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(root):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compiles if needed; returns the classpath entries to run with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    resources = os.path.join(REPO, "src", "main", "resources")
    cp = [classes, resources, os.path.join(jars, "*")]
    if os.path.exists(os.path.join(classes, ".done")):
        return cp
    os.makedirs(OUT, exist_ok=True)
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, classes)
    return cp


if __name__ == "__main__":
    print(os.pathsep.join(build()))
