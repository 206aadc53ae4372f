#!/usr/bin/env python3
"""Builds graft's main sources plus the benchmark harness with scalac.

The build is keyed by a hash of every source file, so a checkout builds
once and later runs reuse the classes. Output goes to `.bench_build/`
under the current directory (the repository root). The Scala compiler
and Spark's jars come from the Spark installation: `$SPARK_HOME/jars`,
or the `jars` directory of the installed `pyspark` package.

    python3 perfbench/build.py      # prints the classpath to run with
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE_DIRS = ["src/main/scala", os.path.join(os.path.relpath(HERE), "src")]
RESOURCE_DIR = "src/main/resources"
BUILD_DIR = ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        return os.path.join(home, "jars")
    try:
        import pyspark
    except ImportError:
        sys.exit("no Spark jars: set SPARK_HOME or install pyspark")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def walk(d):
    return sorted(os.path.join(root, n) for root, _, names in os.walk(d) for n in names)


def sources():
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"missing source directory {d}: run from the repository root")
    return [f for d in SOURCE_DIRS for f in walk(d) if f.endswith(".scala")]


def build():
    """Compiles if needed and returns the run classpath."""
    jars = spark_jars()
    files = sources()
    resources = walk(RESOURCE_DIR)
    digest = hashlib.sha256(jars.encode())
    for f in files + resources:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(BUILD_DIR, "classes-" + digest.hexdigest()[:16])
    classpath = os.path.join(jars, "*") + os.pathsep + out
    if os.path.isdir(out):
        return classpath
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + files
    try:
        done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=840)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("scalac timed out")
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(done.stdout[-4000:])
        sys.exit(f"scalac failed with exit code {done.returncode}")
    for f in resources:  # service registrations, e.g. the graft-cdf source
        dst = os.path.join(tmp, os.path.relpath(f, RESOURCE_DIR))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != out and ".tmp" not in old:  # builds of earlier sources
            shutil.rmtree(old, ignore_errors=True)
    return classpath


if __name__ == "__main__":
    print(build())
