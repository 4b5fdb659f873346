#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the benchmark
(`perfbench/src`) with the Scala compiler that ships in the Spark jars
directory, into `.bench_build/classes` at the root of the checkout.
Nothing outside the checkout is written. A build is reused while the
hash of every source file and of the compiler flags is unchanged.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


SCALAC_FLAGS = ["-nowarn", "-deprecation:false"]
COMPILE_TIMEOUT_S = 600


def _spark_jars():
    """The jars directory of SPARK_HOME, else of the first spark-submit on
    PATH whose installation ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark installation with jars/scala-compiler-*.jar; set SPARK_HOME")


def _sources(rel):
    return sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))


def _scalac(out, classpath, sources):
    os.makedirs(out)
    # the Scala compiler ships in the Spark jars, on `classpath`
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", classpath, "scala.tools.nsc.Main",
           *SCALAC_FLAGS, "-d", out, "-cp", classpath, *sources]
    subprocess.run(cmd, check=True, timeout=COMPILE_TIMEOUT_S,
                   stdout=sys.stderr, stderr=sys.stderr)


def build():
    """Returns the run-time classpath, compiling first if sources changed."""
    main = _sources("src/main/scala")
    bench = _sources("perfbench/src")
    if not main or not bench:
        raise SystemExit("perfbench: no program or benchmark sources to build")
    spark_jars = _spark_jars()
    h = hashlib.sha256(" ".join(SCALAC_FLAGS).encode())
    for path in main + bench:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(BUILD, "classes", stamp)
    spark_cp = os.path.join(spark_jars, "*")
    cp = os.pathsep.join([os.path.join(classes, "bench"), os.path.join(classes, "main"), spark_cp])
    if os.path.isdir(classes):
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _scalac(os.path.join(tmp, "main"), spark_cp, main)
    _scalac(os.path.join(tmp, "bench"),
            os.pathsep.join([os.path.join(tmp, "main"), spark_cp]), bench)
    # publish atomically; older builds of other source states go away
    for old in glob.glob(os.path.join(BUILD, "classes", "*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return cp


if __name__ == "__main__":
    print(build())
