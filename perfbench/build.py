#!/usr/bin/env python3
"""Builds the benchmark: the program's sources (src/main/scala) and the
harness (perfbench/scala) compiled together with scalac from the Spark
distribution's own jars into .bench_build/classes.

The build is keyed by a hash of every source file, so an unchanged tree
is never rebuilt.  Run from the repository root:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        raise BuildError("no program sources under src/main/scala: run from the repository root")
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/*.scala")))
    return program + harness


def classpath():
    return os.path.join(SPARK_JARS, "*")


def build():
    """Returns the classes directory, compiling first if the sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(os.path.join(SPARK_JARS, f"{j}-{SCALA_VERSION}.jar")
                               for j in ("scala-compiler", "scala-library", "scala-reflect"))
    scratch = os.path.join(BUILD, "tmp")
    os.makedirs(scratch, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch}",
           "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", classpath()] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
