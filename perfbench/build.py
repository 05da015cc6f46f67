#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the repository's Scala sources (src/main/scala) together with
the benchmark's own (perfbench/src) into .bench_build/classes, using the
Scala compiler that ships in the Spark distribution's jars directory
(build.sbt's `unmanagedBase`, else $SPARK_HOME/jars). No dependency
resolution, no network. A digest of every source file is stored beside
the classes; an unchanged tree is not compiled again.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """The Spark jars the repository's build.sbt compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench: no Spark jars: build.sbt names no unmanagedBase "
                     "and SPARK_HOME is not set")


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, the repo's resources (the
    DataSourceRegister service file) and the Spark jars."""
    return os.pathsep.join([CLASSES, RESOURCES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    if not os.path.isdir(SOURCE_DIRS[0]) or not os.path.isdir(RESOURCES):
        raise SystemExit("perfbench: repository sources (src/main) not found; "
                         "run from a full checkout")
    files = sources()
    stamp = os.path.join(CLASSES, ".digest")
    want = digest(files)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(BUILD, "scalac-args.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"perfbench: compiling {len(files)} Scala files", file=log, flush=True)
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    res = subprocess.run(cmd, stdout=log, stderr=log)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({res.returncode})")
    with open(os.path.join(tmp, ".digest"), "w") as fh:
        fh.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    build()
