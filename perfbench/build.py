#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together
with the benchmark's own Scala sources into one classes directory, with
the Scala compiler that ships among Spark's jars, and copies graft's
resources (the data source registration) beside them. No build tool
runs.

    python3 perfbench/build.py          # build if any source changed

Output goes to $CARGO_TARGET_DIR (default .bench_build) under the
checkout root. A source-content stamp skips the compile when nothing
changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def classpath():
    return os.path.join(build_dir(), "classes") + os.pathsep + \
        os.path.join(spark_jars(), "*")


def scala_files():
    files = []
    for d in SOURCES:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def resource_files():
    return sorted(f for f in glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True)
                  if os.path.isfile(f))


def build():
    files = scala_files()
    if not os.path.isdir(SOURCES[0]) or not any(f.startswith(SOURCES[0]) for f in files):
        raise SystemExit(f"build: no program sources under {SOURCES[0]}")
    h = hashlib.sha256()
    for f in files + resource_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(build_dir(), "stamp")
    classes = os.path.join(build_dir(), "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    if os.path.isdir(classes):
        shutil.rmtree(classes)
    os.makedirs(classes)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + files
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit("build: scalac failed")
    for f in resource_files():
        dst = os.path.join(classes, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


if __name__ == "__main__":
    build()
