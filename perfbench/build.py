#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/src) into <build dir>/classes with the Scala
compiler that ships in Spark's jars directory, so a build needs no sbt and
writes nothing outside the build directory.

The compile is skipped when a stamp of every source file's path and content
matches the last successful build.

    python3 perfbench/build.py [build dir]     # default .bench_build
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"))


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark's jars directory not found; set SPARK_HOME")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(d):
            found += [os.path.join(dirpath, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(found)


def build(build_dir):
    """Compiles if the sources changed; returns the classes directory."""
    srcs = sources()
    if not any(s.startswith(SOURCE_DIRS[0]) for s in srcs):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found")
    stamp = hashlib.sha256()
    for s in srcs:
        stamp.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            stamp.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp.hexdigest():
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp.hexdigest())
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
