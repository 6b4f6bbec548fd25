#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM side (perfbench/scala) with the Scala compiler that
ships in the Spark distribution, into .bench_build/classes.

The build is skipped when the sources hash to the same key as the last
one. Run from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
SOURCES = ["src/main/scala", "perfbench/scala"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for root in SOURCES:
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    if not any(f.startswith("src/") for f in files):
        sys.exit("perfbench: no program sources under src/main/scala")
    return sorted(files)


def source_key():
    """Hash of every source file the build compiles."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Returns the classpath of the built program and benchmark."""
    jars = spark_jars()
    files = sources()
    key = source_key()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.key")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.exists(stamp):
        os.remove(stamp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*")] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: compilation failed")
    with open(stamp, "w") as fh:
        fh.write(key)
    return cp


if __name__ == "__main__":
    print(build())
