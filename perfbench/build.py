#!/usr/bin/env python3
"""Build the benchmark: compile graft's main sources together with the
benchmark's own sources (perfbench/src) into perfbench/.build/classes, and
pack them as perfbench/.build/bench.jar (the JVM's class-data sharing,
which run.py uses, archives classes from jars only).

The Scala 2.13 compiler is the one that ships in Spark's jar directory
($SPARK_HOME/jars), so the build needs no dependency resolution. A stamp
holding a hash of every input file skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "bench.jar")
STAMP = os.path.join(OUT, "stamp")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("build: SPARK_HOME must point at a Spark 4.1 distribution")
    return os.path.join(home, "jars")


def sources():
    roots = [os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(roots[0]):
        raise SystemExit("build: graft's sources (src/main/scala) are missing")
    files = []
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def classpath():
    """Runtime classpath of the built benchmark."""
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == digest:
                return
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss4m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", jars, "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit("build: scalac failed")
    with zipfile.ZipFile(JAR, "w") as jar:
        for d, _, names in sorted(os.walk(CLASSES)):
            for n in sorted(names):
                p = os.path.join(d, n)
                jar.write(p, os.path.relpath(p, CLASSES))
    with open(STAMP, "w") as fh:
        fh.write(digest)


if __name__ == "__main__":
    build()
