#!/usr/bin/env python3
"""Builds the program and the benchmark from source with the Scala
compiler shipped in Spark's jars: src/main/scala plus perfbench/src into
.bench_build/perfbench/classes. A stamp of the sources' contents skips
the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the root of a checkout)
Prints the runtime classpath.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark jars with a Scala compiler found "
                 "(set SPARK_HOME)")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(OUT, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                        "-d", classes, "@" + argfile], check=True)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return os.pathsep.join([classes, RESOURCES, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build())
