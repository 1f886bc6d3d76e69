#!/usr/bin/env python3
"""Builds the benchmark's JVM side together with graft's sources.

Usage: python3 perfbench/build.py

Compiles `src/main/scala` (the program) and `perfbench/src` (the benchmark)
with the Scala compiler that ships in the Spark jar directory, into
`perfbench/.build/classes`. A stamp holding a hash of every source file
skips the compile when nothing changed. Exits non-zero when the program's
sources are missing or do not compile.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of the Spark whose `spark-submit`
    is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        raise RuntimeError("no Spark installation: set SPARK_HOME")
    return os.path.join(home, "jars")


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return prog, own


def ensure_built(log=sys.stderr):
    """Returns the runtime classpath, compiling first when sources changed."""
    prog, own = sources()
    if not prog:
        raise RuntimeError(f"no program sources under {ROOT}/src/main/scala")
    if not os.path.isdir(spark_jars()):
        raise RuntimeError(f"no Spark jars at {spark_jars()}")
    h = hashlib.sha256()
    for f in prog + own:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return classpath()
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(prog + own) + "\n")
    print(f"building {len(prog)} program and {len(own)} benchmark sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + OUT,
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES, "@" + args_file]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise RuntimeError("compile failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return classpath()


if __name__ == "__main__":
    try:
        print(ensure_built())
    except RuntimeError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
