#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark harness (perfbench/scala) with the Scala compiler that ships
in Spark's jars, into .bench_build/classes under the checkout root.

A stamp over every source file's path and content skips the compile
when nothing changed. Run it directly to build:

    python3 perfbench/build.py
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark installation with a Scala compiler "
                         "(set SPARK_HOME or put spark-submit on PATH)")
    return jars


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/*.scala")))
    return program + harness


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files + sorted(os.listdir(jars)):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compiles when sources changed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp(files, jars)
        stamp_file = os.path.join(OUT, "stamp")
        have = ""
        if os.path.exists(stamp_file):
            with open(stamp_file) as fh:
                have = fh.read()
        if have != want or not os.path.isdir(CLASSES):
            tmp = CLASSES + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            cp = os.path.join(jars, "*")
            cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                   "-nowarn", "-d", tmp, "-classpath", cp] + files
            print(f"perfbench: compiling {len(files)} sources", file=log)
            r = subprocess.run(cmd, stdout=log, stderr=log)
            if r.returncode != 0:
                raise SystemExit("perfbench: compile failed")
            shutil.rmtree(CLASSES, ignore_errors=True)
            os.rename(tmp, CLASSES)
            with open(stamp_file, "w") as fh:
                fh.write(want)
    return CLASSES + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    print(build())
