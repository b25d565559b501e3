#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources
(`src/main/scala`) together with the benchmark's JVM code
(`perfbench/scala`) into one class directory, with the Scala compiler
that ships among the Spark jars. No sbt, no network, nothing written
outside the checkout.

    python3 perfbench/build.py        # prints the class directory

A stamp over every source file's path and content decides whether the
classes are current; a changed source rebuilds from scratch."""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """`$SPARK_HOME/jars`, else the `jars` directory beside the first
    `spark-submit` on PATH that has one."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars):
            return jars
    raise SystemExit("build: no Spark jars found; set SPARK_HOME")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"build: engine sources not found at {main}")
    found = []
    for base in (main, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Return the class directory, compiling first if it is stale."""
    files = sources()
    want = stamp(files)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return classes
    os.makedirs(OUT, exist_ok=True)
    staging = classes + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-classpath", cp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"build: scalac failed (exit {proc.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return classes


if __name__ == "__main__":
    print(ensure_built())
