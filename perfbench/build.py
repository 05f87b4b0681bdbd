#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's main sources
(`src/main/scala`) together with the benchmark code (`perfbench/src`)
with the Scala compiler that ships in the Spark distribution, into
`.bench_build/perfbench/classes` under the checkout root.

Usage: python3 perfbench/build.py   (from the checkout root)

The compile is skipped when the stamp (a hash over every input file) still
matches. Nothing is written outside `.bench_build/`.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars() -> str:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    distribution that holds the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench build: no Spark distribution (set SPARK_HOME)")
    return jars


def sources(root: str, ext: str):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(ext)]
    return sorted(out)


def classpath() -> str:
    """Runtime classpath: compiled classes, then the program's resources
    (the `hudi-graft` DataSourceRegister service file), then Spark."""
    return os.pathsep.join([CLASSES, PROGRAM_RES, os.path.join(spark_jars(), "*")])


def build() -> None:
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"perfbench build: program sources missing: {PROGRAM_SRC}")
    srcs = sources(PROGRAM_SRC, ".scala") + sources(BENCH_SRC, ".scala")
    h = hashlib.sha256()
    for p in srcs + sources(PROGRAM_RES, ""):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    if os.path.exists(STAMP):
        os.remove(STAMP)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile]
    print(f"perfbench build: compiling {len(srcs)} Scala files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench build: scalac exited {r.returncode}")
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
