#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/scala) together with the Scala compiler that ships in
the Spark distribution, into .bench_build/classes of the checkout.

    python3 perfbench/build.py            # build if sources changed

Nothing is written outside the checkout. The build is skipped when a stamp
of every source file's path and content matches the last build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    distribution whose spark-submit is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources():
    found = []
    for sub in ("src/main/scala", "perfbench/scala"):
        base = os.path.join(ROOT, sub)
        if not os.path.isdir(base):
            raise SystemExit(f"missing source directory {sub}: not a checkout of the program")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(srcs):
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(quiet=False):
    """Compile if needed; returns the classpath to run the harness with."""
    jars = spark_jars()
    srcs = sources()
    want = stamp(srcs)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return f"{CLASSES}{os.pathsep}{jars}"
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        raise SystemExit("build failed")
    if not quiet and res.stdout.strip():
        sys.stderr.write(res.stdout)
    with open(STAMP, "w") as f:
        f.write(want + "\n")
    return f"{CLASSES}{os.pathsep}{jars}"


if __name__ == "__main__":
    print(build())
