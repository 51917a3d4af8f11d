#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/src) together with the Scala compiler shipped in
Spark's jars, into .bench_build/classes-<source hash>/.

    python3 perfbench/build.py      # prints the classes directory

Run from the repository root. A build is reused while the sources and
the jar set are unchanged; older builds are removed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

BUILD_DIR = ".bench_build"


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        die("no Spark jars under %s (set SPARK_HOME)" % jars)
    return jars


def sources():
    repo = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    if not repo:
        die("no program sources under src/main/scala; run from the repository root")
    if not bench:
        die("no harness sources under perfbench/src")
    return repo + bench


def build(jars):
    """Compile program + harness once per source state; returns the classes dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="compile-", dir=BUILD_DIR)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", tmp, "-cp", cp] + files, capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die("compile failed")
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build(spark_jars()))
