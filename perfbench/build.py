#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources
(`src/main/scala`) together with the benchmark's own sources
(`perfbench/src`) into one class directory, with the Scala compiler that
ships in the Spark distribution's jars. No sbt and no network: the Spark
jars are the whole classpath, as in the engine's own `build.sbt`.

    python3 perfbench/build.py            # prints the class directory

The output lands in `$CARGO_TARGET_DIR` (default `.bench_build`) under a
key hashed from every source file, so an unchanged tree is never rebuilt
and a changed one never runs stale classes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars under {jars}")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"build: engine sources missing ({main})")
    found = []
    for base in (main, os.path.join(BENCH_DIR, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build_dir():
    out = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return out if os.path.isabs(out) else os.path.join(ROOT, out)


def build(log=sys.stderr):
    """Compile if needed; returns (classes_dir, seconds spent building)."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(",".join(sorted(os.listdir(jars))).encode())
    key = h.hexdigest()[:16]
    root = build_dir()
    classes = os.path.join(root, "classes-" + key)
    if os.path.exists(os.path.join(classes, ".done")):
        return classes, 0.0
    t0 = time.time()
    os.makedirs(root, exist_ok=True)
    for old in glob.glob(os.path.join(root, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(root, "sources-" + key + ".txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    open(os.path.join(classes, ".done"), "w").close()
    return classes, time.time() - t0


if __name__ == "__main__":
    print(build()[0])
