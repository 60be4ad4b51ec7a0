#!/usr/bin/env python3
"""Build file of the perfbench package.

Compiles the product sources (src/main/scala) together with the
benchmark harness (perfbench/harness) in one scalac run, with the
Scala compiler and the Spark jars the image ships, into
.bench_build/classes under the checkout. No sbt is involved, so the
measured JVM starts straight on this classpath.

A stamp of the source digest skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    srcs += sorted(glob.glob("perfbench/harness/**/*.scala", recursive=True))
    return srcs


def digest(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if the sources changed since the last build; return the
    run classpath. Raises RuntimeError when there is nothing to build or
    the compile fails."""
    srcs = sources()
    if not any(p.startswith("src/") for p in srcs):
        raise RuntimeError("no product sources under src/main/scala")
    stamp = os.path.join(BUILD, "classes.stamp")
    want = digest(srcs)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return classpath()
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise RuntimeError(f"scalac exited {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(want)
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        sys.exit(f"build failed: {e}")
