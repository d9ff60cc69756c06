#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library's main sources, the loopback websocket server from its
test sources and the benchmark's own sources (`perfbench/src`) with the
Scala compiler that ships among the Spark jars the root build.sbt uses,
into `perfbench/.build/classes`. A build is skipped when the sources are
unchanged since the last one.

Usage (from the repository root): python3 perfbench/build.py
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
# the one test-scope class the benchmark drives (the RFC 6455 loopback server)
TEST_SOURCES = ["src/test/scala/graft/LoopbackWsServer.scala"]


def spark_jars_dir():
    """The Spark jars the root build compiles against (its unmanagedBase)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("perfbench: build.sbt names no unmanagedBase for the Spark jars")
    return m.group(1)


def jars():
    d = spark_jars_dir()
    found = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not found:
        sys.exit(f"perfbench: no Spark jars under {d}")
    return found


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        sys.exit("perfbench: src/main/scala holds no sources; run from the repository root")
    test = [os.path.join(ROOT, p) for p in TEST_SOURCES]
    for p in test:
        if not os.path.isfile(p):
            sys.exit(f"perfbench: missing {p}")
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main + test + own


def classpath():
    """Runtime classpath: compiled classes, main resources, Spark jars."""
    return os.pathsep.join([CLASSES, os.path.join(ROOT, "src/main/resources")] + jars())


def build():
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(OUT, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        cp = os.pathsep.join(jars())
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-classpath", cp, "-d", CLASSES, "-nowarn"] + srcs
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            sys.exit(f"perfbench: compile failed ({r.returncode})")
        with open(stamp_file, "w") as f:
            f.write(stamp)


if __name__ == "__main__":
    build()
