#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(`src/main/scala` at the repo root) together with the benchmark harness
(`perfbench/src`) into `perfbench/.build/classes` with the Scala compiler
that ships among the Spark jars. A stamp of the sources' hashes skips the
build when nothing changed.

Usage: python3 perfbench/build.py      (from the repo root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


class BuildError(Exception):
    pass


def spark_jars_dir():
    """$SPARK_HOME/jars, else the `unmanagedBase` the repo's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def classpath():
    d = spark_jars_dir()
    return [os.path.join(d, j) for j in sorted(os.listdir(d)) if j.endswith(".jar")]


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for r in roots:
        if not os.path.isdir(r):
            raise BuildError(f"missing source directory {os.path.relpath(r, ROOT)}")
        for dp, _, fs in os.walk(r):
            out += [os.path.join(dp, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp_of(srcs):
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if the sources changed; returns the runtime classpath."""
    srcs = sources()
    cp = classpath()
    stamp = stamp_of(srcs)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return [CLASSES] + cp
    if not any(os.path.basename(j).startswith("scala-compiler") for j in cp):
        raise BuildError("scala-compiler jar not found among the Spark jars")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(cp), "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", tmp, "-classpath", ":".join(cp)] + srcs
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        log.write(p.stdout[-8000:])
        raise BuildError(f"compile failed (exit {p.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)
    log.write(f"[perfbench] compiled {len(srcs)} sources in {time.time() - t0:.1f}s\n")
    return [CLASSES] + cp


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.stderr.write(f"[perfbench] build error: {e}\n")
        sys.exit(2)
