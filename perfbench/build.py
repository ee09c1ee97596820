#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` of the checkout) together with the
benchmark harness (`perfbench/src`) into `.bench_build/classes` with the
Scala compiler that ships in the Spark distribution's jar directory, so a
build needs neither sbt nor a network. A stamp of the source digests
makes repeated runs in one checkout skip the compile.

Usage: python3 perfbench/build.py        (from the checkout root)
"""
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
SCALA = "2.13.17"


def spark_jars() -> str:
    """The Spark jar directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the engine's own build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")


def sources() -> list:
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"build: engine sources missing at {engine}")
    out = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath() -> str:
    # the engine's resources register its data sources (format("root"))
    resources = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([CLASSES, resources, os.path.join(spark_jars(), "*")])


def build() -> str:
    """Compile if the sources changed since the last build; return the
    runtime classpath."""
    files = sources()
    jars = spark_jars()
    stamp = digest(files)
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return classpath()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                               for m in ("compiler", "library", "reflect"))
    os.makedirs(CLASSES, exist_ok=True)
    for d, _, fs in os.walk(CLASSES, topdown=False):
        for f in fs:
            os.remove(os.path.join(d, f))
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-cp", os.path.join(jars, "*"),
           "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return classpath()


if __name__ == "__main__":
    print(build())
