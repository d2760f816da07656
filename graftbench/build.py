#!/usr/bin/env python3
"""Build file of the graft benchmark driver.

Compiles the engine's main sources (`src/main/scala`) together with the
driver's own sources (`graftbench/src`) into one class directory with the
Scala compiler that ships in Spark's jar directory, so the benchmark needs
neither sbt nor network access. The output lands under `.bench_build/`
at the checkout root, keyed by a hash of every compiled input, so a
repeated run reuses the classes and a changed source rebuilds.

Usage:  python3 graftbench/build.py      (prints the class directory)
"""

import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
BUILD_ROOT = os.path.join(ROOT, ".bench_build", "graftbench")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        candidates.append(os.path.join(home, "jars"))
    for c in candidates:
        if os.path.isdir(c) and any(n.startswith("spark-sql_") for n in os.listdir(c)):
            return c
    raise BuildError("no Spark jar directory found (set SPARK_HOME)")


def _files(root, suffix=None):
    out = []
    for d, _, names in os.walk(root):
        for n in names:
            if suffix is None or n.endswith(suffix):
                out.append(os.path.join(d, n))
    return sorted(out)


def sources():
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "api.scala")):
        raise BuildError("engine sources not found at src/main/scala "
                         "(run from the root of a graft checkout)")
    engine = _files(ENGINE_SRC, ".scala")
    bench = _files(BENCH_SRC, ".scala")
    if not bench:
        raise BuildError("benchmark sources not found under graftbench/src")
    return engine + bench


def source_hash(srcs, jars):
    h = hashlib.sha256()
    for p in srcs + (_files(ENGINE_RES) if os.path.isdir(ENGINE_RES) else []):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Return (class_dir, spark_jar_dir, source_hash), compiling if needed."""
    jars = spark_jars()
    srcs = sources()
    digest = source_hash(srcs, jars)
    out = os.path.join(BUILD_ROOT, digest)
    classes = os.path.join(out, "classes")
    if os.path.isfile(os.path.join(out, "OK")):
        return classes, jars, digest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    print("graftbench: compiling %d sources into %s" % (len(srcs), out), file=log)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise BuildError("scalac failed with exit code %d" % r.returncode)
    if os.path.isdir(ENGINE_RES):
        shutil.copytree(ENGINE_RES, classes, dirs_exist_ok=True)
    with open(os.path.join(out, "OK"), "w") as f:
        f.write(digest + "\n")
    return classes, jars, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except (BuildError, subprocess.TimeoutExpired) as e:
        print("graftbench build: %s" % e, file=sys.stderr)
        sys.exit(2)
