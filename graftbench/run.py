#!/usr/bin/env python3
"""graft layered benchmark: one workload, one seed, one measured run.

    python3 graftbench/run.py --workload table_dml --seed 7 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run compiles the engine
and the driver (see build.py); later runs reuse the classes. The driver is
a JVM program (graftbench/src) that calls graft's public API in-process at
local[N], N = min(nproc - 2, 4), leaving a core to the Spark driver thread
and one to the JIT compiler and GC threads: the operations are small, so
the driver thread sets their pace.
It prints a record of input properties and host
facts, one line per metric, and as the last stdout line the result JSON:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 its
per-layer ones, with the units given there (see graftbench/layers.json for
which layer metric moves which end-to-end metric on which workload). The
exit code is 0 only when every output check passed.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402

WORKLOADS = ("curate_batch", "table_dml", "stream_ingest")
RESULT_MARK = "GRAFTBENCH_RESULT "
HEAP = "2g"
TIME_LIMIT_S = 170
# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def pick_metrics(bench, values, traced):
    """BENCHMARK.json's metrics for this run kind, valued from the driver's
    result. A layer the workload never calls is absent and reads 0; an
    absent end-to-end metric returns None."""
    out = {}
    for m in bench["per_layer" if traced else "end_to_end"]:
        v = values.get(m["name"])
        if v is None:
            if not traced:
                print("graftbench: the run computed no %s" % m["name"], file=sys.stderr)
                return None
            v = 0
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        ap.error("--seconds must be positive")

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except (OSError, ValueError) as e:
        print("graftbench: cannot read BENCHMARK.json: %s" % e, file=sys.stderr)
        return 2
    try:
        classes, jars, digest = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print("graftbench: build failed: %s" % e, file=sys.stderr)
        return 2

    nproc = os.cpu_count() or 1
    cores = max(1, min(nproc - 2, 4))
    work = os.path.join(ROOT, ".bench_build", "run", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC",
            "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
            "-Dgraftbench.commit=" + git_commit(), "-Dgraftbench.sources=" + digest,
            "-Dgraftbench.nproc=%d" % nproc]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", repr(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--workdir", work])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timed_out = []

    def stop():
        timed_out.append(True)
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def on_term(signum, _frame):
        stop()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)

    watchdog = threading.Timer(TIME_LIMIT_S, stop)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith(RESULT_MARK):
                result = json.loads(line[len(RESULT_MARK):])
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out:
        print("graftbench: run exceeded %d s; stopped it" % TIME_LIMIT_S, file=sys.stderr)
        return 1

    if proc.returncode != 0 or result is None:
        print("graftbench: the driver exited with code %s and no result"
              % proc.returncode, file=sys.stderr)
        return 1
    metrics = pick_metrics(bench, result["values"], a.trace == 1)
    if metrics is None:
        return 1
    for name, m in metrics.items():
        print("metric %-40s %s %s" % (name, m["value"], m["unit"]))
    print("metric %-40s %s ratio" % ("failed_frac", result["failed"] / max(1, result["attempted"])))
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if result["correct"] else 3


if __name__ == "__main__":
    sys.exit(main())
