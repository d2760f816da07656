#!/usr/bin/env python3
"""Run workloads once each and print their metrics side by side.

    python3 graftbench/report.py [--seed 1] [--trace 0] [workload ...]

Without names it runs every workload of BENCHMARK.json, each for its
run_seconds, through run.py (output checks included).
The table has one row per metric with its unit and one column per
workload; failed_frac and the check outcome close it. Exits non-zero if
any workload failed a check.
"""

import argparse
import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = a.workloads or [w["name"] for w in bench["workloads"]]
    wanted = bench["per_layer" if a.trace else "end_to_end"]
    results, ok = {}, True
    for name in names:
        r = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", name,
                            "--seed", str(a.seed), "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        try:
            results[name] = json.loads(lines[-1])
        except (IndexError, ValueError):
            results[name] = None
        ok = ok and r.returncode == 0
    print("%-40s %-7s" % ("metric", "unit") + "".join("%16s" % n for n in names))
    for m in wanted:
        cells = []
        for n in names:
            res = results[n]
            v = res["metrics"].get(m["name"], {}).get("value") if res else None
            cells.append("%16s" % ("-" if v is None else "%.4g" % v))
        print("%-40s %-7s" % (m["name"], m["unit"]) + "".join(cells))
    fails = ["%16s" % ("-" if not results[n] else
                       "%.4g" % (results[n]["failed"] / max(1, results[n]["attempted"]))) for n in names]
    print("%-40s %-7s" % ("failed_frac", "ratio") + "".join(fails))
    print("%-40s %-7s" % ("checks", "") + "".join(
        "%16s" % ("pass" if results[n] and results[n]["correct"] else "FAIL") for n in names))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
