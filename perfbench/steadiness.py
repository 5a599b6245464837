#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workload <name> --seeds 1-10 [--trace 0|1]

For every metric: the median of the runs and the distance between the
first and third quartile (statistics.quantiles(values, n=4)) as a share of
the median, next to the metric's bound from BENCHMARK.json. With --trace 1
it instead reports which per-layer counts repeat exactly across the runs.
Runs one seed after another from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}

    results = []
    for s in seeds(a.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(s), "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            print("seed %d: run failed (exit %d)" % (s, r.returncode))
            continue
        res = json.loads(last)
        print("seed %d: correct=%s attempted=%d failed=%d" % (
            s, res["correct"], res["attempted"], res["failed"]), flush=True)
        results.append(res)
    if len(results) < 2:
        sys.exit("fewer than two successful runs")

    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        unit = results[0]["metrics"][name]["unit"]
        if a.trace:
            print("%-36s %-10s %s" % (name, unit,
                  "repeats" if len(set(vals)) == 1 else "varies: %s" % vals))
            continue
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print("%-14s %-7s median %-12.6g spread %.3f bound %s" % (
            name, unit, med, spread, bounds.get(name)))


if __name__ == "__main__":
    main()
