#!/usr/bin/env python3
"""Run a workload once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload serve_mixed --seeds 1-10

Each run is untraced and lasts BENCHMARK.json's ``run_seconds``. For
every end-to-end metric it prints the median of the runs and the
distance between the first and third quartile
(``statistics.quantiles(n=4)``) as a share of that median -- the spread
a metric's ``bound`` in BENCHMARK.json is checked against.
"""

import argparse
import json
import statistics
import subprocess
import sys
import os

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open(SPEC) as fh:
        seconds = str(json.load(fh)["run_seconds"])
    results = []
    for seed in seeds(a.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            continue
        line = json.loads(proc.stdout.strip().splitlines()[-1])
        diag = proc.stderr.strip().splitlines()[-1] if proc.stderr.strip() else ""
        results.append(line)
        vals = {k: round(v["value"], 3) for k, v in line["metrics"].items()}
        print(f"seed {seed}: correct={line['correct']} failed={line['failed']} {vals}")
        print(f"  {diag}", flush=True)
    if len(results) >= 2:
        for name in results[0]["metrics"]:
            med, sp = spread([r["metrics"][name]["value"] for r in results])
            print(f"{name:40s} median {med:12.4f}  spread {sp:.3f}")


if __name__ == "__main__":
    main()
