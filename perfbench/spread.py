#!/usr/bin/env python3
"""Run the benchmark several times and report each metric's spread.

    python3 perfbench/spread.py --workload etl_cycle --seconds 17 --seeds 1 2 3 4 5
    python3 perfbench/spread.py --workload etl_cycle --seconds 17 --seeds 7 7 --trace 1

Prints, per metric, the median, the quartile spread as a share of the
median (statistics.quantiles, n=4) and every value. With a repeated seed
it also marks the metrics that read exactly the same on every run — the
deterministic counters worth comparing across commits.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    runs = []
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, RUN, "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, check=True).stdout.splitlines()
        res = json.loads(out[-1])
        print("seed %d: correct=%s attempted=%d failed=%d  %s" % (
            seed, res["correct"], res["attempted"], res["failed"], out[0]), flush=True)
        runs.append(res["metrics"])
    for name in runs[0]:
        vals = [r[name]["value"] for r in runs]
        med = statistics.median(vals)
        spread = float("nan")
        if len(vals) >= 2 and med:
            q = statistics.quantiles(vals, n=4)
            spread = (q[2] - q[0]) / med
        exact = " exact" if len(set(vals)) == 1 and len(vals) > 1 else ""
        print("%-58s median %-12.6g spread %6.3f%s  %s" % (
            name, med, spread, exact, " ".join("%.4g" % v for v in vals)))


if __name__ == "__main__":
    main()
