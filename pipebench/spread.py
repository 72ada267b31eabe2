#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the acceptance rule
measures it: for each workload, N runs with different seeds; for each
metric the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median, next to
the metric's bound from BENCHMARK.json.

    python3 pipebench/spread.py [--runs 10] [--first-seed 100] [--workload NAME]...

Run from the repository root. Prints one table per workload and, last,
a JSON line with every value measured.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    everything = {}
    for w in workloads:
        values = {m: [] for m in bounds}
        walls, reports = [], []
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.time()
            out = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            walls.append(time.time() - t0)
            if out.returncode != 0:
                sys.exit("%s seed %d failed with exit code %d" % (w, seed, out.returncode))
            lines = out.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            reports.append(json.loads(lines[-2])["report"])
            if not result["correct"]:
                sys.exit("%s seed %d: outputs incorrect" % (w, seed))
            for m in bounds:
                values[m].append(result["metrics"][m]["value"])
        print("%s: %d runs, wall median %.1f s, max %.1f s"
              % (w, a.runs, statistics.median(walls), max(walls)))
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            print("  %-22s median %12.4f  spread %.3f  bound %.2f  %s"
                  % (m, med, spread, bounds[m],
                     "ok" if spread < bounds[m] / 3 else "WIDE" if spread >= bounds[m] else "within bound"))
        everything[w] = {"values": values, "walls": walls, "reports": reports}
    print(json.dumps(everything))


if __name__ == "__main__":
    main()
