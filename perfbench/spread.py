#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed on each workload and prints, per
(workload, metric), the median and the inter-quartile range as a share of
the median (statistics.quantiles(values, n=4)), next to a third of the
metric's bound from BENCHMARK.json.

Usage (from the repository root):
  python3 perfbench/spread.py [--seeds 10] [--first-seed 101] [workload ...]
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = a.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    worst = 0.0
    for w in names:
        vals = {m: [] for m in bounds}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            out = subprocess.run(
                [*bench["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            if out.returncode != 0:
                sys.exit(f"{w} seed {seed}: failed run\n{out.stderr[-2000:]}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            for m in bounds:
                vals[m].append(res["metrics"][m]["value"])
            print(json.dumps({"workload": w, "seed": seed,
                              "metrics": {m: round(v[-1], 4) for m, v in vals.items()}}),
                  flush=True)
        for m, v in vals.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / statistics.median(v)
            if m != "setup_s":
                worst = max(worst, spread / bounds[m])
            print(f"{w:20s} {m:18s} median {statistics.median(v):9.4f} "
                  f"spread {spread:6.3f}  bound/3 {bounds[m] / 3:6.3f}", flush=True)
    print(f"worst spread / bound: {worst:.3f}")


if __name__ == "__main__":
    main()
