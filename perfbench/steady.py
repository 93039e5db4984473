#!/usr/bin/env python3
"""Steadiness check: run each workload with several seeds and print, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median,
the figure each metric's bound in BENCHMARK.json must exceed three times.

    python3 perfbench/steady.py --runs 10 --first-seed 100 [--workload NAME] [--out FILE]

Runs are sequential; each result line is appended to --out as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        results = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"{w} seed {seed} failed with code {p.returncode}")
            res = json.loads(lines[-1])
            results.append(res)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, **res}) + "\n")
        print(f"{w}: {len(results)} runs, failed/attempted "
              f"{sorted({r['failed'] / r['attempted'] for r in results})}")
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print(f"  {m['name']:14s} median {med:10.4f} {m['unit']:4s} spread {(q3 - q1) / med:6.1%}"
                  f"  (bound {m['bound']:.0%})")


if __name__ == "__main__":
    main()
