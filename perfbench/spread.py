#!/usr/bin/env python3
"""Run the benchmark several times and report each metric's spread.

    python3 perfbench/spread.py --workload NAME [--runs 10] [--seed0 100]

Each run is untraced, lasts BENCHMARK.json's `run_seconds`, and gets its
own seed (seed0, seed0+1, …). For every end-to-end metric it
prints the median of the runs, the distance between the first and third
quartile (`statistics.quantiles(values, n=4)`) as a share of that median,
and the failed share of operations. README.md derives the bounds in
BENCHMARK.json from this output.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def iqr_share(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    results = []
    for i in range(args.runs):
        seed = args.seed0 + i
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", "0"],
                           cwd=os.path.dirname(HERE), stdout=subprocess.PIPE)
        last = r.stdout.decode().strip().splitlines()[-1:] if r.returncode == 0 else []
        if not last:
            print(f"seed {seed}: run failed (exit {r.returncode})", file=sys.stderr)
            continue
        res = json.loads(last[0])
        results.append(res)
        print(f"seed {seed}: " + json.dumps(res), file=sys.stderr, flush=True)
    if len(results) < 2:
        return 1
    shares = {r["failed"] / r["attempted"] for r in results}
    report = {"workload": args.workload, "runs": len(results),
              "correct": all(r["correct"] for r in results),
              "failed_shares": sorted(shares), "metrics": {}}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        report["metrics"][name] = {
            "median": statistics.median(values),
            "iqr_share": iqr_share(values) if statistics.median(values) else None,
            "min": min(values), "max": max(values)}
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
