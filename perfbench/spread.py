#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload ingest --runs 10 [--seconds 15] [--first-seed 1]

Runs the workload `--runs` times, each with another seed, and prints for
every end-to-end metric its median, its quartiles and its spread: the
distance between the first and third quartile as a share of the median
(`statistics.quantiles(values, n=4)`), next to the metric's bound from
BENCHMARK.json when that file is present, and the wall time of a run.
Writes each run's result line to stdout as it finishes, then the summary
as one JSON line.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    bench_path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    bench = {}
    if os.path.exists(bench_path):
        with open(bench_path) as f:
            bench = json.load(f)
    seconds = args.seconds or bench.get("run_seconds", 15)
    bounds = {m["name"]: m["bound"] for m in bench.get("end_to_end", [])}
    values = {}
    walls = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            args.workload, "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", "0"], capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        print(lines[-1], flush=True)
        for k, v in json.loads(lines[-1])["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    summary = {}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        summary[k] = {"median": statistics.median(vs), "q1": q1, "q3": q3,
                      "spread": (q3 - q1) / statistics.median(vs), "bound": bounds.get(k)}
    print(json.dumps({"workload": args.workload, "runs": args.runs, "seconds": seconds,
                      "run_wall_s": {"median": statistics.median(walls), "max": max(walls)},
                      "spreads": summary}))


if __name__ == "__main__":
    main()
