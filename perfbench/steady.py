#!/usr/bin/env python3
"""Steadiness check: repeats one workload with different seeds and prints,
for every metric, the median, the quartiles and the spread (the distance
between the quartiles as a share of the median), plus the share of failed
operations.

    python3 perfbench/steady.py --workload serve --runs 10 [--first-seed 1]

Run it from the repository root. Quartiles are Python's
statistics.quantiles(values, n=4). Each run's result line is appended to
perfbench/out/steady-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    log = os.path.join(HERE, "out", f"steady-{args.workload}.jsonl")
    values, attempted, failed = {}, 0, 0
    for seed in range(args.first_seed, args.first_seed + args.runs):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                              "--workload", args.workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                             stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: run failed with exit code {out.returncode}")
        res = json.loads(lines[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, **res}) + "\n")
        attempted += res["attempted"]
        failed += res["failed"]
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}", file=sys.stderr)
    print(f"{args.workload}: {args.runs} runs, failed {failed}/{attempted}")
    print(f"{'metric':36} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for k in sorted(values):
        xs = values[k]
        q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(k)
        print(f"{k:36} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} "
              f"{'' if bound is None else bound:>6}")


if __name__ == "__main__":
    main()
