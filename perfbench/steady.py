#!/usr/bin/env python3
"""Steadiness tool: run one workload repeatedly, one seed per run, and
print each metric's median, quartiles and spread.

  python3 perfbench/steady.py --workload etl_relational --runs 10 [--sets 2]
                              [--first-seed 1] [--trace 0]

The spread is (Q3 - Q1) / median with quartiles from
statistics.quantiles(values, n=4); it is what the bounds in
BENCHMARK.json are set against. With --sets N the runs are repeated in
N sets on fresh seeds, and each later set's median is compared with the
first set's: the change, as a share of the first median, in the
direction that is worse for the metric. Every run's result line is
appended to perfbench/.work/steady-<workload>.jsonl so the figures can
be re-read.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_set(bench, args, seeds, log):
    values = {}
    for seed in seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.stderr.write(r.stderr[-2000:])
            sys.exit(f"seed {seed}: exit {r.returncode}")
        result = json.loads(lines[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, **result}) + "\n")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    return values


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    log = os.path.join(HERE, ".work", f"steady-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    first = None
    for k in range(args.sets):
        seed0 = args.first_seed + k * args.runs
        values = run_set(bench, args, range(seed0, seed0 + args.runs), log)
        print(f"\nset {k + 1}, seeds {seed0}..{seed0 + args.runs - 1}")
        print(f"{'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} "
              f"{'bound':>6s} {'vs set 1':>9s}")
        medians = {}
        for name, vs in values.items():
            med = medians[name] = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
            spread = (q3 - q1) / med if med else float("nan")
            b = metrics.get(name, {}).get("bound")
            flag = "" if b is None else ("  ok" if spread < b / 3 else "  WIDE")
            worse = ""
            if first and name in first:
                sign = -1 if metrics.get(name, {}).get("better") == "higher" else 1
                worse = f"{sign * (med - first[name]) / first[name]:+9.3f}"
            print(f"{name:28s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} "
                  f"{'' if b is None else b:>6} {worse:>9s}{flag}")
        first = first or medians


if __name__ == "__main__":
    main()
