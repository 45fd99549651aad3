#!/usr/bin/env python3
"""Run-to-run stability of the benchmark: run one workload once per seed
and print, for each metric, its median and its spread (interquartile
distance ÷ median) against the bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload daily_mart --seeds 1,2,3,4,5,6,7,8,9,10

A bound holds when the spread is within it; the benchmark counts as steady
when every spread except setup_s's is below a third of its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in a.seeds.split(","):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", seed, "--seconds",
             str(bench["run_seconds"]), "--trace", str(a.trace)],
            capture_output=True, text=True, cwd=ROOT)
        r = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: exit {p.returncode} correct={r['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        s = stats.spread(xs) if len(xs) > 1 and statistics.median(xs) else 0.0
        b = bounds.get(k)
        print(f"{k:<26} median={statistics.median(xs):.4f} spread={s:.4f}"
              + (f" bound={b} {'ok' if s <= b else 'OVER'}" if b else ""))


if __name__ == "__main__":
    main()
