#!/usr/bin/env python3
"""Steadiness check: runs one workload once per seed and prints, for each
end-to-end metric, the median and the inter-quartile range as a share of
the median, next to the metric's bound from BENCHMARK.json.

Usage, from the repository root:
  python3 perfbench/spread.py --workload gate_suite --seeds 1-10
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    a = p.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    lo, hi = (int(x) for x in a.seeds.split("-"))
    values = {}
    for seed in range(lo, hi + 1):
        r = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", "0"],
            stdout=subprocess.PIPE, text=True, check=True)
        line = r.stdout.strip().splitlines()[-1]
        res = json.loads(line)
        print(seed, {k: round(v["value"], 4) for k, v in res["metrics"].items()},
              "correct", res["correct"], "failed", res["failed"], "of",
              res["attempted"], flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, xs in values.items():
        s = benchlib.spread(xs) if len(xs) >= 2 else float("nan")
        print(f"{k}: median {benchlib.quantile(xs, 0.5):.4f} spread {s:.4f} "
              f"bound {bounds.get(k)}")


if __name__ == "__main__":
    main()
