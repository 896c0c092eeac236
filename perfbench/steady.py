#!/usr/bin/env python3
"""Steadiness check: run each workload once per seed and report, per
end-to-end metric, the median, the interquartile range as a share of
the median (statistics.quantiles, n=4) and the bound that spread
supports (three times the spread, at most 0.25).

    python3 perfbench/steady.py [--workloads explore,curate] [--seeds 10]
        [--seconds 20] [--first-seed 1]

Run from the root of a graft checkout. A bound in BENCHMARK.json should
be at least the suggested one; a metric whose suggested bound exceeds
0.25 is too noisy to gate on and needs more work per run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MAX_BOUND = 0.25


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workloads.split(","):
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            res = run(w, seed, a.seconds)
            print(f"{w} seed={seed} correct={res['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            med, s = spread(vs)
            print(f"{w} {k}: median={med:.4g} iqr/median={s:.3f} "
                  f"suggested_bound={min(3 * s, MAX_BOUND):.3f} "
                  f"(declared {bounds.get(k)})", flush=True)


if __name__ == "__main__":
    main()
