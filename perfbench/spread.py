#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload backup [--seeds 1,2,3,4,5]

Runs the benchmark once per seed, untraced and for BENCHMARK.json's
run_seconds (the run length the bounds are gated at). Prints, per metric,
the median and the interquartile range as a share of the median, computed
with statistics.quantiles(values, n=4), next to the metric's bound from
BENCHMARK.json, and each run's wall time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1,2,3,4,5")
    a = p.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values, walls = {}, []
    for seed in a.seeds.split(","):
        t0 = time.time()
        out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                              a.workload, "--seed", seed, "--seconds", str(spec["run_seconds"]),
                              "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            sys.exit(f"seed {seed}: incorrect result {res}")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {walls[-1]:.1f}s " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:18s} median={statistics.median(vs):.4g} spread={(q3 - q1) / med:.3f} "
              f"bound={bounds.get(k)}")
    print(f"wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")


if __name__ == "__main__":
    main()
