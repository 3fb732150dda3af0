#!/usr/bin/env python3
"""Self-check of the benchmark at tiny input sizes.

    python3 perfbench/selfcheck.py

Runs every workload (curate too) once untraced and once traced with --tiny. Asserts that
the last line is the result object, that it names exactly the end-to-end
(untraced) or per-layer (traced) metrics of BENCHMARK.json with their
units, that every value is a finite number, and that no operation failed
(error_rate == 0). Then checks that the benchmark exits non-zero, without a
result line, in a directory holding only BENCHMARK.json and perfbench/.
Exits non-zero on the first failed assertion.
"""
import json
import math
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(cwd, workload, trace, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"],
                          cwd=cwd, capture_output=True, text=True, timeout=timeout)


def check_run(spec, workload, trace):
    out = run(ROOT, workload, trace)
    assert out.returncode == 0, f"{workload} trace={trace}: exit {out.returncode}\n{out.stderr[-3000:]}"
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    info = next(json.loads(l)["info"] for l in lines if l.startswith('{"info"'))
    assert info["error_rate"] == 0, f"{workload}: error_rate {info['error_rate']}"
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: names/units differ: " \
        f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, " \
        f"units {[(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]]}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (k, v)
    print(f"ok  {workload:8s} trace={trace}: {len(got)} metrics, "
          f"{res['attempted']} ops, error_rate 0", flush=True)


def check_refuses_without_sources():
    bare = os.path.join(ROOT, ".bench_work", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        out = run(bare, "backup", 0, timeout=180)
        assert out.returncode != 0, "ran without the library sources"
        assert not out.stdout.strip(), f"printed output without sources: {out.stdout[-500:]}"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  refuses to run without the library sources", flush=True)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    # curate is not a gated workload, but its harness is checked all the same
    names = [w["name"] for w in spec["workloads"]]
    for w in names + [n for n in ("backup", "restore", "curate") if n not in names]:
        for trace in (0, 1):
            check_run(spec, w, trace)
    check_refuses_without_sources()


if __name__ == "__main__":
    main()
