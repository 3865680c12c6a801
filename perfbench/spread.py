#!/usr/bin/env python3
"""Runs perfbench/run.py once per seed and prints, per end-to-end metric,
the median, the quartiles and the spread (interquartile distance as a share
of the median) next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload live --seeds 1 2 3 4 5 [--seconds 8]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=int, nargs="+")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds or bench["run_seconds"]
    values = {}
    for seed in a.seeds:
        t0 = time.monotonic()
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                              "--workload", a.workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", "0"],
                             cwd=ROOT, stdout=subprocess.PIPE, text=True)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not last.startswith("{"):
            sys.exit(f"seed {seed}: run failed ({out.returncode})")
        r = json.loads(last)
        print(f"seed {seed}: {time.monotonic() - t0:.0f}s correct={r['correct']} "
              f"failed={r['failed']}/{r['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:22s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
              f"spread={(q3 - q1) / med:.3f} bound={bounds.get(k)}")


if __name__ == "__main__":
    main()
