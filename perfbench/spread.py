#!/usr/bin/env python3
"""Run-to-run spread of one workload.

    python3 perfbench/spread.py --workload W [--runs 10] [--first-seed 1]
                                [--seconds S] [--trace 0|1]

Runs perfbench/run.py k times with seeds first-seed .. first-seed+k-1 and
prints, for each metric, its median, quartiles and the quartile spread
as a share of the median, next to the metric's bound in BENCHMARK.json,
plus the failed/attempted share of every run. The bounds in
BENCHMARK.json were set from this output.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values, shares = {}, set()
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited with {p.returncode}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        if not r["correct"]:
            sys.exit(f"seed {seed}: outputs incorrect: {p.stdout.splitlines()[-2]}")
        shares.add((r["failed"], r["attempted"]))
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: wall {time.monotonic() - t0:.1f}s " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    print(f"failed/attempted: {sorted(shares)}")
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
        else:
            q1 = q3 = vs[0]
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        note = "" if b is None else f"  bound {b}  {'ok' if spread < b / 3 else 'WIDE'}"
        print(f"{k:40s} median {med:.5g}  q1 {q1:.5g}  q3 {q3:.5g}  spread {spread:.4f}{note}")


if __name__ == "__main__":
    main()
