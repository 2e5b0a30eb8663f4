#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end
metric's median and quartile spread (Q3 - Q1 over the median), the
figure the bounds in BENCHMARK.json are checked against.

    python3 perfbench/spread.py --workload scan-mixed --seeds 1-10

Run from the root of a checkout.  Prints one line per run and a summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    bad = 0
    for seed in seeds_of(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"], capture_output=True, text=True, cwd=ROOT,
            timeout=900)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-1500:]}")
            bad += 1
            continue
        res = json.loads(out.stdout.strip().splitlines()[-1])
        bad += not res["correct"]
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.5g}" for k, v in res["metrics"].items()),
            flush=True)
    for m in bench["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        flag = "ok" if spread <= m["bound"] / 3 else (
            "WITHIN BOUND" if spread <= m["bound"] else "OVER BOUND")
        print(f"{m['name']:<14} median={med:.5g} spread={spread:.4f} "
              f"bound={m['bound']} {flag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
