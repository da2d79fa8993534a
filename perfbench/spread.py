#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

Usage (from the root of a checkout)::

    python3 perfbench/spread.py --workload era5_rechunk --seeds 1-10 --seconds 16

For each metric of the JSON line it prints the median over the runs and
the interquartile range as a share of the median
(``statistics.quantiles(values, n=4)``), the figure a metric's bound in
``BENCHMARK.json`` must exceed. Runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from benchstats import median, spread

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="a-b or a,b,c")
    ap.add_argument("--seconds", default="16")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, RUN, "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, check=True,
        ).stdout
        doc = json.loads(out.strip().splitlines()[-1])
        if not doc["correct"]:
            print(f"seed {seed}: {doc['failed']} of {doc['attempted']} failed", file=sys.stderr)
            return 1
        for name, m in doc["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in doc["metrics"].items()), flush=True)
    print(f"{'metric':34s} {'median':>12s} {'spread':>8s}")
    for name, vs in values.items():
        sp = spread(vs) if len(vs) >= 2 else float("nan")
        print(f"{name:34s} {median(vs):12.4f} {sp:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
