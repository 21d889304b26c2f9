#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload build_model --seeds 1-10

For every metric: the median over the runs and the distance between the
first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of that median, next to the metric's bound from BENCHMARK.json.
Runs are sequential (one Spark session at a time). Each run's result line
is appended to ``--out`` (default ``perfbench/_work/spread.jsonl``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,9")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", default=f"{ROOT}/perfbench/_work/spread.jsonl")
    args = p.parse_args(argv)

    with open(f"{ROOT}/BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)

    values: dict[str, list[float]] = {}
    walls = []
    for seed in _seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
               "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=900)
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        with open(args.out, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed,
                                "wall_s": walls[-1], **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              f"wall={walls[-1]:.1f}s", flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])

    print(f"\n{args.workload}: {len(walls)} runs, wall median "
          f"{statistics.median(walls):.1f}s max {max(walls):.1f}s")
    print(f"{'metric':34s} {'median':>12s} {'iqr/median':>11s} {'bound':>6s}")
    for k, xs in values.items():
        med = statistics.median(xs)
        if len(xs) >= 2:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
        else:
            spread = float("nan")
        b = bounds.get(k)
        print(f"{k:34s} {med:12.6g} {spread:11.4f} "
              f"{'' if b is None else b:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
