#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread against its bound.

Run from the repository root:

    python3 perfbench/spread.py --workload files_dedup --seeds 1-10

The spread is (Q3 - Q1) / median over the runs, with quartiles from
``statistics.quantiles(values, n=4)``. A metric is steady when its
spread is under a third of its bound in ``BENCHMARK.json``. ``--out``
appends every run's result line to a JSONL file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="append each run's result line here")
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = [
            sys.executable,
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
            "--workload", args.workload,
            "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]),
            "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        took = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, **result}) + "\n")
        print(seed, f"{took:.1f}s", result["correct"], result["attempted"], result["failed"],
              {k: round(v["value"], 4) for k, v in result["metrics"].items()}, flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    if args.trace:
        return 0
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        ok = spread < bounds[k] / 3
        print(f"{k:18s} median {med:12.4f}  spread {spread:.4f}  bound {bounds[k]}"
              f"  {'ok' if ok else 'WIDE'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
