#!/usr/bin/env python3
"""Run the benchmark several times and summarise how steady it is.

    python3 yamrbench/steadiness.py --workload floor --seeds 1-10 \\
        --seconds 14 --out yamrbench/records/steadiness_floor.json

Each run gets its own seed, one after another (never concurrently).
For every end-to-end metric it prints the median, the quartiles and the
quartile spread ``(q3 - q1) / median`` of ``statistics.quantiles(values,
n=4)``, and writes those with every run's full output to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    runs = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload]
        cmd += ["--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
        t0 = time.time()
        proc = subprocess.run(
            cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600
        )
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        run_line = json.loads(lines[-2].split(" ", 1)[1])
        result = json.loads(lines[-1])
        runs.append({"seed": seed, "wall_s": round(wall, 1), "run": run_line, "result": result})
        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: {wall:.1f}s correct={result['correct']} {vals}", flush=True)
    summary = {}
    for name in runs[0]["result"]["metrics"] if len(runs) > 1 else ():
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        q1, _, q3 = statistics.quantiles(values, n=4)
        summary[name] = {
            "median": statistics.median(values),
            "q1": q1,
            "q3": q3,
            "spread": quartile_spread(values),
        }
        print(f"{name}: median {summary[name]['median']:.4f} spread {summary[name]['spread']}")
    if args.out:
        record = {
            "workload": args.workload,
            "seconds": args.seconds,
            "summary": summary,
            "runs": runs,
        }
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
