"""Steadiness check: run one workload once per seed and report, for every
metric, the median, the quartiles and the spread (interquartile distance
over the median), as ``statistics.quantiles(values, n=4)`` gives them.

    python3 perfbench/steady.py --workload query_mix --seeds 1-10 --seconds 12 [--trace 1]

Runs are sequential; each is a fresh ``run.py`` process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="12")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    walls, bad = [], 0
    for seed in seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, cwd=os.path.dirname(HERE),
        )
        walls.append(time.perf_counter() - t)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            bad += 1
            continue
        result = json.loads(lines[-1])
        bad += not result["correct"]
        print(f"seed {seed}: {walls[-1]:.1f}s {lines[-2]}", file=sys.stderr)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        if args.trace == "1":  # end-to-end figures of the traced run, for the overhead
            for name, v in json.loads(lines[-2])["end_to_end"].items():
                values.setdefault(f"traced.{name}", []).append(v)

    report = {"workload": args.workload, "runs": len(walls), "not_correct": bad,
              "run_wall_s": {"median": statistics.median(walls), "max": max(walls)},
              "metrics": {}}
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        report["metrics"][name] = {
            "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
        }
    print(json.dumps(report, indent=1))
    return 0 if bad == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
