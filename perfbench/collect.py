#!/usr/bin/env python3
"""Run one workload over several seeds and summarize each metric.

    python3 perfbench/collect.py --workload batch_cold --seeds 1-10 \\
        [--trace 1] [--tamper] [--out perfbench/baseline/batch_cold.json]

Each run is a separate process, exactly as BENCHMARK.json's command runs
it. The summary gives, per metric, the median, the quartiles and the
spread: the distance between the quartiles as a share of the median
(``statistics.quantiles(values, n=4)``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(runs: list[dict]) -> dict:
    out = {}
    names = runs[0]["result"]["metrics"].keys() if runs else []
    for name in names:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {
            "unit": runs[0]["result"]["metrics"][name]["unit"],
            "median": med,
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / med if med else None,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tamper", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    runs = []
    for seed in seeds(args.seeds):
        cmd = spec["command"] + [
            "--workload", args.workload,
            "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]),
            "--trace", str(args.trace),
        ] + (["--tamper"] if args.tamper else [])
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        runs.append(
            {
                "seed": seed,
                "wall_s": round(wall, 2),
                "notes": [ln for ln in lines[:-1] if ln.startswith("#")],
                "result": json.loads(lines[-1]),
            }
        )
        r = runs[-1]["result"]
        print(f"seed {seed}: {wall:.1f} s, correct={r['correct']} failed={r['failed']}/{r['attempted']}")

    summary = {
        "workload": args.workload,
        "trace": args.trace,
        "tamper": args.tamper,
        "run_seconds": spec["run_seconds"],
        "host": f"{os.cpu_count()} cores, {platform.machine()}, Python {platform.python_version()}",
        "taken": time.strftime("%Y-%m-%d %H:%M UTC", time.gmtime()),
        "all_correct": all(r["result"]["correct"] for r in runs),
        "metrics": summarize(runs),
        "runs": runs,
    }
    for name, m in summary["metrics"].items():
        spread = "n/a" if m["spread"] is None else f"{m['spread']:.3f}"
        print(f"{name:<40} median {m['median']:>12.4f} {m['unit']:<6} spread {spread}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
