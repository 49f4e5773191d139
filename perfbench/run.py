#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_fresh --seed 1 --seconds 20 --trace 0

Workloads: ingest_fresh, batch_cold (see perfbench/README.md).
With ``--trace 0`` the result carries the end-to-end metrics listed in
BENCHMARK.json, with ``--trace 1`` the per-layer ones. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
``--tamper`` is the answer-check self-test: it corrupts the answers
before they are checked (every request answer and every slot result; for
ingest_fresh also one lost, one re-sent and one twice-written row), and
each corrupted answer must then count as failed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_fresh", "batch_cold")
# per-layer metrics only one workload produces, by name prefix; the other
# workload never calls that layer, so there the metric reads 0
OWN_LAYERS = {
    "ingest_fresh": ("serving.", "streaming.", "sink."),
    "batch_cold": (
        "slot.", "api_queries.", "operators.", "functions.udtfs.",
        "spark.catalyst_ms", "spark.driver_s",
    ),
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tamper", action="store_true")
    args = ap.parse_args()

    for need in ("ct_clickhouse_spark/__init__.py", "__spark_entry__.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    sys.path.insert(0, HERE)
    import harness

    ctx = SimpleNamespace(
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        tamper=args.tamper,
        t_start=T_START,
        run_dir=harness.prepare_env(),
    )
    result = importlib.import_module(args.workload).run(ctx)
    values = result["e2e"] if not args.trace else result["layer"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in values:
            v = values[name]
        elif args.trace and any(
            name.startswith(OWN_LAYERS[w]) for w in WORKLOADS if w != args.workload
        ):
            v = 0.0
        else:
            raise KeyError(f"{args.workload} did not produce metric {name}")
        metrics[name] = {"value": v, "unit": m["unit"]}

    print(f"# workload={args.workload} seed={args.seed} trace={args.trace}")
    for k, v in sorted(result.get("notes", {}).items()):
        print(f"#   {k} = {v}")
    for name, m in metrics.items():
        print(f"{name:<40} {m['value']:>14.4f} {m['unit']}")
    shown = {**result["e2e"], **result["layer"]}
    for name in sorted(set(shown) - set(metrics)):
        print(f"# {name:<38} {shown[name]:>14.4f} (not in this result)")
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
