#!/usr/bin/env python
"""Serving-latency artifact (round-10 item 6): the concurrent serving
test (tests/test_serving_concurrent.py) asserts a p95 bound but never
records the numbers. This measures per-endpoint p50/p95 latency in two
modes and emits one JSON artifact:

  solo   — one client, sequential requests (warm: first hit per
           endpoint primes plan/broadcast caches and is excluded)
  loaded — N_THREADS clients issuing mixed endpoints concurrently
           against the SAME app/SparkSession under the serving layer's
           per-request FAIR pools (serving/app.py:108-130)

Uses the flask test client (in-process, no socket stack) — the same
harness the gate test uses, so the numbers isolate the Spark/serving
cost from network noise. Responses under load are asserted byte-equal
to their solo twins (the no-interference gate) before timing is
reported.

Usage: python scripts/bench_serving.py [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SERVE_SF", "/root/testdata/sf0.01")
N_THREADS = 8
SOLO_ROUNDS = 20
LOADED_ROUNDS_PER_THREAD = 24
# the 6 GET query endpoints (the reference's read surface, api/app.py);
# /stream is SSE (long-lived — latency means something different) and /
# is static HTML, so both stay out of the latency table
PATHS = [
    "/domain/cust1.net",
    "/subdomains/cust1.net",
    "/recent/cust1.net",
    "/tld/rs?limit=5",
    "/stats?date=1995-06-15",
    "/size",
    # the ANN tier's serving face: the SQ8 top-k (the index is built
    # on the warmup hit, so timed requests measure one TakeOrdered job
    # plus the driver re-rank like any other endpoint)
    "/similar/3?k=10",
]


def _pcts(xs: list[float]) -> dict:
    xs = sorted(xs)
    q = statistics.quantiles(xs, n=20)
    return {
        "n": len(xs),
        "p50_ms": round(statistics.median(xs) * 1000, 2),
        "p95_ms": round(q[-1] * 1000, 2),
        "max_ms": round(xs[-1] * 1000, 2),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from ct_clickhouse_spark.cert_domains import write_cert_domains
    from ct_clickhouse_spark.serving.app import create_app
    from ct_clickhouse_spark.session import get_spark

    spark = get_spark(app_name="bench-serving", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="ctspark_serve_bench_")
    table = os.path.join(work, "cert_domains")
    write_cert_domains(spark, SF_DIR, table)
    app = create_app(spark, table, embeddings_sf_dir=SF_DIR)
    app.config["TESTING"] = True

    # --- solo baseline ---
    solo = app.test_client()
    baseline_body: dict[str, bytes] = {}
    solo_t: dict[str, list[float]] = {p: [] for p in PATHS}
    for p in PATHS:
        r = solo.get(p)  # warm: plan compile + broadcast, excluded
        assert r.status_code == 200, (p, r.status_code)
        baseline_body[p] = r.data
    for _ in range(SOLO_ROUNDS):
        for p in PATHS:
            t0 = time.time()
            r = solo.get(p)
            solo_t[p].append(time.time() - t0)
            assert r.status_code == 200

    # --- loaded: N_THREADS mixed clients, one shared app ---
    def worker(tid: int):
        client = app.test_client()
        out = []
        for i in range(LOADED_ROUNDS_PER_THREAD):
            p = PATHS[(tid + i) % len(PATHS)]
            t0 = time.time()
            r = client.get(p)
            dt = time.time() - t0
            assert r.status_code == 200
            assert r.data == baseline_body[p], f"{p} diverged under load"
            out.append((p, dt))
        return out

    t0 = time.time()
    with ThreadPoolExecutor(max_workers=N_THREADS) as pool:
        results = [
            item
            for f in [pool.submit(worker, t) for t in range(N_THREADS)]
            for item in f.result()
        ]
    loaded_wall = time.time() - t0
    loaded_t: dict[str, list[float]] = {p: [] for p in PATHS}
    for p, dt in results:
        loaded_t[p].append(dt)

    per_endpoint = {}
    for p in PATHS:
        s, ld = _pcts(solo_t[p]), _pcts(loaded_t[p])
        per_endpoint[p] = {
            "solo": s,
            "loaded": ld,
            "p95_slowdown_x": round(ld["p95_ms"] / max(s["p95_ms"], 1e-3), 2),
        }
    out = {
        "metric": "serving_latency",
        "sf_dir": SF_DIR,
        "threads": N_THREADS,
        "requests_loaded": len(results),
        "loaded_wall_sec": round(loaded_wall, 2),
        "loaded_req_per_sec": round(len(results) / loaded_wall, 1),
        "no_interference": True,  # byte-equality asserted per request
        "endpoints": per_endpoint,
    }
    print(json.dumps(out))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
