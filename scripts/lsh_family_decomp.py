#!/usr/bin/env python
"""Per-FAMILY cost decomposition of the dedup_lsh_pairs slot (r14
verdict "What's wrong #2": sf30 wall grew 14.1x for 3x data with no
recorded cause).

The slot is a union of seven candidate-pair families (dedup.py
lsh_pairs_all): minhash, hyperplane, semdedup, ivf_inc, phash,
phash_group, afp. The r14 minhash-only decomposition
(BENCH_lsh_decomp_r14.json) showed the minhash kernel contributes
~5.8k of sf10's 4.51M output pairs — the embedding-side families
dominate both rows and cost, so attributing the sf30 bend needs a
per-family wall split, fresh-session (the in-certification 2,020.5 s
includes ~40 earlier slots' session junk, measured 14-15x inflation
by the r14 cold_slot_probe).

Two modes, each meant to run in its OWN process so artifact caches
start cold exactly as the certification slot does:
  --mode full      one cold fn(spark, sf_dir).toPandas() of the whole
                   slot — the kernel-shaped equivalent of the
                   certification spark_sec.
  --mode families  family-by-family .count() in production order
                   (lsh_pairs_all's order), so shared artifact
                   construction (k-means training, signature
                   aggregates, decoded-pixel fingerprints) lands on
                   the first family that needs it, as in production.

Usage:
  python scripts/lsh_family_decomp.py --sf-dir .benchdata/sf30 --mode full
  python scripts/lsh_family_decomp.py --sf-dir .benchdata/sf30 --mode families
Each appends one JSON line to --out (default
BENCH_lsh_family_decomp_r15.jsonl); merge/publish by hand.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")


def run_full(spark, sf_dir: str) -> dict:
    from ct_clickhouse_spark.operators.dedup import lsh_pairs_all

    t0 = time.time()
    pdf = lsh_pairs_all(spark, sf_dir).toPandas()
    sec = round(time.time() - t0, 2)
    fam_counts = pdf["family"].value_counts().to_dict()
    return {
        "mode": "full",
        "sf_dir": sf_dir,
        "total_cold_toPandas_sec": sec,
        "n_rows": int(len(pdf)),
        "family_rows": {k: int(v) for k, v in fam_counts.items()},
    }


def run_families(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from ct_clickhouse_spark.catalog import load_table
    from ct_clickhouse_spark.operators.dedup import (
        INCREMENTAL_MOD,
        doc_minhash_lsh_pairs,
    )
    from ct_clickhouse_spark.operators.multimodal import (
        perceptual_near_dups,
    )
    from ct_clickhouse_spark.operators.similarity import (
        embedding_incremental_pairs,
        lsh_candidate_pairs,
        semdedup_pairs,
    )

    out: dict = {"mode": "families", "sf_dir": sf_dir, "families": {}}

    def clock(name, thunk):
        t0 = time.time()
        n = thunk()
        sec = round(time.time() - t0, 2)
        out["families"][name] = {"sec": sec, "n_rows": int(n)}
        print(f"  {name}: {n} rows [{sec}s]", flush=True)

    clock("minhash", lambda: doc_minhash_lsh_pairs(spark, sf_dir).count())
    clock("hyperplane", lambda: lsh_candidate_pairs(spark, sf_dir).count())
    clock("semdedup", lambda: semdedup_pairs(spark, sf_dir).count())

    batch_ids = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % INCREMENTAL_MOD == 0)
        .select("vec_id")
    )
    clock(
        "ivf_inc",
        lambda: embedding_incremental_pairs(spark, sf_dir, batch_ids).count(),
    )

    def media_families():
        t0 = time.time()
        ph_pairs, ph_labels, afp_pairs = perceptual_near_dups(
            spark, sf_dir
        )
        n = ph_pairs.count() + ph_labels.count() + afp_pairs.count()
        sec = round(time.time() - t0, 2)
        out["families"]["phash+afp"] = {"sec": sec, "n_rows": int(n)}
        print(f"  phash+afp: {n} rows [{sec}s]", flush=True)

    media_families()
    out["sum_family_sec"] = round(
        sum(f["sec"] for f in out["families"].values()), 2
    )
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--mode", choices=["full", "families"], required=True)
    ap.add_argument("--out", default="BENCH_lsh_family_decomp_r15.jsonl")
    args = ap.parse_args()

    from ct_clickhouse_spark.session import get_spark

    spark = get_spark(app_name=f"lsh-family-decomp-{args.mode}")
    spark.sparkContext.setLogLevel("ERROR")
    rec = (run_full if args.mode == "full" else run_families)(
        spark, args.sf_dir
    )
    with open(args.out, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(rec), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
