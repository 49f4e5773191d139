"""Batched IVF search: one distributed pass over many queries must give
each query the per-call ivf_topk answer (same trained quantizer, same
home-cell assignment, same tiebreak)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ct_clickhouse_spark.catalog import load_table
from ct_clickhouse_spark.operators.similarity import (
    IVF_PROBES,
    QUERY_VEC_ID,
    ivf_topk,
)
from tests.conftest import SF_DIR


def test_batch_topk_single_query_equals_ivf_topk(spark):
    """ivf_topk_batch with one query and the same probe count must
    return exactly the per-query ivf_topk result (same trained
    quantizer, same home-cell corpus assignment, same tiebreak)."""
    from ct_clickhouse_spark.operators.similarity import TOPK, ivf_topk_batch

    q = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .selectExpr("vec_id AS query_id", "embedding")
    )
    batch = [
        (r.vec_id, r.cosine)
        for r in ivf_topk_batch(spark, SF_DIR, q, probes=IVF_PROBES)
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .orderBy("rank")
        .collect()
    ][:TOPK - 1]
    single = [
        (r.vec_id, r.cosine) for r in ivf_topk(spark, SF_DIR).collect()
    ][:TOPK - 1]
    assert batch == single


def test_batch_topk_rank1_is_self(spark):
    """Each query vector's own corpus row must come back at rank 1 with
    cosine 1.0 — the identity check that the cell routing reaches the
    query's own home cell."""
    from ct_clickhouse_spark.operators.similarity import (
        BATCH_QUERY_IDS,
        ivf_topk_batch,
    )

    q = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id").isin(BATCH_QUERY_IDS))
        .selectExpr("vec_id AS query_id", "embedding")
    )
    top1 = {
        r.query_id: (r.vec_id, r.cosine)
        for r in ivf_topk_batch(spark, SF_DIR, q)
        .filter(F.col("rank") == 1)
        .collect()
    }
    assert set(top1) == set(BATCH_QUERY_IDS)
    for qid, (vid, cos) in top1.items():
        assert vid == qid and cos == 1.0
