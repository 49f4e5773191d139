"""The SQ8 top-k is one path: one TakeOrdered job over the codes-plus-
payload index, then the exact re-rank of the candidates on the driver.
Its cosines match Spark's in-plan arithmetic only if the driver side is
bit-compatible with it — left-to-right fold order, IEEE sqrt, and
Spark's HALF_UP round — so these tests pin the rounding and the k
contract of that single path."""

from __future__ import annotations

from ct_clickhouse_spark.operators import similarity

SF_DIR = "/root/testdata/sf0.01"


def _rows(df):
    return [(r.vec_id, r.label, r.cosine) for r in df.collect()]


def test_serving_twin_respects_k(spark):
    """k=3 is the first 3 rows of k=10, and the DataFrame wrapper
    carries the driver tuples unchanged."""
    head = similarity.sq8_topk_rows(spark, SF_DIR, k=3, query_vec_id=7)
    full = _rows(similarity.sq8_topk(spark, SF_DIR, k=10, query_vec_id=7))
    assert len(full) == 10
    assert full == similarity.sq8_topk_rows(spark, SF_DIR, k=10, query_vec_id=7)
    assert head == full[:3]


def test_round_half_up_matches_spark_round(spark):
    """_round_half_up4 == Spark's round(double, 4) on a boundary-heavy
    sweep (x.xxxx5 values land differently under half-even)."""
    import pyspark.sql.functions as F

    vals = [i / 200000 for i in range(0, 2000, 7)] + [0.12345, 0.99995, 0.00005]
    df = spark.createDataFrame([(v,) for v in vals], "v double").select(
        F.round("v", 4).alias("r")
    )
    got = [r.r for r in df.collect()]
    want = [similarity._round_half_up4(v) for v in vals]
    assert got == want
