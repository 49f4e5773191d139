"""Single-query ANN top-k across corpus regimes. SQ8 (int8 code scan +
exact re-rank) is the one single-query path: it must hold recall@10 on
planted clusters, on pure noise and on every mix between, and honor k
beyond 10. Also pins ivf_topk's input checks (probe count, zero-norm
vectors)."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR


def _write_planted(
    tmp_path, n=2000, d=32, k=8, signal=4.0, noise=0.5, noise_frac=0.0,
    zero_ids=(),
):
    """Well-separated corpus in the catalog's embeddings schema — the
    same recipe as scripts/ann_recall.py --planted, test-sized.
    ``noise_frac`` replaces that fraction of rows with pure unit noise
    (label -1): the mixed regime between clustered and noise."""
    rng = np.random.default_rng(4242)
    centers = rng.normal(size=(k, d))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, k, n).astype(np.int32)
    vecs = signal * centers[labels] + noise * rng.normal(size=(n, d))
    if noise_frac:
        is_noise = rng.permutation(n) < int(noise_frac * n)
        vecs[is_noise] = rng.normal(size=(int(is_noise.sum()), d))
        labels[is_noise] = -1
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs[list(zero_ids)] = 0.0
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.astype(np.float32).ravel(), type=pa.float32()), d
    ).cast(pa.list_(pa.float32()))
    out = str(tmp_path / "planted")
    os.makedirs(out)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64)),
                "embedding": emb,
                "label": pa.array(labels),
            }
        ),
        os.path.join(out, "embeddings.parquet"),
    )
    return out


def _exact_topk(m, qid, k=10):
    sims = m @ m[qid]
    sims[qid] = -np.inf
    return set(np.lexsort((np.arange(len(m)), -sims))[:k].tolist())


def _unit_rows(spark, corpus):
    from ct_clickhouse_spark.catalog import load_table

    rows = load_table(spark, corpus, "embeddings").collect()
    m = np.array([r.embedding for r in sorted(rows, key=lambda r: r.vec_id)])
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def test_auto_recall_on_planted(spark, tmp_path):
    """End-to-end: SQ8 on the clustered corpus must actually find the
    true neighbors (recall@10 >= 0.9 vs exact)."""
    from ct_clickhouse_spark.operators.similarity import sq8_topk

    planted = _write_planted(tmp_path)
    exact = _exact_topk(_unit_rows(spark, planted), 0)
    got = {r.vec_id for r in sq8_topk(spark, planted).collect()}
    assert len(got & exact) >= 9


def test_auto_k_gt_10_consistent_across_routes(spark, tmp_path):
    """ADVICE r10: ivf_topk used to hard-limit to TOPK=10 internally, so
    a k=25 request silently returned 10 rows. Every single-query path
    must honor k: SQ8 on the planted and the fixture corpus, and IVF on
    the planted one."""
    from ct_clickhouse_spark.operators.similarity import ivf_topk, sq8_topk

    planted = _write_planted(tmp_path)
    for rows in (
        sq8_topk(spark, planted, k=25).collect(),
        ivf_topk(spark, planted, n_probes=3, k=25).collect(),
        sq8_topk(spark, SF_DIR, k=25).collect(),
    ):
        assert len(rows) == 25
        # descending cosine with vec_id tiebreak
        keys = [(-r.cosine, r.vec_id) for r in rows]
        assert keys == sorted(keys)


def test_ivf_topk_rejects_zero_probes(spark, tmp_path):
    """ADVICE r10: n_probes=0 used to silently fall back to the default
    via `or`; it must error instead."""
    from ct_clickhouse_spark.operators.similarity import ivf_topk

    planted = _write_planted(tmp_path)
    with pytest.raises(ValueError, match="n_probes"):
        ivf_topk(spark, planted, n_probes=0)


def test_ivf_topk_rejects_zero_norm_vectors(spark, tmp_path):
    """A zero-norm embedding has no cosine. As the query (vec_id 0) it
    used to give 10 rows of NULL cosines; as a corpus row it turned a
    centroid into NaN and emptied the probed cells (query 3 got 0
    rows). Both must raise ValueError naming the vec_id."""
    from ct_clickhouse_spark.operators.similarity import ivf_topk

    corpus = _write_planted(tmp_path, zero_ids=(0,))
    for qid in (0, 3):
        with pytest.raises(ValueError, match=r"\b0 has zero norm"):
            ivf_topk(spark, corpus, query_vec_id=qid).collect()


@pytest.mark.parametrize("noise_frac", [0.0, 0.5, 1.0])
def test_routed_recall_across_mixed_regimes(spark, tmp_path, noise_frac):
    """Round-11 (r10 verdict #5): recall must hold across the regime
    axis, not only at its ends — on a planted, half-noise and pure-noise
    corpus, SQ8's end-to-end recall@10 must stay >= 0.9."""
    from ct_clickhouse_spark.operators.similarity import sq8_topk

    corpus = _write_planted(tmp_path, noise_frac=noise_frac)
    m = _unit_rows(spark, corpus)
    n = len(m)
    recalls = []
    for qid in [0, n // 4, n // 2, 3 * n // 4, n - 1]:
        exact = _exact_topk(m, qid)
        got = {
            r.vec_id for r in sq8_topk(spark, corpus, query_vec_id=qid).collect()
        }
        recalls.append(len(got & exact) / 10)
    assert float(np.mean(recalls)) >= 0.9, (noise_frac, recalls)
