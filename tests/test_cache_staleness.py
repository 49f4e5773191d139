"""Staleness, bound and release rules of the artifact registry
(ct_clickhouse_spark/artifacts.py). Every entry carries the `path_state`
of the source files it was built from and re-resolves when a rewrite
lands. These tests rewrite a table in place — embeddings for the serving
state; documents, by appending a part file, for table plans, row counts
and an operator artifact — and observe the re-resolution; without the
fingerprint they fail by serving the stale vector, count or frame.

Also pins artifacts.release_local_checkpoint (r13 advice #3): the old
`df.unpersist()` release was a measured no-op on a localCheckpoint'ed
frame's RDD blocks; the plan-rdd unpersist actually empties storage.
"""

from __future__ import annotations

import os
import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def _write_embeddings(path: str, scale: float) -> None:
    # two live components: SQ8 quantizes NORMALIZED vectors, so the
    # rewrite signal must change the vectors' DIRECTION (dim0:dim1 =
    # 1:scale), not just their magnitude
    dim = 8
    vecs = [
        [scale * (i + 1), (i + 1)] + [0.0] * (dim - 2) for i in range(10)
    ]
    t = pa.table(
        {
            "vec_id": pa.array(list(range(10)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(list(range(10)), pa.int32()),
        }
    )
    pq.write_table(t, os.path.join(path, "embeddings.parquet"))
    # mtime_ns granularity is plenty, but make the rewrite unambiguous
    # even on coarse-mtime filesystems by nudging the clock forward
    now = time.time() + 2
    os.utime(os.path.join(path, "embeddings.parquet"), (now, now))
    _outlast_probe_ttl()


def _outlast_probe_ttl() -> None:
    # out-of-band rewrites (not routed through invalidate_table) are
    # detected within the TTL of the memoized fingerprint (r14 advice
    # #3 made path_state amortized); wait it out so re-resolution is
    # deterministic here
    from ct_clickhouse_spark.artifacts import STATE_TTL_S

    time.sleep(STATE_TTL_S + 0.05)


def _append_documents(path: str, start: int, n: int) -> None:
    """Land one more part file in the directory-shaped documents table,
    like an ingest appending to it: a plan that kept its old file
    listing misses the new rows."""
    ids = list(range(start, start + n))
    texts = [f"doc number {i} says hello" for i in ids]
    t = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array(["web"] * n, pa.string()),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    table_dir = os.path.join(path, "documents.parquet")
    os.makedirs(table_dir, exist_ok=True)
    pq.write_table(t, os.path.join(table_dir, f"part-{start}.parquet"))
    _outlast_probe_ttl()


@pytest.fixture()
def emb_dir(tmp_path):
    d = str(tmp_path / "sf_mut")
    os.makedirs(d)
    _write_embeddings(d, scale=1.0)
    return d


def test_query_vector_reresolves_after_rewrite(spark, emb_dir):
    from ct_clickhouse_spark.operators.similarity import _query_vector

    v1 = _query_vector(spark, emb_dir, 3)
    assert v1[0] == pytest.approx(4.0)
    # hot-path cache hit first (the thing the fingerprint must not break)
    assert _query_vector(spark, emb_dir, 3)[0] == pytest.approx(4.0)

    _write_embeddings(emb_dir, scale=10.0)
    v2 = _query_vector(spark, emb_dir, 3)
    assert v2[0] == pytest.approx(40.0), (
        "stale _QVEC_CACHE entry served after the embeddings path changed"
    )


def test_sq8_serving_index_reresolves_after_rewrite(spark, emb_dir):
    from ct_clickhouse_spark.operators.similarity import _sq8_index

    import math

    codes1, scales1 = _sq8_index(spark, emb_dir)
    codes1.count()
    _write_embeddings(emb_dir, scale=10.0)
    codes2, scales2 = _sq8_index(spark, emb_dir)
    # normalized dim0 component: scale/sqrt(scale^2+1) -> 0.707 at 1x,
    # 0.995 at 10x — a stale cache keeps the old per-dim scale
    assert scales2[0] == pytest.approx(10.0 / math.sqrt(101.0), rel=1e-3), (
        "stale SQ8 index served after the embeddings path changed"
    )
    assert scales1[0] == pytest.approx(1.0 / math.sqrt(2.0), rel=1e-3)


def _qvec_map(spark, emb_dir):
    from ct_clickhouse_spark import artifacts
    from ct_clickhouse_spark.catalog import table_path

    return artifacts.get_or_build(
        spark,
        "query_vectors",
        emb_dir,
        lambda: pytest.fail("no query-vector entry in the registry"),
        deps=[table_path(emb_dir, "embeddings")],
    )


def test_unchanged_path_is_a_cache_hit(spark, emb_dir):
    from ct_clickhouse_spark.operators import similarity as S

    S._query_vector(spark, emb_dir, 1)
    per = _qvec_map(spark, emb_dir)
    assert 1 in per
    # same fingerprint -> the map object survives the second lookup
    S._query_vector(spark, emb_dir, 2)
    assert per is _qvec_map(spark, emb_dir)
    assert {1, 2} <= set(per)


def test_table_plan_and_rowcount_reresolve_after_rewrite(spark, tmp_path):
    from ct_clickhouse_spark.catalog import load_table, table_rowcount

    d = str(tmp_path / "sf_docs")
    _append_documents(d, 0, 5)
    assert table_rowcount(spark, d, "documents") == 5
    assert load_table(spark, d, "documents").count() == 5
    _append_documents(d, 5, 3)
    assert table_rowcount(spark, d, "documents") == 8, (
        "stale row count served after the documents file changed"
    )
    assert load_table(spark, d, "documents").count() == 8, (
        "stale table plan served after the documents file changed"
    )


def test_operator_artifact_reresolves_after_rewrite(spark, tmp_path):
    from ct_clickhouse_spark.operators.multimodal import build_media

    d = str(tmp_path / "sf_media")
    _append_documents(d, 0, 5)
    assert build_media(spark, d).count() == 5
    _append_documents(d, 5, 3)
    assert build_media(spark, d).count() == 8, (
        "stale persisted media table served after the documents file changed"
    )


def test_release_local_checkpoint_frees_blocks(spark):
    from ct_clickhouse_spark.artifacts import release_local_checkpoint

    def storage_ids() -> set[int]:
        return {
            i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    df = spark.range(10_000).selectExpr("id", "id * 2 AS v")
    ck = df.localCheckpoint(eager=True)
    rid = ck._jdf.queryExecution().analyzed().rdd().id()
    assert rid in storage_ids(), "localCheckpoint did not pin RDD blocks?"
    release_local_checkpoint(ck)
    assert rid not in storage_ids(), (
        "release_local_checkpoint left the checkpointed RDD blocks pinned"
    )


def test_restale_entry_moves_to_newest(spark, tmp_path, monkeypatch):
    # r14 advice #4: a staleness-refreshed entry must take the NEWEST
    # slot, or it sits oldest and is evicted right after being rebuilt.
    # Also the two release rules: staleness runs the release, capacity
    # eviction does not.
    from ct_clickhouse_spark import artifacts

    monkeypatch.setattr(artifacts, "ARTIFACT_CACHE_MAX", 4)
    monkeypatch.setattr(artifacts, "STATE_TTL_S", 0.0)
    artifacts.clear()
    src = {k: str(tmp_path / k) for k in "abcde"}
    released: list = []

    def put(k, v):
        return artifacts.get_or_build(
            spark, "t", k, lambda: v, deps=[src[k]], release=released.append
        )

    for k in "abcd":
        put(k, k)
    with open(src["a"], "w") as f:  # "a" goes stale
        f.write("changed")
    assert put("a", "a2") == "a2"
    put("e", "e")
    assert released == ["a"], "stale entry not released, or eviction released"
    assert [key[2] for key in artifacts._ENTRIES] == ["c", "d", "a", "e"]
    artifacts.clear()


def test_evicted_checkpoint_frame_still_usable_by_held_reference(spark, tmp_path):
    # r14 advice, medium: capacity eviction of a localCheckpoint-backed
    # artifact must NOT eagerly free its blocks — a still-held reference
    # (e.g. a concurrent bench thread) would fail at action time with
    # block-not-found, unrecoverably (truncated lineage). Eviction drops
    # the reference; ContextCleaner frees blocks by reachability.
    from ct_clickhouse_spark import artifacts
    from ct_clickhouse_spark.operators import relational as R

    source = str(tmp_path / "t")
    base = spark.range(2_000).selectExpr("id % 7 AS g", "CAST(id AS DOUBLE) AS v")
    held = R._group_bounds(base, "g", "v", 4, source=source)
    n_before = held.count()  # (sampled sketch: group count may be < 7)
    for i in range(artifacts.ARTIFACT_CACHE_MAX):  # sweep the held entry out
        artifacts.get_or_build(spark, "fill", i, lambda: i)
    assert (
        artifacts.get_or_build(
            spark, "quantile_bounds", (source, "g", "v", 4), lambda: None,
            deps=[source],
        )
        is None
    ), "held entry was not evicted"
    assert held.count() == n_before, (
        "held reference to an evicted checkpointed boundary frame broke"
    )


def _run_threads(worker, n: int) -> None:
    """Run ``worker(i)`` on n threads (more than the cores) with a short
    switch interval, so evictions interleave."""
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads), "a worker hung"


def test_concurrent_inserts_past_the_bound(spark, monkeypatch):
    # many threads insert past the bound under concurrent lookups: no
    # double eviction may raise, and the bound holds
    from ct_clickhouse_spark import artifacts

    monkeypatch.setattr(artifacts, "ARTIFACT_CACHE_MAX", 8)
    errors: list = []

    def worker(seed: int) -> None:
        try:
            for i in range(300):
                k = (seed * 7919 + i * 31) % 64
                artifacts.get_or_build(spark, "race", k, lambda: k)
        except Exception as e:  # noqa: BLE001 - the assertion reports it
            errors.append(e)

    _run_threads(worker, 16)
    assert not errors, errors[:3]
    assert len(artifacts._ENTRIES) <= 8
    artifacts.clear()


class _OneRowFrame:
    """Stands in for the embeddings scan so lookups miss fast."""

    embedding = [0.0]

    def filter(self, _cond):
        return self

    def select(self, *_cols):
        return self

    def collect(self):
        return [self]


def test_concurrent_query_vectors_past_the_bound(spark, emb_dir, monkeypatch):
    # the per-id map inside the query-vector entry: concurrent /similar
    # requests insert and evict together
    from ct_clickhouse_spark.operators import similarity as S

    monkeypatch.setattr(S, "QVEC_CACHE_MAX_IDS", 4)
    monkeypatch.setattr(S, "load_table", lambda *a, **kw: _OneRowFrame())
    errors: list = []

    def worker(seed: int) -> None:
        try:
            for i in range(300):
                S._query_vector(spark, emb_dir, (seed * 7919 + i * 31) % 64)
        except Exception as e:  # noqa: BLE001 - the assertion reports it
            errors.append(e)

    _run_threads(worker, 16)
    assert not errors, errors[:3]
    assert len(_qvec_map(spark, emb_dir)) <= 4
