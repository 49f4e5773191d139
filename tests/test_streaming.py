"""Streaming ingest end-to-end: ct_log source -> parse -> explode -> dedup
-> partitioned parquet sink, entirely offline on recorded log fixtures."""

from __future__ import annotations

import os

import pytest

from tests.ctgen import make_cert_der, wrap_leaf, write_log_dir


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ct_logs"))
    cert_a = make_cert_der(["shop.example.com", "www.shop.example.com"], serial=1)
    cert_b = make_cert_der(["pejcic.rs", "blog.pejcic.rs"], serial=2)
    cert_c = make_cert_der(["api.example.co.uk"], serial=3)
    # log1: cert_a, garbage, cert_b, and cert_a AGAIN (at-least-once dupe)
    write_log_dir(
        base,
        "Google Argon2024",
        [wrap_leaf(cert_a), wrap_leaf(b"junk"), wrap_leaf(cert_b), wrap_leaf(cert_a)],
    )
    # log2: cert_c and a duplicate of cert_b from ANOTHER log (cross-log dupe)
    write_log_dir(base, "Cloudflare Nimbus2024", [wrap_leaf(cert_c), wrap_leaf(cert_b)])
    return base


def test_source_batch_semantics(spark, log_dir):
    """The ct_log source exposes per-log partitions and full offsets."""
    from ct_clickhouse_spark.sources.ct_log import register

    register(spark)
    q = (
        spark.readStream.format("ct_log")
        .option("path", log_dir)
        .load()
        .writeStream.format("memory")
        .queryName("raw_entries")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM raw_entries").collect()
    assert len(rows) == 6  # 4 + 2 raw leaves
    by_log = {r.log_name for r in rows}
    assert by_log == {"Google Argon2024", "Cloudflare Nimbus2024"}
    idx = sorted(r.entry_index for r in rows if r.log_name == "Google Argon2024")
    assert idx == [0, 1, 2, 3]


def test_ingest_end_to_end_dedup_and_layout(spark, log_dir, tmp_path):
    """Full pipeline: parse -> explode -> dedup-within-watermark ->
    month-partitioned parquet. The duplicate cert insertions (reference's
    at-least-once failure mode, ct_ingestor.py:224-226) must collapse."""
    from ct_clickhouse_spark.streaming.ingest import start_ingest

    out = str(tmp_path / "cert_domains")
    ckpt = str(tmp_path / "ckpt")
    q = start_ingest(spark, log_dir, out, ckpt, available_now=True)
    q.awaitTermination(180)

    df = spark.read.parquet(out)
    rows = df.collect()
    # unique (fingerprint, domain): cert_a 2 domains + cert_b 2 + cert_c 1
    assert len(rows) == 5
    assert df.select("fingerprint", "domain").distinct().count() == 5
    by_domain = {r.domain: r for r in rows}
    assert by_domain["blog.pejcic.rs"].base_domain == "pejcic.rs"
    assert by_domain["api.example.co.uk"].base_domain == "example.co.uk"
    # spaces -> underscores in log_name (ct_ingestor.py:152 parity)
    assert all("_" in r.log_name and " " not in r.log_name for r in rows)
    # Hive month partitioning materialized
    assert any(p.startswith("month=") for p in os.listdir(out))
    # san column carries every name of the cert on each row (init.sql:11)
    assert sorted(by_domain["shop.example.com"].san) == [
        "shop.example.com",
        "www.shop.example.com",
    ]


def test_ingest_resume_from_checkpoint(spark, log_dir, tmp_path):
    """Restart with a grown log: only new entries are read (the reference's
    offset-file resume, ct_ingestor.py:169; here exactly-once)."""
    import shutil

    from ct_clickhouse_spark.streaming.ingest import start_ingest
    from tests.ctgen import make_cert_der, wrap_leaf, write_log_dir

    grow = str(tmp_path / "logs")
    shutil.copytree(log_dir, grow)
    out = str(tmp_path / "cert_domains")
    ckpt = str(tmp_path / "ckpt")
    q = start_ingest(spark, grow, out, ckpt, available_now=True)
    q.awaitTermination(180)
    n1 = spark.read.parquet(out).count()

    # grow log2 by one brand-new cert (earlier entries are already
    # committed, so their regenerated bytes are never re-read)
    cert_d = make_cert_der(["new.example.org"], serial=9)
    write_log_dir(
        grow,
        "Cloudflare Nimbus2024",
        [wrap_leaf(make_cert_der(["api.example.co.uk"], serial=3)),
         wrap_leaf(make_cert_der(["pejcic.rs", "blog.pejcic.rs"], serial=2)),
         wrap_leaf(cert_d)],
    )

    q2 = start_ingest(spark, grow, out, ckpt, available_now=True)
    q2.awaitTermination(180)
    df = spark.read.parquet(out)
    assert df.count() == n1 + 1
    assert df.filter("domain = 'new.example.org'").count() == 1


def test_streaming_incremental_dedup_converges_to_batch(spark, tmp_path):
    """The foreachBatch vs-corpus dedup must keep exactly the rows a
    batch left_anti join keeps, across micro-batch boundaries."""
    from pyspark.sql import functions as F

    from ct_clickhouse_spark.catalog import load_table
    from ct_clickhouse_spark.operators.bloomjoin import build_bloom
    from ct_clickhouse_spark.streaming.ingest import start_incremental_dedup

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    batch_all = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    corpus = docs.filter(F.col("doc_id") % 5 != 0).select(
        F.md5("text").alias("h")
    )
    src = str(tmp_path / "src")
    a = batch_all.filter(F.col("doc_id") % 2 == 0)
    b = batch_all.filter(F.col("doc_id") % 2 == 1)
    a.coalesce(1).write.parquet(src + "/chunk=0")
    b.coalesce(1).write.parquet(src + "/chunk=1")

    bloom = build_bloom(corpus, "h", max(corpus.count(), 1))
    stream = (
        spark.readStream.schema("doc_id long, h string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/chunk=*")
    )
    out = str(tmp_path / "out")
    q = start_incremental_dedup(
        stream, bloom, corpus, "h", out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    want = {r.doc_id for r in batch_all.join(corpus, "h", "left_anti").collect()}
    assert got == want and len(want) > 0

    # replay idempotency: re-writing a batch's survivors into its own
    # batch_id partition (what a foreachBatch retry does) leaves the
    # sink unchanged — no appended duplicates, other batches untouched
    first_bid = min(
        r.batch_id for r in spark.read.parquet(out).select("batch_id").collect()
    )
    # materialize the replay rows first: overwriting a partition from a
    # plan that reads it is the lost-update shape the overwrite mode
    # itself can't protect against
    replay_rows = (
        spark.read.parquet(out).filter(F.col("batch_id") == first_bid).collect()
    )
    replay = spark.createDataFrame(replay_rows)
    (
        replay.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out)
    )
    again = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert again == want


def test_watermark_parameter_reaches_plan(spark, log_dir):
    """The drain bench (scripts/bench_streaming.py --only drain) depends
    on the watermark knob actually reaching the stateful operator; the
    default must stay the production 1 hour. Assert both via the
    analyzed plan's EventTimeWatermark node."""
    from ct_clickhouse_spark.streaming.ingest import ingest_stream

    def _delay_ms(df) -> str:
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "EventTimeWatermark" in plan, plan
        return plan

    default = _delay_ms(ingest_stream(spark, log_dir))
    assert "1 hours" in default or "1 hour" in default, default
    short = _delay_ms(ingest_stream(spark, log_dir, watermark="90 seconds"))
    # the interval pretty-prints as "1 minutes 30 seconds" and tags the
    # column's delay as T90000ms — assert the unambiguous ms tag
    assert "T90000ms" in short or "1 minutes 30 seconds" in short, short


def test_dedup_state_retention_two_delay_law(spark, tmp_path):
    """Round-11 (r10 verdict #4): the measured state-sizing rule —
    dropDuplicatesWithinWatermark retains ~2x the configured delay of
    key arrivals (expiry stamped at event_ts + delay, evicted against a
    watermark that itself trails max event time by delay) — lived only
    in two 9-minute bench runs (BENCH_streaming_r10.json, plateaus at
    1.91-1.93x across two delays x two rates). A Spark upgrade changing
    eviction semantics would silently break SCALING.md's sizing rule;
    this pins the law as a fast regression check.

    Uses rate-micro-batch: event time advances a FIXED 1 s per batch,
    so the law is asserted in deterministic event time, free of the
    wall-clock noise the bench runs absorb with 60 s plateau windows.
    All values are unique, so state rows = live (unexpired) keys."""
    import time

    delay_s = 10
    rows_per_evsec = 1000
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_evsec)
        .option("advanceMillisPerBatch", 1000)
        .option("numPartitions", 4)
        .load()
    )
    deduped = src.withWatermark(
        "timestamp", f"{delay_s} seconds"
    ).dropDuplicatesWithinWatermark(["value"])
    q = (
        deduped.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        by_batch: dict[int, dict] = {}
        deadline = time.time() + 120
        while time.time() < deadline and len(by_batch) < 50:
            for p in q.recentProgress:
                so = (p.stateOperators or [None])[0]
                if p.batchId not in by_batch and so is not None:
                    by_batch[p.batchId] = {
                        "rows": so.numRowsTotal,
                        "removed": so.numRowsRemoved,
                    }
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination(30)
    assert len(by_batch) >= 50, f"only {len(by_batch)} batches in 120 s"
    # steady state: well past the fill transient (first ~2x delay of
    # event seconds = ~20 batches)
    steady = [by_batch[b] for b in sorted(by_batch) if b >= 35]
    assert any(r["removed"] > 0 for r in steady), "no eviction observed"
    plateau = sum(r["rows"] for r in steady) / len(steady)
    horizon_ev_s = plateau / rows_per_evsec
    # the law: effective horizon ~= 2x the configured delay (+<=2
    # event-seconds of trigger/watermark-update lag)
    assert 1.8 * delay_s <= horizon_ev_s <= 2.3 * delay_s, (
        f"state plateau {plateau:.0f} rows = {horizon_ev_s:.1f} ev-s "
        f"horizon; expected ~2x the {delay_s} s delay"
    )


def test_drain_bench_validates_watermark_unit():
    """ADVICE r10: '1 hour' used to KeyError at summary time AFTER the
    multi-minute run; the unit map now covers hours and validates
    up front."""
    import scripts.bench_streaming as bs

    assert bs._WATERMARK_UNIT_S["hour"] == 3600
    assert bs._WATERMARK_UNIT_S["hours"] == 3600
    with pytest.raises(ValueError, match="unsupported watermark unit"):
        bs.bench_ingest_drain(None, watermark="1 fortnight")
