"""ingest_fresh: live CT-log ingest served while it runs.

A seeded fixture of 3 recorded CT logs (certificates wrapped by
tests/ctgen.py, every 20th leaf a re-publication of an earlier leaf) is
published by growing each log's sth.json. ``start_ingest`` feeds it into
a parquet table that ``create_app`` serves.

- Fresh phase (open loop): leaves are published at PUBLISH_RATE/s. One
  client holds a single long-lived /stream response and reads it as it
  arrives; freshness is the time from a leaf's publication to its rows
  appearing there. A second client sends open-loop /domain reads at
  READ_RATE/s for names /stream has already delivered.
- Burst phase, on an idle query with no readers: a backlog of BURST
  leaves per log is published at once; the ingest rate is leaves per
  second until the query's committed offsets reach it.

Checks, outside the timed window: the sink holds every expected
(fingerprint, domain) pair exactly once; /stream delivered no row twice
and every row published before the burst; every /domain read returned
the row /stream had served for that name.
"""

from __future__ import annotations

import ast
import datetime
import hashlib
import json
import os
import threading
import time

import numpy as np

import harness
from clients import Runner, open_loop, per_request

LOGS = ("Bench Log A", "Bench Log B", "Bench Log C")
INITIAL = 20  # leaves per log published before the query starts
PUBLISH_RATE = 30.0  # leaves/s over all logs, fresh phase
READ_RATE = 1.0  # /domain reads per second, fresh phase
BURST = 1024  # leaves per log in the backlog
DUP_EVERY = 20  # every 20th leaf re-publishes an earlier one
MAX_PER_TRIGGER = 512  # the reference's batch size, per log
POLL_S = 0.25  # /stream poll interval; shorter polls slow the triggers
FRESH_SHARE = 0.6  # of --seconds; the rest covers the burst
TLDS = ("com", "net", "org", "io", "rs")
DEADLINE_S = 150  # after process start: every wait gives up by then


# --- fixture ----------------------------------------------------------------


def make_cert(names: list[str], serial: int, key) -> bytes:
    """Self-signed Ed25519 certificate: deterministic bytes for a given
    key, names and serial (Ed25519 signatures are deterministic)."""
    from cryptography import x509
    from cryptography.hazmat.primitives.serialization import Encoding
    from cryptography.x509.oid import NameOID

    name = x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, names[0])])
    nb = datetime.datetime(2024, 1, 1)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name)
        .issuer_name(name)
        .public_key(key.public_key())
        .serial_number(serial)
        .not_valid_before(nb)
        .not_valid_after(nb + datetime.timedelta(days=90))
        .add_extension(
            x509.SubjectAlternativeName([x509.DNSName(d) for d in names]),
            critical=False,
        )
        .sign(key, None)
    )
    return cert.public_bytes(Encoding.DER)


class Fixture:
    """Per log: the full leaf sequence (written to entries.jsonl up
    front) and the names each leaf carries. Publishing a prefix rewrites
    sth.json only."""

    def __init__(self, base: str, seed: int, per_log: int):
        from cryptography.hazmat.primitives.asymmetric import ed25519

        from tests.ctgen import wrap_leaf, write_log_dir

        rng = np.random.default_rng(seed)
        key = ed25519.Ed25519PrivateKey.from_private_bytes(
            rng.bytes(32)
        )
        self.base = base
        self.leaves: dict[str, list[tuple[str, list[str]]]] = {}
        serial = 1
        for li, log in enumerate(LOGS):
            seq: list[tuple[str, list[str]]] = []
            raw: list[bytes] = []
            for i in range(per_log):
                if i % DUP_EVERY == DUP_EVERY - 1:
                    j = int(rng.integers(0, i))  # re-publish an earlier leaf
                    seq.append(seq[j])
                    raw.append(raw[j])
                    continue
                token = "".join(chr(97 + c) for c in rng.integers(0, 26, 6))
                host = f"{token}{li}x{i}.{TLDS[rng.integers(len(TLDS))]}"
                names = [host] + [
                    f"{p}.{host}" for p in ("www", "api")[: rng.integers(0, 3)]
                ]
                der = make_cert(names, serial, key)
                serial += 1
                seq.append((hashlib.sha256(der).hexdigest(), names))
                raw.append(wrap_leaf(der))
            write_log_dir(base, log, raw, tree_size=0)
            self.leaves[log] = seq
        self.size = {log: 0 for log in LOGS}
        self.published: dict[str, float] = {}  # fingerprint -> first publish
        self.fresh_start = float("inf")

    def publish(self, log: str, upto: int) -> None:
        now = time.perf_counter()
        for fp, _names in self.leaves[log][self.size[log] : upto]:
            self.published.setdefault(fp, now)
        self.size[log] = upto
        path = os.path.join(self.base, log, "sth.json")
        with open(path + ".tmp", "w") as f:
            json.dump({"tree_size": upto}, f)
        os.replace(path + ".tmp", path)

    def expected_rows(self) -> set[tuple[str, str]]:
        """(fingerprint, domain) for every leaf published so far."""
        return {
            (fp, name)
            for log in LOGS
            for fp, names in self.leaves[log][: self.size[log]]
            for name in names
        }


# --- clients ----------------------------------------------------------------


class StreamReader(threading.Thread):
    """Holds one /stream response and records each row's arrival time.
    Once ``want`` is set, exits as soon as every row in it has arrived."""

    def __init__(self, app, sc, group: str | None):
        super().__init__(daemon=True)
        self.app = app
        self.sc = sc
        self.group = group
        self.want: set | None = None
        self.rows: list[tuple[str, str, float]] = []  # fingerprint, domain, t
        self.error: BaseException | None = None

    def run(self):
        try:
            if self.group:
                self.sc.setJobGroup(self.group, "/stream")
            resp = self.app.test_client().get(f"/stream?poll={POLL_S}", buffered=False)
            try:
                buf = b""
                seen = set()
                for chunk in resp.response:
                    buf += chunk if isinstance(chunk, bytes) else chunk.encode()
                    while b"\n\n" in buf:
                        event, buf = buf.split(b"\n\n", 1)
                        if event.startswith(b"data: "):
                            d = json.loads(event[6:])
                            self.rows.append(
                                (d["fingerprint"], d["domain"], time.perf_counter())
                            )
                            seen.add((d["fingerprint"], d["domain"]))
                    want = self.want
                    if want is not None and want <= seen:
                        return
            finally:
                resp.close()
        except BaseException as e:  # reported by the main thread
            self.error = e


def progress_events(q, seen: dict) -> None:
    """Collect the query's progress events, keyed by batch id."""
    for p in q.recentProgress:
        seen.setdefault(p.batchId, p)


def committed(q) -> dict:
    p = q.lastProgress
    if p is None or not p.sources:
        return {}
    # the Python data source reports its offset as a dict literal
    return ast.literal_eval(p.sources[0].endOffset)


def wait_until(pred, deadline: float, step: float = 0.01) -> bool:
    """Poll ``pred`` until it holds or perf_counter passes ``deadline``."""
    while time.perf_counter() < deadline:
        if pred():
            return True
        time.sleep(step)
    return pred()


# --- the workload -----------------------------------------------------------


def run(ctx) -> dict:
    from ct_clickhouse_spark.serving.app import create_app
    from ct_clickhouse_spark.streaming.ingest import start_ingest

    tracer = harness.Tracer(ctx.trace)
    rng = np.random.default_rng(ctx.seed + 1)
    fresh_s = ctx.seconds * FRESH_SHARE
    n_fresh = int(PUBLISH_RATE * fresh_s)
    per_log = INITIAL + -(-n_fresh // len(LOGS)) + BURST
    spark = harness.start_spark(ctx.run_dir, "perfbench-ingest_fresh")
    session_s = time.perf_counter() - ctx.t_start
    q = None
    try:
        t0 = time.perf_counter()
        logs = os.path.join(ctx.run_dir, "logs")
        fx = Fixture(logs, ctx.seed, per_log)
        fixture_s = time.perf_counter() - t0

        # set-up: the ingest query up to its first committed batch, then
        # app creation three times (the median counts) and one warm-up
        t0 = time.perf_counter()
        for log in LOGS:
            fx.publish(log, INITIAL)
        table = os.path.join(ctx.run_dir, "table")
        q = start_ingest(
            spark,
            logs,
            table,
            os.path.join(ctx.run_dir, "ckpt"),
            available_now=False,
            max_per_trigger=MAX_PER_TRIGGER,
            processing_time="0 seconds",
        )
        target = {log: INITIAL for log in LOGS}
        deadline = ctx.t_start + DEADLINE_S
        if not wait_until(lambda: committed(q) == target, deadline):
            raise RuntimeError("ingest: first batch never committed")
        ingest_start_s = time.perf_counter() - t0
        creates = []
        for _ in range(3):
            t1 = time.perf_counter()
            app = create_app(spark, table)
            creates.append(time.perf_counter() - t1)
        t1 = time.perf_counter()
        warm = app.test_client()
        for p in ("/domain/warmup.invalid", "/stream?poll=0&max_polls=1"):
            if warm.get(p).status_code != 200:
                raise RuntimeError(f"warm-up {p} failed")
        setup_s = session_s + ingest_start_s + harness.median(creates)
        setup_s += time.perf_counter() - t1

        sc = spark.sparkContext
        progress: dict = {}
        # traced runs read the query's and the /stream reader's Spark jobs
        # after each phase, before the status store can drop them
        status = harness.StatusReader(spark) if ctx.trace else None
        job_reads: dict[str, list] = {str(q.runId): [], "stream": []}
        read_ids: set = set()

        def read_jobs():
            if status is not None:
                t = time.perf_counter()
                for group, parts in job_reads.items():
                    parts.append(status.group(group, skip=read_ids))
                tracer.overhead_s += time.perf_counter() - t

        with tracer.span("ingest_fresh", "workload") as wl:
            wl_id = wl["id"] if wl else None
            reader = StreamReader(app, sc, "stream" if ctx.trace else None)
            runner = Runner(spark, app, tracer, wl_id)
            reader.start()
            with tracer.span("fresh", "phase", parent=wl_id) as ph:
                runner.phase_span = ph["id"] if ph else None
                late = fresh_phase(fx, reader, runner, rng, fresh_s)
            progress_events(q, progress)
            read_jobs()
            # /stream catches up on everything published, then lets go
            want = fx.expected_rows()
            reader.want = want
            reader.join(timeout=max(0.0, deadline - time.perf_counter()))
            caught_up = not reader.is_alive()
            # the backlog lands on an idle query: everything published is
            # committed and a trigger with no input has run since
            done = dict(fx.size)
            idle = wait_until(
                lambda: committed(q) == done and q.lastProgress.numInputRows == 0,
                deadline,
            )
            with tracer.span("burst", "phase", parent=wl_id):
                t_burst = time.perf_counter()
                for log in LOGS:
                    fx.publish(log, per_log)
                target = {log: per_log for log in LOGS}
                drained = wait_until(lambda: committed(q) == target, deadline)
                burst_s = time.perf_counter() - t_burst
                progress_events(q, progress)
            last_batch = max(progress) if progress else -1
            # stop only after an idle trigger, so no write is aborted
            wait_until(
                lambda: q.lastProgress.numInputRows == 0
                and q.lastProgress.batchId >= last_batch,
                deadline,
                0.05,
            )
            progress_events(q, progress)
            q.stop()
            q = None
            read_jobs()

        # --- checks ---------------------------------------------------
        expected = fx.expected_rows()
        sink = sink_rows(table)
        delivered = [(f, d) for f, d, _ in reader.rows]
        if ctx.tamper:  # one wrong answer of each kind the checks must catch
            runner.records = [_tampered(r) for r in runner.records]
            delivered.append(delivered[0])  # a row sent twice
            sink.pop(next(iter(sink)))  # a row lost
            sink[next(iter(sink))] += 1  # a row written twice
        failed = (
            len(expected - set(sink))  # lost by the sink
            + sum(c - 1 for c in sink.values())  # written twice
            + len(set(sink) - expected)  # never published
            + len(delivered) - len(set(delivered))  # sent twice on /stream
            + len(want - set(delivered))  # never sent on /stream
            + len(set(delivered) - want)  # sent, never published
            + sum(not domain_ok(r) for r in runner.records)
        )
        if reader.error is not None or not (caught_up and idle and drained):
            failed += 1
        attempted = len(expected) + len(runner.records) + 1

        fresh = [
            (t - fx.published[f]) * 1000
            for f, _d, t in reader.rows
            if fx.published.get(f, 0.0) >= fx.fresh_start
        ]
        e2e = {
            "setup_s": setup_s,
            "p50_ms": harness.median(fresh),
            "mean_ms": sum(fresh) / len(fresh),
            "p90_ms": harness.pct(fresh, 0.9),
            "peak_per_s": BURST * len(LOGS) / burst_s,
        }
        layer = {
            "mem.peak_rss_mb": harness.peak_rss_mb(),
            "streaming.burst_lps": e2e["peak_per_s"],
        }
        if ctx.trace:
            layer.update(
                trace_layer(tracer, wl_id, progress, job_reads, runner, table, len(sink), late)
            )
            tracer.write("ingest_fresh", ctx.seed)
        return {
            "attempted": attempted,
            "failed": failed,
            "e2e": e2e,
            "layer": layer,
            "notes": {
                "fixture_s": round(fixture_s, 2),
                "session_s": round(session_s, 2),
                "ingest_start_s": round(ingest_start_s, 2),
                "create_app_s": [round(c, 2) for c in creates],
                "burst_s": round(burst_s, 2),
                "leaves_per_log": per_log,
                "rows_expected": len(expected),
                "fresh_samples": len(fresh),
                "domain_reads": len(runner.records),
            },
        }
    finally:
        if q is not None:
            q.stop()
        harness.stop_spark(spark, ctx.run_dir)


def fresh_phase(fx, reader, runner, rng, seconds: float) -> list[float]:
    """Publish at PUBLISH_RATE round-robin over the logs while a second
    client sends open-loop /domain reads for names /stream has delivered.
    Returns how late the read generator ran (seconds)."""
    late: list[float] = []

    def read(_i):
        rows = reader.rows[: len(reader.rows)]
        if not rows:
            return None
        fp, name, _t = rows[int(rng.integers(len(rows)))]
        return f"/domain/{name}", {"expect": fp}

    reads = threading.Thread(
        target=lambda: late.extend(open_loop(runner, read, READ_RATE, seconds))
    )
    fx.fresh_start = time.perf_counter()
    reads.start()
    sizes = dict(fx.size)
    for i in range(int(PUBLISH_RATE * seconds)):
        due = fx.fresh_start + i / PUBLISH_RATE
        now = time.perf_counter()
        if due > now:
            time.sleep(due - now)
        log = LOGS[i % len(LOGS)]
        sizes[log] += 1
        fx.publish(log, sizes[log])
    reads.join()
    return late


def domain_ok(rec: dict) -> bool:
    """The /domain answer holds the row /stream served for that name."""
    if rec["status"] != 200:
        return False
    name = rec["path"].rsplit("/", 1)[1]
    return any(r[1] == name and r[3] == rec["expect"] for r in json.loads(rec["body"]))


def _tampered(rec: dict) -> dict:
    """The same response with the served fingerprint changed."""
    rows = json.loads(rec["body"])
    for r in rows:
        r[3] = "0" * 64
    return {**rec, "body": json.dumps(rows).encode()}


def sink_rows(table: str) -> dict[tuple[str, str], int]:
    """(fingerprint, domain) -> count over every parquet file the sink
    wrote, read with DuckDB."""
    import duckdb

    con = duckdb.connect()
    glob = os.path.join(table, "*", "*.parquet").replace("'", "''")
    rows = con.execute(
        f"SELECT fingerprint, domain, count(*) FROM read_parquet('{glob}') "
        "GROUP BY ALL"
    ).fetchall()
    con.close()
    return {(f, d): c for f, d, c in rows}


def trace_layer(tracer, wl_id, progress: dict, job_reads: dict, runner, table, rows, late) -> dict:
    """Per-layer metrics of a traced run; trigger spans from the progress
    events hang off the workload span."""
    data = [p for p in progress.values() if p.numInputRows > 0]
    dur = lambda p, k: float(p.durationMs.get(k, 0))  # noqa: E731
    for p in progress.values():
        start = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        t0 = harness.epoch_to_perf(start.timestamp())
        tracer.add(
            f"batch {p.batchId}", "streaming.trigger", t0,
            t0 + dur(p, "triggerExecution") / 1000.0, wl_id,
            rows=p.numInputRows,
        )
    stream = harness.merge_stats(job_reads.pop("stream"))
    ingest = harness.merge_stats([p for parts in job_reads.values() for p in parts])
    files = sizes = 0
    for root, _dirs, names in os.walk(table):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                sizes += os.path.getsize(os.path.join(root, n))
    stream_ms = [hi - lo for lo, hi in stream["intervals"]]
    out = {
        "streaming.trigger_p50_ms": harness.median([dur(p, "triggerExecution") for p in data]),
        "streaming.addbatch_p50_ms": harness.median([dur(p, "addBatch") for p in data]),
        "streaming.fixed_p50_ms": harness.median(
            [dur(p, "triggerExecution") - dur(p, "addBatch") for p in data]
        ),
        "streaming.rows_per_trigger": sum(p.numInputRows for p in data) / max(1, len(data)),
        "streaming.state_rows": max(
            (s.numRowsTotal for p in progress.values() for s in p.stateOperators),
            default=0,
        ),
        "streaming.executor_run_s": ingest["executor_run_ms"] / 1000.0,
        "sink.files": files,
        "sink.bytes_per_row": sizes / max(1, rows),
        "serving.stream_poll_p50_ms": harness.median(stream_ms),
        "serving.gen_late_p90_ms": harness.pct(late, 0.9) * 1000 if late else 0.0,
        "serving.domain.p50_ms": harness.median(
            [(r["end"] - r["start"]) * 1000 for r in runner.records]
        ),
        "trace.overhead_s": tracer.overhead_s,
    }
    if runner.records:
        out.update(per_request(runner.records))
    out.update(harness.spark_totals([ingest, stream] + [r["spark"] for r in runner.records]))
    return out
