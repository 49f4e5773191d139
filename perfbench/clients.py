"""HTTP client of the benchmark: requests through the Flask test client,
recorded one by one, and an open-loop generator that sends them on a
fixed schedule."""

from __future__ import annotations

import itertools
import queue
import threading
import time

import harness


class Runner:
    """Issues requests through per-thread test clients and records them.
    With tracing on, each request runs under its own Spark job group and
    its jobs are read from the status store right after it returns."""

    def __init__(self, spark, app, tracer: harness.Tracer, phase_span):
        self.app = app
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.status = harness.StatusReader(spark) if tracer.enabled else None
        self.ids = itertools.count()
        self.local = threading.local()
        self.phase_span = phase_span
        self.records: list[dict] = []
        self.lock = threading.Lock()

    def client(self):
        c = getattr(self.local, "client", None)
        if c is None:
            c = self.local.client = self.app.test_client()
        return c

    def do(self, path: str, **extra) -> None:
        client = self.client()
        group = None
        if self.tracer.enabled:
            group = f"req-{next(self.ids)}"
            self.sc.setJobGroup(group, path)
        with self.tracer.span(path, "request", parent=self.phase_span) as op:
            start = time.perf_counter()
            with self.tracer.span("handler", "serving"):
                resp = client.get(path)
                body = resp.get_data()
            end = time.perf_counter()
        rec = {
            "path": path,
            "start": start,
            "end": end,
            "status": resp.status_code,
            "body": body,
            **extra,
        }
        if group is not None:
            t0 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["spark"] = self.status.group(group)
            harness.add_job_spans(self.tracer, rec["spark"], op["id"])
            self.tracer.overhead_s += time.perf_counter() - t0
        with self.lock:
            self.records.append(rec)


def open_loop(runner: Runner, make, rate: float, seconds: float) -> list[float]:
    """Queue ``make(i)`` -> (path, extra) or None (skip) every 1/``rate``
    seconds for ``seconds``; one worker thread sends the queued requests,
    so a slow request delays the next send but not the schedule. Returns
    how late the generator ran for each request (seconds)."""
    q: queue.Queue = queue.Queue()
    errors: list[BaseException] = []

    def worker():
        while (item := q.get()) is not None:
            try:
                runner.do(item[0], **item[1])
            except BaseException as e:  # surfaced after join
                errors.append(e)

    thread = threading.Thread(target=worker)
    thread.start()
    late = []
    t0 = time.perf_counter()
    for i in range(int(rate * seconds)):
        due = t0 + i / rate
        now = time.perf_counter()
        if due > now:
            time.sleep(due - now)
        late.append(time.perf_counter() - due)
        req = make(i)
        if req is not None:
            q.put(req)
    q.put(None)
    thread.join()
    if errors:
        raise errors[0]
    return late


def per_request(records: list[dict]) -> dict:
    """Spark work per request, from each request's own job group."""
    n = len(records)
    job_ms = sum(harness.interval_union(r["spark"]["intervals"]) for r in records)
    wall_ms = sum((r["end"] - r["start"]) * 1000 for r in records)
    return {
        "serving.jobs_per_req": sum(r["spark"]["jobs"] for r in records) / n,
        "serving.tasks_per_req": sum(r["spark"]["tasks"] for r in records) / n,
        "serving.job_ms_per_req": job_ms / n,
        "serving.driver_ms_per_req": max(0.0, wall_ms - job_ms) / n,
    }
