"""Shared pieces of the benchmark: run environment, Spark session, span
tracing, the Spark status-store reader and small statistics helpers.

Everything a run writes goes under ``<checkout>/.perfbench/``: inputs,
tables, checkpoints, Spark scratch space and trace files.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def prepare_env() -> str:
    """Point every temporary path at a per-run directory inside the
    checkout and make the package importable by Spark's Python workers.
    Must run before pyspark is imported. Returns the run directory."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return run_dir


def start_spark(run_dir: str, app_name: str):
    from ct_clickhouse_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    spark = get_spark(
        app_name=app_name,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, run_dir: str) -> None:
    """Stop the session, then the JVM it launched, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    shutil.rmtree(run_dir, ignore_errors=True)


def generate_tables(out: str, sf: float, seed: int) -> None:
    """The ten fixture tables at scale ``sf`` from the repository's seeded
    generator, scripts/gen_sf.py (its chatter goes to stderr)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(ROOT, "scripts", "gen_sf.py")
    )
    gen_sf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_sf)
    gen_sf.SEED = seed
    with contextlib.redirect_stdout(sys.stderr):  # stdout carries the result
        gen_sf.generate(out, sf)


# --- statistics -----------------------------------------------------------


def pct(xs, q: float) -> float:
    """Linear-interpolated q-quantile (0..1) of a non-empty sequence."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def peak_rss_mb() -> float:
    """Peak resident set of this driver process plus its children (the
    JVM and Python workers), from /proc: VmHWM of the live processes."""
    pids = [os.getpid()]
    seen = set()
    total_kb = 0
    while pids:
        pid = pids.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    pids.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total_kb / 1024.0


# --- span tracing ----------------------------------------------------------


class Tracer:
    """In-memory spans recorded around the harness's calls into each
    layer. A span is (id, parent, name, layer, start, end, attrs). When
    disabled every method is a no-op, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.overhead_s = 0.0  # harness time spent on trace bookkeeping

    @contextlib.contextmanager
    def span(self, name: str, layer: str, parent=None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [None])
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": parent if parent is not None else stack[-1],
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, layer: str, start: float, end: float, parent, **attrs):
        """Record a span measured elsewhere (Spark jobs, triggers)."""
        if not self.enabled:
            return
        with self._lock:
            self.spans.append(
                {
                    "id": next(self._ids),
                    "parent": parent,
                    "name": name,
                    "layer": layer,
                    "start": start,
                    "end": end,
                    "attrs": attrs,
                }
            )

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the union of its
        children's intervals clipped to it."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = interval_union(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in kids.get(s["id"], [])
            )
            out[s["layer"]] = out.get(s["layer"], 0.0) + s["end"] - s["start"] - covered
        return out

    def write(self, workload: str, seed: int) -> str | None:
        if not self.enabled:
            return None
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{workload}-seed{seed}.json")
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "self_s": self.self_times()}, f, default=str
            )
        return path


# --- Spark status store -----------------------------------------------------


def _ms(opt) -> float | None:
    """scala.Option[java.util.Date] -> epoch ms (None when empty)."""
    return float(opt.get().getTime()) if opt.isDefined() else None


def _empty_stats() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "executor_run_ms": 0.0,
        "gc_ms": 0.0,
        "shuffle_bytes": 0,
        "spill_bytes": 0,
        "intervals": [],  # (submit_ms, complete_ms), epoch, one per job
    }


class StatusReader:
    """Per-job-group Spark metrics from the application status store.
    Works with ``spark.ui.enabled=false``. Read right after each
    operation: the store keeps only the most recent jobs and stages."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def group(self, group: str, skip: set | None = None) -> dict:
        """Totals over the group's jobs; job ids in ``skip`` are left out
        and the ids read are added to it."""
        out = _empty_stats()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            if skip is not None:
                if job_id in skip:
                    continue
                skip.add(job_id)
            try:
                job = self.store.job(job_id)
            except Exception:  # evicted from the store before we read it
                continue
            out["jobs"] += 1
            sub, done = _ms(job.submissionTime()), _ms(job.completionTime())
            if sub is not None and done is not None:
                out["intervals"].append((sub, done))
            it = job.stageIds().iterator()
            while it.hasNext():
                try:
                    st = self.store.lastStageAttempt(it.next())
                except Exception:  # skipped or evicted stage
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
        return out


def merge_stats(parts: list[dict]) -> dict:
    """Sum of several ``StatusReader.group`` results."""
    out = _empty_stats()
    for p in parts:
        for k, v in p.items():
            out[k] += v
    return out


def spark_totals(stats: list[dict]) -> dict:
    return {
        "spark.tasks": sum(s["tasks"] for s in stats),
        "spark.gc_s": sum(s["gc_ms"] for s in stats) / 1000.0,
        "spark.shuffle_mb": sum(s["shuffle_bytes"] for s in stats) / 2**20,
        "spark.spill_mb": sum(s["spill_bytes"] for s in stats) / 2**20,
    }


# status-store times are epoch milliseconds; spans use perf_counter seconds
_EPOCH_OFFSET = time.time() - time.perf_counter()


def epoch_to_perf(epoch_s: float) -> float:
    return epoch_s - _EPOCH_OFFSET


def add_job_spans(tracer: Tracer, stats: dict, parent) -> None:
    """Spark job spans under the operation that launched them."""
    for lo, hi in stats["intervals"]:
        tracer.add("job", "spark.job", epoch_to_perf(lo / 1000), epoch_to_perf(hi / 1000), parent)


def interval_union(intervals) -> float:
    """Total length covered by possibly overlapping (lo, hi) intervals."""
    total = 0.0
    cur = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur is None or lo > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [lo, hi]
        else:
            cur[1] = max(cur[1], hi)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s last execution,
    from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    keys = phases.keysIterator()
    while keys.hasNext():
        total += phases.apply(keys.next()).durationMs()
    return float(total)
