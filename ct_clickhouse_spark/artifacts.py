"""One registry for the derived state the package memoizes.

Policy, stated once: cache INDEX STATE, never a query's answer. An entry
is state that later queries refine — a resolved table plan or row count,
signatures, shingles, centroids, an LM table, decoded media, quantile
bounds, an on-disk snapshot — so a warm call still runs the query's own
work. The reference keeps no query-side cache either: ClickHouse keeps
only derived index state (the sparse primary index) beside the data it
was built from.

- Keying: (session, kind, key) plus the ``path_state`` of the source
  files the entry was built from (``deps``), probed BEFORE ``build``
  runs, so a write racing the build can make the entry look stale but
  never fresh. A lookup whose sources changed rebuilds. Probes are
  memoized for STATE_TTL_S per path (a directory probe is an os.walk);
  ``invalidate`` makes an in-engine write visible at once.
- Bound: ARTIFACT_CACHE_MAX entries, least recently used out first. One
  pass over all 50 query slots builds 36 (sf0.01), so it never evicts; a
  sweep over many sf dirs keeps only the latest three or so dirs' state.
- Release (see ``release_local_checkpoint``): capacity eviction only
  drops references — the registry's and, for a persisted frame, the
  cache manager's (a held frame recomputes from its lineage). Staleness
  frees the dead data: it also runs the entry's ``release``.
- On-disk artifacts live under one per-process directory
  (``scratch_dir``) that is removed at interpreter exit.
- One lock guards the bookkeeping; builds run outside it. Two threads
  missing together may both build; the first insert wins.
"""

from __future__ import annotations

import os
import tempfile
import threading
import time
from collections import OrderedDict

from pyspark.sql import DataFrame

ARTIFACT_CACHE_MAX = 128
STATE_TTL_S = 1.0

_LOCK = threading.Lock()
# (session, kind, key) -> (value, deps, state, release)
_ENTRIES: OrderedDict = OrderedDict()
# path -> (probe time, path_state)
_STATES: OrderedDict = OrderedDict()
_SCRATCH: list = []  # the per-process TemporaryDirectory, made on first use


def session_key(spark) -> str:
    """Stable id of a session: the JVM application id, never ``id(spark)``,
    which CPython recycles after GC and would alias a fresh session."""
    try:
        return spark.sparkContext.applicationId
    except Exception:  # pragma: no cover - connect-only sessions
        tag = getattr(spark, "_ct_cache_tag", None)
        if tag is None:
            import uuid

            tag = uuid.uuid4().hex
            try:
                spark._ct_cache_tag = tag
            except Exception:
                return f"uuid:{tag}"  # untaggable: never a hit, still safe
        return f"uuid:{tag}"


def path_state(path: str) -> tuple:
    """Staleness fingerprint of a local file or directory: (file count,
    total bytes, max mtime_ns), one os.stat per file. Missing paths give
    (0, 0, 0), so a later write is always a change. On an object store
    this would read the versioned-publish marker (plans/versioned.py)
    instead; the contract is the same — a token that changes iff the
    file listing changed."""
    try:
        st = os.stat(path)
    except OSError:
        return (0, 0, 0)
    if not os.path.isdir(path):
        return (1, st.st_size, st.st_mtime_ns)
    n = total = mx = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                s = os.stat(os.path.join(root, fn))
            except OSError:  # removed between listing and stat
                continue
            n += 1
            total += s.st_size
            mx = max(mx, s.st_mtime_ns)
    return (n, total, mx)


def _probe(path: str) -> tuple:
    now = time.monotonic()
    with _LOCK:
        hit = _STATES.get(path)
        if hit is not None and now - hit[0] < STATE_TTL_S:
            return hit[1]
    st = path_state(path)
    with _LOCK:
        _STATES[path] = (now, st)
        _STATES.move_to_end(path)
        while len(_STATES) > ARTIFACT_CACHE_MAX:
            _STATES.popitem(last=False)
    return st


def _drop(value) -> None:
    """Capacity eviction: unpersist persisted frames, nothing more."""
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame) and v.is_cached:
            v.unpersist()


def _free(entry) -> None:
    """Staleness: the entry's data is dead, so run its release too."""
    value, _deps, _state, release = entry
    try:
        _drop(value)
        if release is not None:
            release(value)
    except Exception:  # freeing dead data is best-effort
        pass


def get_or_build(spark, kind: str, key, build, deps=(), release=None):
    """The entry (session, ``kind``, ``key``), built by ``build()`` on a
    miss or when a path in ``deps`` changed since it was built.
    ``release(value)`` frees its data once stale (rmtree of an on-disk
    snapshot, eager free of checkpoint blocks); persisted frames in the
    value are unpersisted without it."""
    full = (session_key(spark), kind, key)
    deps = tuple(deps)
    state = tuple(_probe(p) for p in deps)
    with _LOCK:
        hit = _ENTRIES.get(full)
        if hit is not None and hit[2] == state:
            _ENTRIES.move_to_end(full)
            return hit[0]
    value = build()
    dead, evicted = [], []
    with _LOCK:
        cur = _ENTRIES.pop(full, None)
        if cur is not None and cur[2] == state:  # a concurrent build won
            dead.append((value, deps, state, release))
            value = cur[0]
            _ENTRIES[full] = cur
        else:
            if cur is not None:
                dead.append(cur)
            _ENTRIES[full] = (value, deps, state, release)
            while len(_ENTRIES) > ARTIFACT_CACHE_MAX:
                evicted.append(_ENTRIES.popitem(last=False)[1][0])
    for entry in dead:
        _free(entry)
    for v in evicted:
        _drop(v)
    return value


def invalidate(path: str) -> None:
    """An in-engine write to ``path`` landed: forget its probed state and
    free every entry built from it."""
    with _LOCK:
        _STATES.pop(path, None)
        stale = [k for k, e in _ENTRIES.items() if path in e[1]]
        dead = [_ENTRIES.pop(k) for k in stale]
    for entry in dead:
        _free(entry)


def clear() -> None:
    """Drop every entry and probed state (references only, like capacity
    eviction) — returns the process to a cold registry."""
    with _LOCK:
        values = [e[0] for e in _ENTRIES.values()]
        _ENTRIES.clear()
        _STATES.clear()
    for v in values:
        _drop(v)


def scratch_dir(prefix: str) -> str:
    """A fresh directory for an on-disk artifact, under the per-process
    root that is removed at interpreter exit (TemporaryDirectory's
    finalizer) — the one exit sweep of on-disk artifacts."""
    with _LOCK:
        if not _SCRATCH:
            _SCRATCH.append(tempfile.TemporaryDirectory(prefix="ctspark_artifacts_"))
        root = _SCRATCH[0].name
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def release_local_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint()ed frame's persisted RDD blocks eagerly.

    Dataset.unpersist only clears CacheManager entries; a localCheckpoint
    pins PERSISTED RDD BLOCKS, whose holder is the LogicalRDD's rdd —
    reachable through the analyzed plan. Falls back to GC-driven cleanup
    (ContextCleaner) when the JVM plan is unreachable (connect-only
    sessions).

    ONLY for frames whose data is KNOWN DEAD (the source path changed).
    Never a capacity-eviction release: a checkpoint's lineage is
    truncated, so a concurrently held reference to an eagerly freed
    frame fails at action time with block-not-found and CANNOT
    recompute. Capacity eviction of a checkpointed frame just drops the
    reference: the JVM's ContextCleaner unpersists the blocks once no
    live reference (including in-flight jobs, which pin the RDD through
    the DAG) can reach them."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # blocks are then freed by ContextCleaner on GC
