"""The one per-(application, dataset) store for memoized fronts and
staged inputs.

Plan modules stage expensive intermediates ("fronts") once and reuse
them across invocations: persisted or localCheckpointed DataFrames,
staged parquet/JSONL directories, and catalog tables laid out once
per dataset. Every such reuse goes through ``front``, which keys the
value by ``(applicationId, sf_dir, dataset_fingerprint(sf_dir), name,
*key)`` in one process-wide store and enforces three hygiene rules:

1. **Eviction** — keys of STOPPED sessions can never be hit again,
   but without eviction they pin the persisted DataFrame plus the
   whole dead-session object graph for the process lifetime. Every
   MISS sweeps every other application's entries out of the store
   (inserts are rare; hits pay nothing), so a long-lived process
   that cycles sessions but hits warm fronts on one family still
   frees the others.
2. **Staleness** — the key folds in a cheap dataset fingerprint (max
   parquet (mtime_ns, size) under sf_dir), so a rewrite of any table
   under sf_dir within one Spark application changes the key and the
   front is rebuilt instead of silently serving a checkpoint of the
   old data. The fingerprint is an os.scandir sweep over the handful
   of files in a dataset dir — microseconds against a build that
   scans the tables themselves.
3. **Concurrency** — the miss path takes one module-level lock and
   re-checks before building, so two concurrent callers in one
   process build a front once instead of leaking a checkpoint's
   blocks (or racing two writers into one staging dir).

``evict(name, *match)`` drops one front family (the bench's
result-front accounting); ``evict_staged`` drops everything.
``staging_dir`` names the per-application temp directories staged
fronts write to.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import threading
from typing import Callable, TypeVar

# (applicationId, sf_dir, fingerprint, name, *key) -> front value
_STORE: dict[tuple, object] = {}

# One process-wide lock for all miss paths: front builds are rare and
# heavyweight (a localCheckpoint executes the build job under the
# lock), so a single lock costs nothing. Re-entrant, because a front
# build may itself read other fronts.
_LOCK = threading.RLock()

T = TypeVar("T")


def dataset_fingerprint(sf_dir: str) -> tuple[int, int]:
    """Cheap change detector for the parquet tables under ``sf_dir``:
    (max mtime_ns, total bytes) over data files one level deep (a
    dataset dir holds either bare ``table.parquet`` files or
    ``table.parquet/part-*.parquet`` directories). Any rewrite bumps
    the mtime component; append-only growth bumps the size component.
    NOT a content hash — a byte-identical rewrite re-keys too, which
    merely costs one rebuild, never correctness."""
    newest = 0
    total = 0
    try:
        with os.scandir(sf_dir) as it:
            entries = list(it)
    except OSError:
        return (0, 0)
    for e in entries:
        try:
            if e.is_file():
                st = e.stat()
                newest = max(newest, st.st_mtime_ns)
                total += st.st_size
            elif e.is_dir():
                with os.scandir(e.path) as inner:
                    for f in inner:
                        if f.is_file():
                            st = f.stat()
                            newest = max(newest, st.st_mtime_ns)
                            total += st.st_size
        except OSError:
            continue
    return (newest, total)


def front(spark, sf_dir: str, name: str, build: Callable[[], T], *key) -> T:
    """Return the memoized ``build()`` result for ``name`` (+ ``key``)
    in this application over this dataset, building it on a miss.

    ``build`` must return the finished value — an already persisted
    or localCheckpointed DataFrame, a staged path, a tuple of table
    names. Keyed by applicationId, not id(spark): Python can reuse a
    freed object's id for a new session, which would resurrect
    checkpoints of a stopped SparkContext. The hit path is a plain
    dict get; the miss path takes the lock, re-checks, sweeps other
    applications' entries, then builds and inserts."""
    app = spark.sparkContext.applicationId
    k = (app, sf_dir, dataset_fingerprint(sf_dir), name, *key)
    value = _STORE.get(k)
    if value is not None:
        return value
    with _LOCK:
        value = _STORE.get(k)
        if value is None:
            for stale in [s for s in _STORE if s[0] != app]:
                del _STORE[stale]
            value = _STORE[k] = build()
        return value


def _drop(keys: list[tuple]) -> int:
    for k in keys:
        value = _STORE.pop(k)
        if hasattr(value, "unpersist"):
            try:
                value.unpersist()
            except Exception:
                pass  # stopped session
    return len(keys)


def evict(name: str, *match) -> int:
    """Drop (and unpersist) the fronts called ``name``. When ``match``
    elements are given, only fronts whose key contains every element
    are dropped (e.g. the ``"all"`` subset of the ``scd2`` front shared
    by two entries under distinct subset keys). Unknown names evict
    nothing (0) rather than raising, so a sweep harness can carry a
    static owner map across code versions. Returns the count."""
    with _LOCK:
        return _drop(
            [k for k in _STORE if k[3] == name and all(m in k for m in match)]
        )


def evict_staged() -> int:
    """Forget every front — the memory-pressure guard for 100+-entry
    sweeps (a front is rebuilt on next use, so this only costs
    recomputation, never correctness). DataFrame values are
    unpersisted eagerly; localCheckpoint-backed frames release their
    blocks via the ContextCleaner once the reference is dropped.
    Returns the number of fronts evicted."""
    with _LOCK:
        return _drop(list(_STORE))


def sf_slot(sf_dir: str) -> str:
    """Dataset discriminator for staged paths and catalog table names:
    a hash of the FULL sf_dir, so distinct data dirs sharing a
    basename never collide."""
    return hashlib.md5(sf_dir.encode()).hexdigest()[:10]


def staging_dir(spark, sf_dir: str, kind: str) -> str:
    """``<tmp>/pe_<kind>_<sf_slot>_<app>``: the staging directory of
    one kind of staged front. The application id keeps two concurrent
    drivers from overwriting each other's files mid-stream."""
    app = spark.sparkContext.applicationId.replace(":", "_").replace("/", "_")
    return os.path.join(tempfile.gettempdir(), f"pe_{kind}_{sf_slot(sf_dir)}_{app}")
