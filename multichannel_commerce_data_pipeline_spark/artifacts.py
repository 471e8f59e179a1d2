"""One store for the engine's per-corpus artifacts: persisted indexes,
fitted models, collected constants, published layout scans.

``@artifact`` memoizes ``fn(spark, *args)`` under
``(spark.sparkContext.applicationId, fn, args)``. The artifacts are
built once per corpus and served to every consumer, the way a
warehouse keeps cached tables in one managed store instead of caching
per query.

- Keyed by the application as well as the arguments: a persisted
  DataFrame is bound to the SparkContext that built it, so after a
  stop/recreate in the same process the new application rebuilds
  instead of being handed a frame on a dead context.
- Single-flight: one build per key at a time, however many threads ask
  (the curation and warehouse fits fan out through ``concurrently``).
  Builds of different keys run concurrently.
- A build that raises stores nothing; the next call builds again.
- Storing an entry evicts the entries of other applications for the
  same ``(fn, args)`` and unpersists their DataFrame members (best
  effort: a dead session has nothing to free, but a live concurrent
  one would otherwise keep its blocks until it exits).

Arguments after ``spark`` are part of the key, so they must be
hashable and must identify the corpus (an sf dir, a published path) —
never a DataFrame.

``concurrently(spark, *thunks)`` is the engine's one fan-out: it runs
independent driver-blocking jobs (artifact builds, eager checkpoints,
writes) on threads so one job's stage tail back-fills the cores the
other leaves idle. Each thunk runs under the caller's Spark local
properties (``pyspark.inheritable_thread_target``): a plain pool
thread starts with none, so its jobs would drop the caller's job
group, job description and scheduler pool.
"""

from __future__ import annotations

import functools
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame

_LOCK = threading.Lock()
# (applicationId, fn, args) -> built value
_STORE: dict[tuple, object] = {}
# (applicationId, fn, args) -> the lock its builders take; dropped once
# the value is stored, so later callers never touch it
_BUILDING: dict[tuple, threading.Lock] = {}


def _release(value) -> None:
    members = value if isinstance(value, (tuple, list)) else (value,)
    for member in members:
        if isinstance(member, DataFrame):
            try:
                member.unpersist()
            except Exception:
                pass  # dead session: nothing to free


def artifact(fn):
    """Memoize ``fn(spark, *args)`` in the store (see the module
    docstring)."""

    @functools.wraps(fn)
    def wrapper(spark, *args):
        key = (spark.sparkContext.applicationId, fn, args)
        with _LOCK:
            if key in _STORE:
                return _STORE[key]
            build_lock = _BUILDING.setdefault(key, threading.Lock())
        with build_lock:
            with _LOCK:
                if key in _STORE:
                    return _STORE[key]
            value = fn(spark, *args)
            with _LOCK:
                stale = [k for k in _STORE if k[1:] == key[1:]]
                evicted = [_STORE.pop(k) for k in stale]
                _STORE[key] = value
                _BUILDING.pop(key, None)
        for old in evicted:
            _release(old)
        return value

    return wrapper


def concurrently(spark, *thunks) -> list:
    """Run the thunks on one thread each, under the caller's job group,
    job description and scheduler pool, and return their results in
    order. Every thunk finishes before any error is raised (the first
    in argument order); a single thunk runs inline."""
    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(thunk))
            for thunk in thunks
        ]
    return [f.result() for f in futures]
