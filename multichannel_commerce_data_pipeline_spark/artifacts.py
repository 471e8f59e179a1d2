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
  (the curation and warehouse fits run on thread pools). Builds of
  different keys run concurrently.
- A build that raises stores nothing; the next call builds again.
- Storing an entry evicts the entries of other applications for the
  same ``(fn, args)`` and unpersists their DataFrame members (best
  effort: a dead session has nothing to free, but a live concurrent
  one would otherwise keep its blocks until it exits).

Arguments after ``spark`` are part of the key, so they must be
hashable and must identify the corpus (an sf dir, a published path) —
never a DataFrame.
"""

from __future__ import annotations

import functools
import threading

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
    docstring). The wrapper gains ``is_built(spark, *args)``, which
    says whether a call would be served without building."""

    def key_of(spark, args) -> tuple:
        return (spark.sparkContext.applicationId, fn, args)

    @functools.wraps(fn)
    def wrapper(spark, *args):
        key = key_of(spark, args)
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

    wrapper.is_built = lambda spark, *args: key_of(spark, args) in _STORE
    return wrapper
