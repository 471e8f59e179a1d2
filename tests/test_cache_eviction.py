"""Concurrent eviction of the same stale cache key.

The engine builds independent artifacts on thread pools, so two callers
can both list a dead application's entry as stale and both evict it.
The unlocked caches below are swapped for a dict that holds every
caller at its first scan of the keys until all callers have scanned,
so both evict the same key; the second eviction must be a no-op, not a
KeyError. The artifact store evicts under its lock, so its callers
just arrive together.
"""

from __future__ import annotations

import threading
from types import SimpleNamespace
from unittest.mock import MagicMock

from pyspark.sql import DataFrame

from multichannel_commerce_data_pipeline_spark import artifacts, tables
from multichannel_commerce_data_pipeline_spark.operators import dedup

CALLERS = 2


class _RacingDict(dict):
    """A dict whose first iteration in each thread waits at a barrier
    for the other callers' first iteration."""

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self._barrier = threading.Barrier(CALLERS)
        self._seen = threading.local()

    def __iter__(self):
        keys = list(super().__iter__())
        if not getattr(self._seen, "done", False):
            self._seen.done = True
            self._barrier.wait(timeout=30)
        return iter(keys)


def _race(fn) -> list[Exception]:
    errors: list[Exception] = []

    def call() -> None:
        try:
            fn()
        except Exception as e:  # collected, asserted by the caller
            errors.append(e)

    threads = [threading.Thread(target=call) for _ in range(CALLERS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    return errors


def test_artifact_concurrent_eviction(monkeypatch):
    """The artifact store evicts under its own lock, so two callers that
    both find a dead application's entry cannot both pop it; the race
    here is the two callers arriving together."""
    fake = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="live"))
    dead_frame = MagicMock(spec=DataFrame)
    barrier = threading.Barrier(CALLERS)

    def index(spark, sf_dir):
        return "new"

    stale = ("dead", index, ("sf",))
    store = {stale: ("stale artifact", dead_frame)}
    monkeypatch.setattr(artifacts, "_STORE", store)
    memo = artifacts.artifact(index)

    def call() -> None:
        barrier.wait(timeout=30)
        memo(fake, "sf")

    errors = _race(call)
    assert errors == []
    assert dict(store) == {("live", index, ("sf",)): "new"}
    dead_frame.unpersist.assert_called_once_with()


def test_load_concurrent_eviction(spark, sf_dir, monkeypatch):
    stale = ("dead-app", id(spark), sf_dir, "nation")
    cache = _RacingDict({stale: (None, None)})
    monkeypatch.setattr(tables, "_LOAD_CACHE", cache)
    errors = _race(lambda: tables.load(spark, sf_dir, "nation"))
    assert errors == []
    assert stale not in cache
    assert [k[0] for k in cache.keys()] == [spark.sparkContext.applicationId]


def test_boilerplate_persist_concurrent_eviction(spark, monkeypatch):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc long, text string",
    )
    released = []
    stale = ("dead-app", 0, "doc", "text", 10)
    cache = _RacingDict({stale: SimpleNamespace(unpersist=lambda: released.append(1))})
    monkeypatch.setattr(dedup, "_BOILERPLATE_PERSISTED", cache)
    errors = _race(
        lambda: dedup.boilerplate_lines(df, "doc", "text", persist=True).collect()
    )
    try:
        assert errors == []
        assert stale not in cache
        assert released == [1]
    finally:
        for frame in cache.values():
            frame.unpersist()
