"""Concurrent callers of the engine's two memos.

The engine fans independent builds out to threads, so two callers can
both find a dead application's artifact and both evict it: the store
evicts under its lock, so its callers just arrive together. load()
keeps its frames on the session; many threads racing the first load
of one table must all get a frame of that session, and one frame wins.
"""

from __future__ import annotations

import os
import sys
import threading
from types import SimpleNamespace
from unittest.mock import MagicMock

from pyspark.sql import DataFrame

from multichannel_commerce_data_pipeline_spark import artifacts, tables

CALLERS = 2


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


def test_load_concurrent_eviction(spark, sf_dir):
    """More threads than cores, switching every microsecond, all make
    the first load() of one table on a fresh session at once: none
    fails, every frame belongs to that session, and every caller,
    racing or later, is served the one frame stored first."""
    session = spark.newSession()
    n = 4 * (os.cpu_count() or 1)
    barrier = threading.Barrier(n)
    results: list = [None] * n
    errors: list[Exception] = []

    def call(i: int) -> None:
        try:
            barrier.wait(timeout=30)
            results[i] = tables.load(session, sf_dir, "nation")
        except Exception as e:  # collected, asserted below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert errors == []
    assert all(df.sparkSession is session for df in results)
    stable = tables.load(session, sf_dir, "nation")
    assert all(df is stable for df in results)
