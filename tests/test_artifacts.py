"""The artifact store (artifacts.py) with fake sessions: no JVM.

Three properties the engine's fan-outs rely on: concurrent callers
of one key share one build, a failed build leaves nothing behind, and
builds of different keys are not serialized behind each other. A
``@layout`` publishes once per source version, and its writer may
build another layout.
"""

from __future__ import annotations

import os
import sys
import tempfile
import threading
from pathlib import Path
from types import SimpleNamespace

from multichannel_commerce_data_pipeline_spark.artifacts import artifact, layout

THREADS = 8


def _session(app: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


def _run_threads(n: int, fn) -> list:
    results: list = [None] * n
    errors: list[Exception] = []

    def call(i: int) -> None:
        try:
            results[i] = fn()
        except Exception as e:  # collected, asserted by the caller
            errors.append(e)

    threads = [threading.Thread(target=call, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive()
    assert errors == []
    return results


def test_concurrent_callers_share_one_build():
    builds = []
    barrier = threading.Barrier(THREADS)

    @artifact
    def index(spark, sf_dir):
        builds.append(sf_dir)
        threading.Event().wait(0.2)  # hold the build open for the others
        return object()

    spark = _session("app-single-flight")

    def call():
        barrier.wait(timeout=10)
        return index(spark, "/sf")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        results = _run_threads(THREADS, call)
    finally:
        sys.setswitchinterval(interval)
    assert builds == ["/sf"]
    assert all(r is results[0] for r in results)


def test_failed_build_stores_nothing():
    attempts = []

    @artifact
    def model(spark, sf_dir):
        attempts.append(sf_dir)
        if len(attempts) == 1:
            raise RuntimeError("fit failed")
        return "fitted"

    spark = _session("app-failure")
    try:
        model(spark, "/sf")
    except RuntimeError:
        pass
    else:
        raise AssertionError("the first build should have raised")
    assert model(spark, "/sf") == "fitted"
    assert attempts == ["/sf", "/sf"]


def test_builds_of_different_keys_overlap():
    started = {"a": threading.Event(), "b": threading.Event()}
    saw_other = {}

    @artifact
    def fit(spark, sf_dir):
        other = "b" if sf_dir == "a" else "a"
        started[sf_dir].set()
        # a store that serialized all builds would never let the other
        # key's build start while this one is running
        saw_other[sf_dir] = started[other].wait(timeout=5)
        return sf_dir

    spark = _session("app-overlap")
    keys = ["a", "b"]
    results = _run_threads(2, lambda: fit(spark, keys.pop()))
    assert sorted(results) == ["a", "b"]
    assert saw_other == {"a": True, "b": True}


def _write_part(path: str, text: str) -> None:
    Path(path).mkdir(parents=True)
    (Path(path) / "part-0.parquet").write_text(text)


def test_layout_publishes_once_per_source_version(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    sf = tmp_path / "sf"
    sf.mkdir()
    src = sf / "events.parquet"
    src.write_bytes(b"v1")
    writes = []

    @layout("events", name="day_counts")
    def _day_counts(spark, sf_dir, path):
        writes.append(path)
        _write_part(path, sf_dir)

    spark = _session("app-layout")
    first = _day_counts(spark, str(sf))
    assert Path(first).name == "day_counts"
    assert Path(first).parent.parent == tmp_path / "tmp" / "mcdp_warehouse"
    assert _day_counts(spark, str(sf)) == first  # untouched source: reused
    assert len(writes) == 1

    st = src.stat()
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    second = _day_counts(spark, str(sf))
    assert second != first  # a new source version publishes a new dir
    assert len(writes) == 2
    assert (Path(second) / "part-0.parquet").read_text() == str(sf)
    assert _day_counts(spark, str(sf)) == second
    assert len(writes) == 2


def test_layout_writer_may_build_another_layout(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"v1")

    @layout("events", name="landing")
    def _landing(spark, sf_dir, path):
        _write_part(path, "landed")

    @layout("events", name="rewrite")
    def _rewrite(spark, sf_dir, path):
        landed = Path(_landing(spark, sf_dir)) / "part-0.parquet"
        _write_part(path, landed.read_text() + "+rewritten")

    spark = _session("app-layout-nested")
    # the outer build holds the publish lock while the inner one runs;
    # a daemon thread with a timeout turns a deadlock into a failure
    done: list[str] = []
    t = threading.Thread(
        target=lambda: done.append(_rewrite(spark, str(sf))), daemon=True
    )
    t.start()
    t.join(timeout=30)
    assert not t.is_alive()
    (rewritten,) = done
    part = Path(rewritten) / "part-0.parquet"
    assert part.read_text() == "landed+rewritten"
    assert Path(_landing(spark, str(sf))).parent == Path(rewritten).parent
