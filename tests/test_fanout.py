"""artifacts.concurrently: the engine's one fan-out.

It returns results in argument order, raises a thunk's error only once
every thunk has finished, and runs each thunk under the caller's Spark
local properties, so jobs started on its threads count toward the
caller's job group. Warm constructions that fan out over built
artifacts run no Spark job at all.
"""

from __future__ import annotations

import threading
import time

import pytest

from multichannel_commerce_data_pipeline_spark.artifacts import concurrently


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    # the status store is fed by the listener bus; let it catch up
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _query(name: str):
    from multichannel_commerce_data_pipeline_spark.queries import load_registry

    return load_registry()[name].fn


def test_concurrently_returns_results_in_order(spark):
    def after(seconds: float, value: str):
        def thunk() -> str:
            time.sleep(seconds)
            return value

        return thunk

    thunks = [after(0.2, "a"), after(0.0, "b"), after(0.1, "c")]
    assert concurrently(spark, *thunks) == ["a", "b", "c"]


def test_concurrently_raises_after_every_thunk_finished(spark):
    finished = threading.Event()

    def fail() -> None:
        raise RuntimeError("fit failed")

    def slow() -> str:
        time.sleep(0.3)
        finished.set()
        return "built"

    with pytest.raises(RuntimeError, match="fit failed"):
        concurrently(spark, fail, slow)
    assert finished.is_set()


def test_concurrently_runs_one_thunk_inline(spark):
    assert concurrently(spark, threading.get_ident) == [threading.get_ident()]


def test_fanned_out_jobs_count_in_the_callers_job_group(spark, sf_dir):
    """join_size_estimate checkpoints its two per-key histograms on
    every construction, one per fan-out thread; both jobs belong to
    the job group the caller set (a plain pool thread drops it)."""
    build = _query("join_size_estimate")
    build(spark, sf_dir)  # warm-up
    jobs = _jobs_in_group(
        spark, "fanout-join-size", lambda: build(spark, sf_dir)
    )
    assert jobs >= 2


@pytest.mark.parametrize(
    "name", ["histogram_quantile_estimate", "histogram_delta_merge"]
)
def test_warm_histogram_construction_runs_no_job(spark, sf_dir, name):
    """The stored histogram boundaries come from the state's parquet
    footers (metadata read on the driver, not a collect), and the fits
    are served from the store, so a warm construction starts no Spark
    job on any thread."""
    build = _query(name)
    build(spark, sf_dir)  # warm-up: builds the state and the fit
    jobs = _jobs_in_group(spark, f"warm-{name}", lambda: build(spark, sf_dir))
    assert jobs == 0
