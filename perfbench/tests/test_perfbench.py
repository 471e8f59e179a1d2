"""Tests of the benchmark's own pieces: the tail-percentile rule, the
/proc reader and the event-log parser.

  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import eventlog, procfs, stats  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SMALL_LOG = os.path.join(DATA, "eventlog_small.json")


# -- tail percentile ---------------------------------------------------


def test_percentile_is_the_plain_sample_percentile():
    xs = [float(i) for i in range(101)]
    assert stats.percentile(xs, 90) == 90.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert stats.percentile([4.0], 90) == 4.0 and stats.percentile([], 90) == 0.0
    assert stats.median([3.0, 1.0, 2.0]) == 2.0 and stats.median([]) == 0.0


def test_tail_percentile_rule():
    assert stats.tail_pct(200) == 90  # 20 samples beyond p90
    assert stats.tail_pct(50) == 80  # 10 beyond p80
    assert stats.tail_pct(27) == 62  # 10.3 beyond p62, 9.9 beyond p63
    assert stats.tail_pct(15) == 50  # too few: the median
    assert stats.tail([]) == (0.0, 0)


def test_tail_is_the_mean_beyond_the_tail_percentile():
    # p62 of 0..26 is 16.12: the ten calls 17..26 are beyond it
    assert stats.tail([float(i) for i in range(27)]) == (21.5, 62)
    # six calls: the three above the median
    assert stats.tail([1.0, 2.0, 3.0, 10.0, 20.0, 30.0]) == (20.0, 50)
    assert stats.tail([4.0]) == (4.0, 50)


def test_tail_averages_at_least_ten_samples_beyond_it():
    for n in range(1, 300):
        xs = [float(i * i) for i in range(n)]
        value, pct = stats.tail(xs)
        assert value >= stats.median(xs)
        if pct > 50:
            assert sum(x > stats.percentile(xs, pct) for x in xs) >= stats.MIN_BEYOND


def test_interquartile_mean_ignores_the_gap_between_clusters():
    assert stats.iqm([1.0, 2.0, 3.0, 4.0, 100.0, 200.0, 300.0, 400.0]) == pytest.approx((3 + 4 + 100 + 200) / 4)
    assert stats.iqm([5.0, 1.0, 3.0]) == 3.0 and stats.iqm([]) == 0.0
    # 13 fast calls and 14 slow: the median is a slow call, and one call
    # crossing the gap would make it a fast one; the mean moves by a
    # fifteenth of the gap
    fast, slow = [0.4] * 13, [0.6] * 14
    assert stats.median(fast + slow) == 0.6 and stats.median(fast + [0.4] + slow[1:]) == 0.4
    shift = stats.iqm(fast + slow) - stats.iqm(fast + [0.4] + slow[1:])
    assert shift == pytest.approx(0.2 / 15)


# -- /proc reader -------------------------------------------------------


def test_parse_stat_handles_spaces_in_comm():
    line = (
        "4242 (my (odd) proc) S 1 4242 4242 0 -1 4194304 100 0 0 0 "
        "250 50 7 3 20 0 1 0 100 123456 300 18446744073709551615"
    )
    st = procfs.parse_stat(line)
    assert st["ppid"] == 1 and st["pgid"] == 4242 and st["state"] == "S"
    assert st["cpu_ticks"] == 250 + 50 + 7 + 3
    assert st["rss_bytes"] == 300 * procfs.PAGE


def test_descendants_follow_ppid_links():
    snap = {
        1: {"ppid": 0},
        10: {"ppid": 1},
        11: {"ppid": 10},
        12: {"ppid": 11},
        20: {"ppid": 1},
    }
    assert procfs.descendants(10, snap) == {10, 11, 12}
    assert procfs.descendants(99, snap) == set()


def test_tree_usage_counts_a_busy_child():
    code = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.6: pass\ntime.sleep(30)"
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.monotonic() + 20
        usage = procfs.tree_usage(os.getpid())
        while usage["cpu_s"] < 0.5 and time.monotonic() < deadline:
            time.sleep(0.1)
            usage = procfs.tree_usage(os.getpid())
        assert usage["n_procs"] >= 2
        assert usage["cpu_s"] >= 0.5
    finally:
        child.kill()
        child.wait(timeout=10)


def test_peak_memory_splits_the_tree():
    code = "import sys, time; print('ready', flush=True); time.sleep(30)"
    child = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE)
    try:
        assert child.stdout.readline() == b"ready\n"  # started up
        alone = procfs.peak_memory_mb(child.pid)
        both = procfs.peak_memory_mb(os.getpid())
        assert alone["driver"] > 1 and alone["jvm"] == alone["workers"] == 0
        # the child is neither the root nor a Python worker
        assert both["jvm"] == pytest.approx(alone["driver"], rel=0.5)
        assert both["total"] == both["driver"] + both["jvm"] + both["workers"]
        assert procfs.status_kb(os.getpid(), "VmHWM") >= procfs.status_kb(os.getpid(), "VmRSS")
    finally:
        child.kill()
        child.wait(timeout=10)


def test_steal_share_of_the_cpu_time_wanted():
    assert procfs.steal_share((100, 10), (190, 20)) == pytest.approx(0.1)
    assert procfs.steal_share((100, 10), (100, 10)) == 0.0
    busy, steal = procfs.cpu_ticks()
    assert busy > 0 and steal >= 0


def test_cpu_ticks_reads_the_aggregate_line(tmp_path):
    (tmp_path / "stat").write_text(
        "cpu  500 7 300 9000 40 2 1 60 0 0\ncpu0 250 3 150 4500 20 1 0 30 0 0\n"
    )
    assert procfs.cpu_ticks(str(tmp_path)) == (500 + 7 + 300 + 2 + 1, 60)


def test_reset_peak_lowers_the_high_water_mark():
    code = (
        "import os, sys\n"
        "x = bytearray(64 * 2**20)\n"
        "for i in range(0, len(x), 4096): x[i] = 1\n"
        "del x\n"
        "sys.stdout.write('ready\\n'); sys.stdout.flush(); sys.stdin.read()\n"
    )
    child = subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        assert child.stdout.readline() == b"ready\n"
        before = procfs.status_kb(child.pid, "VmHWM")
        procfs.reset_peak(child.pid)
        after = procfs.status_kb(child.pid, "VmHWM")
        assert before - after > 48 * 1024
    finally:
        child.kill()
        child.wait(timeout=10)


def test_python_workers_are_recognised():
    assert procfs.is_python_worker("python3 -m pyspark.daemon")
    assert not procfs.is_python_worker("python3 perfbench/worker.py")


# -- event-log parser ---------------------------------------------------


def test_parse_small_log():
    jobs, stages = eventlog.parse(SMALL_LOG)
    assert sorted(jobs) == [0, 1]
    assert jobs[1].stage_ids == [1, 2]
    assert stages[0].tasks == 2 and stages[2].tasks == 1
    assert 1 not in stages  # skipped: job 1 reused job 0's shuffle output


def test_totals_over_both_jobs():
    jobs, stages = eventlog.parse(SMALL_LOG)
    t = eventlog.totals(list(jobs.values()), stages)
    assert (t["jobs"], t["stages"], t["tasks"], t["failed_tasks"]) == (2, 2, 3, 0)
    assert t["run_s"] == pytest.approx((205 + 209 + 104) / 1e3)
    assert t["cpu_s"] == pytest.approx((62176410 + 157038645 + 93382672) / 1e9)
    assert t["gc_s"] == pytest.approx((17 + 17 + 9) / 1e3)
    assert t["shuffle_write_mb"] == pytest.approx((197 + 200) / 2**20)
    assert t["shuffle_read_mb"] == pytest.approx(397 / 2**20)
    assert t["input_rows"] == 1000
    # stage 0's two tasks took 296 ms and 320 ms
    assert t["task_skew"] == pytest.approx(320 / 308)


def test_jobs_are_charged_by_submission_window():
    jobs, _ = eventlog.parse(SMALL_LOG)
    first = 1792175559.865
    picked = eventlog.jobs_in(jobs, [(first - 0.1, first + 0.1)])
    assert [j.job_id for j in picked] == [0]
    assert eventlog.jobs_in(jobs, [(0.0, 1.0)]) == []


def test_failed_task_and_torn_line(tmp_path):
    lines = open(SMALL_LOG).read().splitlines()
    failed = json.loads(next(x for x in lines if "TaskEnd" in x))
    failed["Task Info"]["Failed"] = True
    log = tmp_path / "events"
    log.write_text("\n".join(lines + [json.dumps(failed), '{"Event": "Spark']) + "\n")
    jobs, stages = eventlog.parse(str(log))
    t = eventlog.totals(list(jobs.values()), stages)
    assert t["tasks"] == 4 and t["failed_tasks"] == 1


def test_rolling_log_parts_are_read_in_order(tmp_path):
    lines = open(SMALL_LOG).read().splitlines()
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_2_local-1").write_text("\n".join(lines[4:]) + "\n")
    (d / "events_1_local-1").write_text("\n".join(lines[:4]) + "\n")
    (d / "appstatus_local-1").write_text("")
    assert [os.path.basename(p) for p in eventlog.event_files(str(d))] == [
        "events_1_local-1",
        "events_2_local-1",
    ]
    assert eventlog.find_log(str(tmp_path)) == str(d)
    jobs, stages = eventlog.parse(str(d))
    assert sorted(jobs) == [0, 1] and stages[0].tasks == 2


# -- metric names match BENCHMARK.json -----------------------------------


def _declared():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return (
        {m["name"]: m["unit"] for m in bench["end_to_end"]},
        {m["name"]: m["unit"] for m in bench["per_layer"]},
    )


def _calls():
    from perfbench.worker import Call

    return [
        Call("exec_daily_kpi", "flagship", build_s=0.1, exec_s=0.5, wall_s=1.2, steal=0.5,
             build_win=(1.0, 1.1), exec_win=(1.1, 1.6)),
        Call("union_channels", "sets", build_s=0.05, exec_s=0.1, wall_s=0.15,
             build_win=(2.0, 2.05), exec_win=(2.05, 2.15)),
    ]


def test_end_to_end_metrics_match_the_declaration():
    from perfbench.worker import end_to_end

    metrics, _, _ = end_to_end(_calls(), 7.0, wall=0.8, cpu_s=1.6, peak_mb=900.0, cold=False)
    declared, _ = _declared()
    assert {k: u for k, (_, u) in metrics.items()} == declared
    assert metrics["setup_s"][0] == 7.0
    assert metrics["job_s"][0] == pytest.approx(0.75)
    assert metrics["cpu_s_per_query"][0] == pytest.approx(0.8)
    assert all(v > 0 for v, _ in metrics.values())
    raw, _, _ = end_to_end(_calls(), 7.5, wall=1.4, cpu_s=1.6, peak_mb=900.0, cold=False, raw=True)
    assert raw["job_s"][0] == pytest.approx(1.35)
    assert raw["queries_per_s"][0] == pytest.approx(2 / 1.4)


def test_layer_metrics_match_the_declaration(tmp_path):
    from perfbench.worker import layers

    cfg = {"eventlog_dir": str(tmp_path), "stream_dir": str(tmp_path)}
    boot = {"start_s": 4.0, "registry_s": 0.5, "tables_s": 1.0, "total_s": 5.5}
    usage = {"cpu_s": 0.0, "python_cpu_s": 0.0}
    peak = {"driver": 100.0, "jvm": 800.0, "workers": 50.0, "total": 950.0}
    out = layers(cfg, _calls(), [], [], False, boot, usage, usage, peak, 0.0, 0.0, 2)
    _, declared = _declared()
    assert {k: u for k, (_, u) in out["layer_metrics"].items()} == declared

