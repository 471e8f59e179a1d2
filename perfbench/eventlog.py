"""Parser for Spark's JSON event log (``spark.eventLog.compress=false``).

Reads jobs, their stages and every finished task, and sums the task
metrics per job. Jobs are later charged to the benchmark call whose
time window holds their submission time.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    submit_ms: int
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    task_ms: list[int] = field(default_factory=list)

    def skew(self) -> float:
        """Slowest task over the median task, 1.0 for an even stage."""
        if not self.task_ms:
            return 1.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 1.0


def event_files(path: str) -> list[str]:
    """The event files of one log: a plain file, or the numbered parts
    of a rolling ``eventlog_v2_*`` directory in order."""
    if os.path.isfile(path):
        return [path]
    parts = glob.glob(os.path.join(path, "events_*"))

    def index(p: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0

    return sorted(parts, key=index)


def find_log(log_dir: str) -> str | None:
    """The single application log under ``log_dir`` (newest if several)."""
    entries = [os.path.join(log_dir, e) for e in os.listdir(log_dir)]
    entries = [e for e in entries if not os.path.basename(e).startswith(".")]
    return max(entries, key=os.path.getmtime) if entries else None


def parse(path: str) -> tuple[dict[int, Job], dict[int, StageTotals]]:
    """Jobs by id and per-stage task totals from one event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    for fname in event_files(path):
        with open(fname) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of an unfinished log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"], list(ev["Stage IDs"])
                    )
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages.setdefault(ev["Stage ID"], StageTotals()), ev)
    return jobs, stages


def _add_task(st: StageTotals, ev: dict) -> None:
    info = ev.get("Task Info", {})
    st.tasks += 1
    if info.get("Failed") or info.get("Killed"):
        st.failed_tasks += 1
    m = ev.get("Task Metrics")
    if not m:
        return
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    inp = m.get("Input Metrics", {})
    st.run_ms += m.get("Executor Run Time", 0)
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    st.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st.input_bytes += inp.get("Bytes Read", 0)
    st.input_rows += inp.get("Records Read", 0)
    if "Launch Time" in info and "Finish Time" in info:
        st.task_ms.append(info["Finish Time"] - info["Launch Time"])


def jobs_in(jobs: dict[int, Job], windows: list[tuple[float, float]]) -> list[Job]:
    """Jobs submitted inside any of the ``(start_s, end_s)`` wall-clock
    windows (event-log times are epoch milliseconds)."""
    spans = sorted((int(a * 1000), int(b * 1000) + 1) for a, b in windows)
    out = []
    for job in jobs.values():
        if any(a <= job.submit_ms <= b for a, b in spans):
            out.append(job)
    return out


def totals(jobs: list[Job], stages: dict[int, StageTotals]) -> dict:
    """Summed stage metrics over ``jobs``; a stage shared by two jobs
    is counted once."""
    seen: set[int] = set()
    t = {
        "jobs": len(jobs),
        "stages": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "run_s": 0.0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "fetch_wait_s": 0.0,
        "spill_mb": 0.0,
        "input_mb": 0.0,
        "input_rows": 0,
        "skews": [],
    }
    for job in jobs:
        for sid in job.stage_ids:
            st = stages.get(sid)
            if st is None or sid in seen:
                continue  # skipped stage (shuffle reuse) or already counted
            seen.add(sid)
            t["stages"] += 1
            t["tasks"] += st.tasks
            t["failed_tasks"] += st.failed_tasks
            t["run_s"] += st.run_ms / 1e3
            t["cpu_s"] += st.cpu_ns / 1e9
            t["gc_s"] += st.gc_ms / 1e3
            t["shuffle_write_mb"] += st.shuffle_write_bytes / 2**20
            t["shuffle_read_mb"] += st.shuffle_read_bytes / 2**20
            t["fetch_wait_s"] += st.fetch_wait_ms / 1e3
            t["spill_mb"] += st.spill_bytes / 2**20
            t["input_mb"] += st.input_bytes / 2**20
            t["input_rows"] += st.input_rows
            if st.tasks > 1:
                t["skews"].append(st.skew())
    skews = t.pop("skews")
    t["task_skew"] = statistics.median(skews) if skews else 1.0
    return t
