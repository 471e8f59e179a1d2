"""One measured run of one workload, in a fresh process.

``run.py`` starts this module with a private TMPDIR, SPARK_LOCAL_DIRS
and working directory, and passes its settings as one JSON argument.
It writes its result as JSON to the ``out`` path of those settings.

Every timed call is a query's DataFrame construction (``Query.fn``)
followed by a noop-sink write, which executes the whole plan without
collecting rows. Correctness is checked once per query against its
DuckDB oracle outside the timed region: in a warm workload first, as
part of the warm-up, in a cold one after the timed calls and after
memory is read. The oracle's work is in no metric.

Every wall-clock time in the metrics is corrected for the CPU time the
hypervisor took from the machine while it ran: a stretch of wall time
``w`` during which a share ``f`` of the CPU time wanted was stolen
counts as ``w * (1 - f)`` (``procfs.steal_share``). The uncorrected
values are in the result as ``raw_metrics``.

With ``trace`` on, the run also enables Spark's event log, attaches the
streaming ``MetricsRecorder`` and reads the codegen and query-planning
counters around every call; the per-layer metrics come from those.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import eventlog, procfs, stats  # noqa: E402

BI_WARM = (
    "exec_daily_kpi customer_rfm salted_skew_agg asof_join_latest_order "
    "cusum_changepoint window_running_sum union_channels left_join_enrich "
    "pricing_summary"
).split()
# a batch job: land the new events, read an external source, compact
# and verify a warehouse layout (an ``ensure_*`` build under
# mcdp_warehouse read back through ``parquet_memo``), then dedup, score
# and aggregate; its steps always run in this order
COLD_CURATION = (
    "stream_landing_rollup python_datasource_scan compaction_apply_reconcile "
    "minhash_lsh_dupes tfidf_top_terms pandas_udaf_weighted_avg"
).split()
# workload -> (queries, nominal seconds of one warm pass or None): a
# cold workload calls each query once, in order, in a fresh process; a
# warm one makes whole passes in seed-shuffled order after an untimed
# warm-up (the oracle check and one pass), as many as fit the run's
# seconds at the nominal pass time, so that every run takes the same
# number of samples
WORKLOADS = {
    "bi_warm": (BI_WARM, 6.5),
    "cold_curation": (COLD_CURATION, None),
}
# query modules the workloads call into (one latency metric each)
MODULES = (
    "aggregates asof_queries core dedup flagship joins pandas_surface "
    "pipeline_queries sets text time_windows windows"
).split()
WARM_COMPILE_SLACK = 1.1
PHASES = ("analysis", "optimization", "planning")


@dataclass
class Call:
    name: str
    module: str
    # steal-corrected seconds
    build_s: float = 0.0
    plan_s: float = 0.0
    exec_s: float = 0.0
    # uncorrected construction + execution, and the share stolen
    wall_s: float = 0.0
    steal: float = 0.0
    ok: bool = True
    # wall-clock windows (epoch seconds) to charge event-log jobs to
    build_win: tuple[float, float] = (0.0, 0.0)
    exec_win: tuple[float, float] = (0.0, 0.0)
    phases: dict[str, float] = field(default_factory=dict)
    compiles: int = 0
    compile_s: float = 0.0

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


def dir_bytes(path: str) -> int:
    """Bytes of the files under ``path``, or of ``path`` itself if a file."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(base, name))
            except OSError:
                pass  # removed while walking
    return total


class Spark:
    """The session plus the JVM counters a traced run reads."""

    def __init__(self, session, trace: bool) -> None:
        self.session = session
        self.trace = trace
        jvm = session._jvm
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def codegen(self) -> tuple[int, float]:
        """Whole-stage and expression compiles so far, and their seconds."""
        return (
            self._metrics.METRIC_COMPILATION_TIME().getCount(),
            self._codegen.compileTime() / 1e9,
        )


def run_call(sp: Spark, registry, data_dir: str, name: str) -> Call:
    """Construct one query and execute it into the noop sink."""
    q = registry[name]
    call = Call(name, q.fn.__module__.rsplit(".", 1)[-1])
    c0 = sp.codegen() if sp.trace else None
    ticks = procfs.cpu_ticks()
    w0, p0 = time.time(), time.perf_counter()
    try:
        df = q.fn(sp.session, data_dir)
        p1, w1 = time.perf_counter(), time.time()
        call.build_s, call.build_win = p1 - p0, (w0, w1)
        if sp.trace:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            tracked = qe.tracker().phases()
            call.phases = {
                ph: tracked.apply(ph).durationMs() / 1e3
                for ph in PHASES
                if tracked.contains(ph)
            }
            call.plan_s = time.perf_counter() - p1
        w2, p2 = time.time(), time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        call.exec_s, call.exec_win = time.perf_counter() - p2, (w2, time.time())
    except Exception:
        traceback.print_exc()
        call.ok = False
    call.steal = procfs.steal_share(ticks, procfs.cpu_ticks())
    call.wall_s = call.build_s + call.exec_s
    keep = 1 - call.steal
    call.build_s, call.plan_s, call.exec_s = (
        call.build_s * keep, call.plan_s * keep, call.exec_s * keep
    )
    if c0 is not None:
        c1 = sp.codegen()
        call.compiles, call.compile_s = c1[0] - c0[0], c1[1] - c0[1]
    return call


def check(sp: Spark, registry, data_dir: str, con, name: str) -> dict:
    """Compare one query's rows with its oracle; untimed."""
    from multichannel_commerce_data_pipeline_spark.testing import compare

    w0 = time.time()
    try:
        df = registry[name].fn(sp.session, data_dir)
        w1 = time.time()
        problems = compare(df, con, registry[name].oracle)
    except Exception as e:  # a raising query is a failed call, not a crash
        traceback.print_exc()
        w1, problems = time.time(), [f"{type(e).__name__}: {str(e)[:300]}"]
    if problems:
        print(f"perfbench: {name} failed its oracle: {problems}", file=sys.stderr)
    return {"name": name, "ok": not problems, "build_win": (w0, w1)}


def setup(app: str, data_dir: str, extra_conf: dict) -> tuple[object, object, dict]:
    """What a fresh process pays before its first query: import the
    package, launch the JVM and start the session, import the query
    registry and register the tables. Steal-corrected seconds."""
    ticks = procfs.cpu_ticks()
    t0 = time.perf_counter()
    from multichannel_commerce_data_pipeline_spark import tables
    from multichannel_commerce_data_pipeline_spark.session import get_spark

    session = get_spark(app, extra_conf=extra_conf)
    t1 = time.perf_counter()
    from multichannel_commerce_data_pipeline_spark.queries import load_registry

    registry = load_registry()
    t2 = time.perf_counter()
    tables.load_all(session, data_dir)
    t3 = time.perf_counter()
    steal = procfs.steal_share(ticks, procfs.cpu_ticks())
    keep = 1 - steal
    return session, registry, {
        "start_s": (t1 - t0) * keep,
        "registry_s": (t2 - t1) * keep,
        "tables_s": (t3 - t2) * keep,
        "total_s": (t3 - t0) * keep,
        "wall_s": t3 - t0,
        "steal": steal,
    }


def main(cfg: dict) -> dict:
    queries, pass_s = WORKLOADS[cfg["workload"]]
    cold = pass_s is None
    data_dir, trace = cfg["data_dir"], bool(cfg["trace"])
    order = random.Random(cfg["seed"])
    started = time.perf_counter()

    extra_conf = {}
    if trace:
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + cfg["eventlog_dir"],
            "spark.eventLog.compress": "false",
        }
    session, registry, boot = setup("perfbench", data_dir, extra_conf)
    sp = Spark(session, trace)
    recorder = None
    if trace:
        from multichannel_commerce_data_pipeline_spark.streaming.metrics import (
            MetricsRecorder,
        )

        recorder = MetricsRecorder(cfg["stream_dir"])
        session.streams.addListener(recorder)

    warm_up: list[Call] = []
    calls: list[Call] = []
    pass_len = len(queries)

    def shuffled() -> list[str]:
        names = list(queries)
        order.shuffle(names)
        return names

    def oracle_check() -> list[dict]:
        from multichannel_commerce_data_pipeline_spark.testing import oracle_connection

        con = oracle_connection(data_dir)
        try:
            return [check(sp, registry, data_dir, con, n) for n in shuffled()]
        finally:
            con.close()

    marks = {"setup": time.perf_counter()}
    checks: list[dict] = []
    if not cold:
        # the warm-up: the oracle check, then one noop-sink pass; the
        # timed passes' peak memory starts from what they leave resident
        checks = oracle_check()
        marks["checked"] = time.perf_counter()
        warm_up = [run_call(sp, registry, data_dir, n) for n in shuffled()]
        procfs.reset_peak(os.getpid())
        marks["warm_up"] = time.perf_counter()

    u0 = procfs.tree_usage(os.getpid())
    ticks = procfs.cpu_ticks()
    t0 = time.perf_counter()
    marks_pass = [t0]
    if cold:
        calls = [run_call(sp, registry, data_dir, n) for n in queries]
    else:
        for _ in range(max(1, round(cfg["seconds"] / pass_s))):
            calls += [run_call(sp, registry, data_dir, n) for n in shuffled()]
            marks_pass.append(time.perf_counter())
    wall = time.perf_counter() - t0
    steal = procfs.steal_share(ticks, procfs.cpu_ticks())
    u1 = procfs.tree_usage(os.getpid())
    # before a cold run's oracle check collects any rows
    peak = procfs.peak_memory_mb(os.getpid())
    marks["timed"] = time.perf_counter()
    # layouts and checkpoints the calls left in the run's private temp dir
    tmp = tempfile.gettempdir()
    disk_by_dir = {
        e: dir_bytes(os.path.join(tmp, e)) / 2**20 for e in sorted(os.listdir(tmp))
    }
    disk_mb = sum(disk_by_dir.values())
    if cold:
        checks = oracle_check()
        marks["checked"] = time.perf_counter()

    persisted_mb = 0.0
    if trace:
        for info in session.sparkContext._jsc.sc().getRDDStorageInfo():
            persisted_mb += (info.memSize() + info.diskSize()) / 2**20
        session.streams.removeListener(recorder)
    session.stop()
    marks["stopped"] = time.perf_counter()

    cpu_s = u1["cpu_s"] - u0["cpu_s"]
    metrics, tail_pct, by_query = end_to_end(
        calls, boot["total_s"], wall * (1 - steal), cpu_s, peak["total"], cold
    )
    raw_metrics, _, _ = end_to_end(
        calls, boot["wall_s"], wall, cpu_s, peak["total"], cold, raw=True
    )
    failed = sum(not c.ok for c in calls) + sum(not c["ok"] for c in checks)
    result = {
        "metrics": metrics,
        "attempted": len(calls) + len(checks),
        "failed": failed,
        "correct": failed == 0,
        "n_calls": len(calls),
        "disk_mb": disk_mb,
        "disk_mb_by_dir": disk_by_dir,
        "tail_pct": tail_pct,
        "raw_metrics": {k: v for k, (v, _) in raw_metrics.items()},
        "wall_s": wall,
        "steal": steal,
        # name, uncorrected seconds and stolen share of every timed call
        "call_s": [(c.name, c.wall_s, c.steal) for c in calls],
        "pass_s": [b - a for a, b in zip(marks_pass, marks_pass[1:])],
        "setup": boot,
        "peak_mb": peak,
        "phase_s": {
            k: marks[k] - prev
            for prev, k in zip([started, *marks.values()], marks)
        },
        "per_query": {
            n: {"n": len(v), "p50_s": stats.median(v)} for n, v in by_query.items()
        },
    }
    if trace:
        result.update(
            layers(
                cfg, calls, warm_up, checks, cold, boot, u0, u1, peak, persisted_mb,
                disk_mb, pass_len,
            )
        )
    return result


def end_to_end(
    calls: list[Call], setup_s: float, wall: float, cpu_s: float,
    peak_mb: float, cold: bool, raw: bool = False,
) -> tuple[dict, float, dict]:
    """The end-to-end metrics as ``name -> (value, unit)``, the
    percentile the tail was taken at, and latencies by query. Call
    latencies are steal-corrected unless ``raw``."""
    ok_calls = [c for c in calls if c.ok]
    by_query: dict[str, list[float]] = {}
    for c in ok_calls:
        by_query.setdefault(c.name, []).append(c.wall_s if raw else c.latency_s)
    lat = [x for v in by_query.values() for x in v]
    tail_s, tail_pct = stats.tail(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "query_p50_s": (stats.iqm(lat), "s"),
        "query_p90_s": (tail_s, "s"),
        "queries_per_s": (len(ok_calls) / wall if wall > 0 else 0.0, "1/s"),
        # a cold pass's wall time; for warm loops one pass estimated
        # from each query's mean latency
        "job_s": (
            wall if cold else sum(statistics.fmean(v) for v in by_query.values()),
            "s",
        ),
        "cpu_s_per_query": (cpu_s / max(len(calls), 1), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    return metrics, tail_pct, by_query


def layers(
    cfg, calls, warm_up, checks, cold, boot, u0, u1, peak, persisted_mb, disk_mb,
    pass_len,
) -> dict:
    """Per-layer metrics of a traced run, and its self-checks."""
    log = eventlog.find_log(cfg["eventlog_dir"])
    jobs, stage_totals = eventlog.parse(log) if log else ({}, {})
    n = max(len(calls), 1)
    per_call = lambda x: x / n  # noqa: E731

    eager_calls = []
    build_only: list[float] = []
    for c in calls:
        fired = eventlog.jobs_in(jobs, [c.build_win])
        if fired:
            eager_calls.append((c, fired))
        elif c.ok:
            build_only.append(c.build_s)
    eager = [j for _, fired in eager_calls for j in fired]
    exec_jobs = eventlog.jobs_in(jobs, [c.exec_win for c in calls])
    ex = eventlog.totals(exec_jobs, stage_totals)

    mods: dict[str, list[float]] = {}
    for c in calls:
        if c.ok:
            mods.setdefault(c.module, []).append(c.latency_s)

    rows = []
    if cfg.get("stream_dir"):
        path = os.path.join(cfg["stream_dir"], "progress.jsonl")
        if os.path.exists(path):
            with open(path) as f:
                rows = [json.loads(line) for line in f if line.strip()]
    batch_ms = [r["batch_duration_ms"] or 0 for r in rows]

    m = {
        "session.start_s": (boot["start_s"], "s"),
        "session.registry_s": (boot["registry_s"], "s"),
        "session.tables_s": (boot["tables_s"], "s"),
        "memory.driver_mb": (peak["driver"], "MB"),
        "memory.jvm_mb": (peak["jvm"], "MB"),
        "memory.python_workers_mb": (peak["workers"], "MB"),
        "queries.build_s": (stats.median(build_only), "s"),
        "queries.failed_ratio": (
            sum(not c.ok for c in calls) / n, "ratio"
        ),
        "spark.plan.analysis_s": (per_call(sum(c.phases.get("analysis", 0) for c in calls)), "s/call"),
        "spark.plan.optimization_s": (per_call(sum(c.phases.get("optimization", 0) for c in calls)), "s/call"),
        "spark.plan.planning_s": (per_call(sum(c.phases.get("planning", 0) for c in calls)), "s/call"),
        "spark.codegen.compiles": (per_call(sum(c.compiles for c in calls)), "count/call"),
        "spark.codegen.compile_s": (per_call(sum(c.compile_s for c in calls)), "s/call"),
        "tables.eager_jobs": (per_call(len(eager)), "count/call"),
        "tables.eager_s": (per_call(sum(c.build_s for c, _ in eager_calls)), "s/call"),
        "tables.memo_hit_ratio": ((len(calls) - len(eager_calls)) / n, "ratio"),
        "tables.persisted_mb": (persisted_mb, "MB"),
        "tables.disk_mb": (disk_mb, "MB"),
        "spark.exec.jobs": (per_call(ex["jobs"]), "count/call"),
        "spark.exec.stages": (per_call(ex["stages"]), "count/call"),
        "spark.exec.tasks": (per_call(ex["tasks"]), "count/call"),
        "spark.exec.cpu_s": (per_call(ex["cpu_s"]), "s/call"),
        "spark.exec.run_s": (per_call(ex["run_s"]), "s/call"),
        "spark.exec.gc_s": (per_call(ex["gc_s"]), "s/call"),
        "spark.exec.task_skew": (ex["task_skew"], "ratio"),
        "spark.exec.failed_tasks": (per_call(ex["failed_tasks"]), "count/call"),
        "spark.shuffle.write_mb": (per_call(ex["shuffle_write_mb"]), "MB/call"),
        "spark.shuffle.read_mb": (per_call(ex["shuffle_read_mb"]), "MB/call"),
        "spark.shuffle.fetch_wait_s": (per_call(ex["fetch_wait_s"]), "s/call"),
        "spark.spill_mb": (per_call(ex["spill_mb"]), "MB/call"),
        "spark.scan.input_mb": (per_call(ex["input_mb"]), "MB/call"),
        "spark.scan.rows": (per_call(ex["input_rows"]), "rows/call"),
        "operators.python_cpu_s": (
            per_call(u1["python_cpu_s"] - u0["python_cpu_s"]), "s/call"
        ),
        "streaming.batches": (per_call(len(rows)), "count/call"),
        "streaming.batch_p50_ms": (stats.median(batch_ms), "ms"),
        "streaming.batch_max_ms": (max(batch_ms, default=0), "ms"),
        "streaming.rows_in": (
            per_call(sum(r["num_input_rows"] or 0 for r in rows)), "rows/call"
        ),
    }
    for mod in MODULES:
        m[f"queries.{mod}.latency_s"] = (stats.median(mods.get(mod, [])), "s")

    passes = [calls[i : i + pass_len] for i in range(0, len(calls), pass_len)]
    ran_jobs = lambda win: bool(eventlog.jobs_in(jobs, [win]))  # noqa: E731

    # memo-backed: the first construction in the process fired jobs and
    # the second none (cold: timed call, then oracle check; warm: oracle
    # check, then noop-sink warm-up pass)
    timed = {c.name: c.build_win for c in passes[0]} if passes else {}
    checked = {c["name"]: c["build_win"] for c in checks}
    if cold:
        first, second = timed, checked
    else:
        first, second = checked, {c.name: c.build_win for c in warm_up}
    memo_backed = [
        n for n, win in first.items()
        if n in second and ran_jobs(win) and not ran_jobs(second[n])
    ]

    # the untimed warm-up leaves nothing to build in the first timed
    # pass; constructions that still run jobs in the last pass (streaming
    # drains, table writes) do that work on every call
    inherent: set[str] = set()
    first_eager: list[str] = []
    if not cold and passes:
        inherent = {c.name for c in passes[-1] if ran_jobs(c.build_win)}
        first_eager = [
            c.name for c in passes[0] if c.name not in inherent and ran_jobs(c.build_win)
        ]
    # Spark's codegen cache is a bounded LRU, so a mix of queries may
    # recompile on every pass; the first pass may not compile more than
    # the later ones do
    compiles = [sum(c.compiles for c in p) for p in passes]
    warm_ok = cold or (
        not first_eager
        and (len(compiles) < 2 or compiles[0] <= WARM_COMPILE_SLACK * max(compiles[1:]))
    )
    return {
        "layer_metrics": m,
        "memo_backed": sorted(memo_backed),
        "warm_first_pass_clean": warm_ok,
        "pass_compiles": compiles,
        "first_pass_eager": first_eager,
        "eager_every_call": sorted(inherent),
        "event_log_jobs": len(jobs),
        "calls": [
            {
                "name": c.name,
                "build_s": c.build_s,
                "plan_s": c.plan_s,
                "exec_s": c.exec_s,
                "wall_s": c.wall_s,
                "steal": c.steal,
                "compiles": c.compiles,
                "phases": c.phases,
                "ok": c.ok,
            }
            for c in calls
        ],
    }


if __name__ == "__main__":
    config = json.loads(sys.argv[1])
    out = main(config)
    with open(config["out"], "w") as f:
        json.dump(out, f)
