#!/usr/bin/env python3
"""Benchmark of the commerce analytics engine: each workload is a closed
loop with one client, run in a fresh process on ``local[2]``.

  python3 perfbench/run.py --workload bi_warm --seed 1 --seconds 20 --trace 0

Workloads (BENCHMARK.json says why each exists):

* ``bi_warm``       -- whole passes over 9 relational/BI queries in a
                       warm session, after an untimed warm-up.
* ``cold_curation`` -- a batch job in a fresh process and temp dir: a
                       streaming landing drain, a Python data source
                       scan, a warehouse compaction, then dedup, text
                       and pandas UDAF queries, each called once.

The input tables are the same in every run: perfbench/datagen.py writes
them from a fixed seed. ``--seed`` shuffles the query order of every
``bi_warm`` pass and of the oracle check. Each run gets a private
TMPDIR, SPARK_LOCAL_DIRS and working directory under ``.perfbench/`` in
the checkout, removed afterwards. One record per run is appended to
``.perfbench/records.jsonl``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen, procfs  # noqa: E402
from perfbench.worker import WORKLOADS  # noqa: E402

PACKAGE = "multichannel_commerce_data_pipeline_spark"
STATE_DIR = os.path.join(ROOT, ".perfbench")
RECORDS = os.path.join(STATE_DIR, "records.jsonl")
SF = 0.01
DATA_SEED = 42
CPUS = 2
DRIVER_MEM = "1g"
# the whole run, data generation included, ends within this
RUN_TIMEOUT_S = 165


def versions() -> dict:
    out = {"python": platform.python_version()}
    for mod in ("pyspark", "duckdb"):
        try:
            out[mod] = __import__(mod).__version__
        except ImportError:
            out[mod] = None
    return out


def git_commit() -> str | None:
    try:
        res = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return res.stdout.strip() or None


def last_untraced(workload: str, seed: int) -> dict | None:
    """The newest untraced record of ``workload`` in this checkout,
    preferring one made with the same seed."""
    if not os.path.exists(RECORDS):
        return None
    found: dict[bool, dict] = {}
    with open(RECORDS) as f:
        for line in f:
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                continue
            if rec.get("workload") == workload and not rec.get("trace") and "metrics" in rec:
                found[rec.get("seed") == seed] = rec
    return found.get(True) or found.get(False)


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's process group (driver, JVM, Python workers)
    and wait until every member has exited."""
    pgid = proc.pid
    deadline = time.monotonic() + 20
    sig = signal.SIGTERM
    while procfs.group_alive(pgid):
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        time.sleep(0.2)
    if proc.poll() is None:
        proc.wait(timeout=10)


def run_worker(cfg: dict, run_dir: str, deadline: float) -> tuple[int, dict | None]:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    work = os.path.join(run_dir, "work")
    for d in (tmp, local, work):
        os.makedirs(d)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(CPUS),
        MCDP_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        PYTHONHASHSEED="0",
        # every JVM, the launcher's too, keeps its scratch files in the run
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
        cwd=work, env=env, start_new_session=True,
        stdout=sys.stderr,  # keep stdout for the result line
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = -1
    finally:
        stop_group(proc)
    if code != 0 or not os.path.exists(cfg["out"]):
        return code or 1, None
    with open(cfg["out"]) as f:
        return 0, json.load(f)


def overhead(result: dict, ref: dict | None) -> dict | None:
    """Traced against untraced median latency, from the newest untraced
    record of the same workload."""
    if not ref:
        return None
    base = ref["metrics"]["query_p50_s"]
    return {
        "untraced_seed": ref["seed"],
        "query_p50_overhead": result["metrics"]["query_p50_s"][0] / base - 1,
        "untraced_p50_s": {n: q["p50_s"] for n, q in ref.get("per_query", {}).items()},
    }


def print_trace(result: dict, over: dict | None) -> None:
    calls = result["calls"]
    untraced = (over or {}).get("untraced_p50_s", {})
    print("per-query layer split (medians over calls, seconds):")
    print(f"  {'query':34s} {'build':>7s} {'plan':>7s} {'exec':>7s} {'b+e':>7s} {'untraced':>9s}")
    for n in sorted({c["name"] for c in calls}):
        cs = [c for c in calls if c["name"] == n and c["ok"]]
        if not cs:
            continue
        b, p, e = (statistics.median(c[k] for c in cs) for k in ("build_s", "plan_s", "exec_s"))
        u = f"{untraced[n]:9.3f}" if n in untraced else "      n/a"
        print(f"  {n:34s} {b:7.3f} {p:7.3f} {e:7.3f} {b + e:7.3f} {u}")
    if over:
        print(
            f"tracing overhead on query_p50_s: {100 * over['query_p50_overhead']:+.1f}% "
            f"(untraced run with seed {over['untraced_seed']})"
        )
    else:
        print("tracing overhead: n/a (no untraced record of this workload yet)")
    print(f"memo-backed queries (cold build fired jobs, warm none): {result['memo_backed']}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its worker and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + RUN_TIMEOUT_S

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    os.makedirs(STATE_DIR, exist_ok=True)
    run_dir = os.path.join(STATE_DIR, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data_dir = os.path.join(run_dir, "data")
        input_bytes = datagen.write(data_dir, DATA_SEED, SF)
        cfg = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "data_dir": data_dir,
            "out": os.path.join(run_dir, "result.json"),
            "eventlog_dir": os.path.join(run_dir, "eventlog"),
            "stream_dir": os.path.join(run_dir, "streaming"),
        }
        os.makedirs(cfg["eventlog_dir"])
        load_before = os.getloadavg()
        ticks_before = procfs.cpu_ticks()
        t0 = time.perf_counter()
        code, result = run_worker(cfg, run_dir, deadline)
        elapsed = time.perf_counter() - t0
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "time": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
            "load1_before": load_before[0],
            "load1_after": os.getloadavg()[0],
            "steal_s": (procfs.cpu_ticks()[1] - ticks_before[1]) / procfs.CLK_TCK,
            "nproc": os.cpu_count(),
            "spark_graft_cpus": CPUS,
            "versions": versions(),
            "commit": git_commit(),
            "sf": SF,
            "data_seed": DATA_SEED,
            "input_bytes": input_bytes,
            "elapsed_s": elapsed,
            "exit_code": code,
        }
        if result is not None:
            record.update(
                {k: v for k, v in result.items() if k not in ("metrics", "layer_metrics")}
            )
            record["metrics"] = {k: v[0] for k, v in result["metrics"].items()}
            if args.trace:
                record["layer_metrics"] = {
                    k: v[0] for k, v in result["layer_metrics"].items()
                }
                record["tracing_overhead"] = overhead(
                    result, last_untraced(args.workload, args.seed)
                )
        with open(RECORDS, "a") as f:
            f.write(json.dumps(record) + "\n")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if result is None:
        print(f"perfbench: worker failed with exit code {code}", file=sys.stderr)
        return 1
    if args.trace:
        print_trace(result, record["tracing_overhead"])
        chosen = result["layer_metrics"]
    else:
        chosen = result["metrics"]
    correct = result["correct"] and (not args.trace or result["warm_first_pass_clean"])
    print(
        f"{args.workload}: {result['n_calls']} timed calls, tail at "
        f"p{result['tail_pct']}, disk {result['disk_mb']:.1f} MB, load1 "
        f"{record['load1_before']:.2f}->{record['load1_after']:.2f}, host steal "
        f"{record['steal_s']:.1f} s"
    )
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in chosen.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
