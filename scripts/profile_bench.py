#!/usr/bin/env python
"""Optimization-round profiler (guide §1): split each headline query's
warm time into DataFrame BUILD (py4j expression construction + lazy
plan assembly) vs EXECUTE (analyze + optimize + run to the noop sink),
and count Spark jobs/stages per execution — the cheap proxy for
exchange count and scheduling overhead.

Usage: PYTHONPATH=/root/repo python scripts/profile_bench.py [out.json] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from bench import HEADLINE, prepare
    from multichannel_commerce_data_pipeline_spark.queries import load_registry
    from multichannel_commerce_data_pipeline_spark.session import get_spark

    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/profile_bench.json"
    only = sys.argv[2:]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("mcdp-profile")
    sc = spark.sparkContext
    registry = load_registry()

    prepare(spark, registry, sf_dir)

    tracker = sc.statusTracker()
    names = only or HEADLINE
    prof: dict[str, dict] = {}
    for name in names:
        sc.setJobDescription(f"profile: {name}")
        # cold rep (includes codegen compile + any one-time builds)
        t0 = time.perf_counter()
        df = registry[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        cold_build, cold_exec = t1 - t0, t2 - t1
        builds, execs = [], []
        n_jobs = n_stages = n_tasks = 0
        build_jobs = 0
        for rep in range(3):
            group = f"prof_{name}_{rep}"
            # Jobs fired DURING fn() are eager materializations
            # (localCheckpoint/persist-fill) — execution booked inside
            # the build wall-clock. Counting them separately keeps the
            # build-share metric honest: pure py4j construction is
            # build time with build_jobs == 0 (r17, verdict item #9).
            bgroup = f"profb_{name}_{rep}"
            sc.setJobGroup(bgroup, name)
            t0 = time.perf_counter()
            df = registry[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            if rep == 2:
                build_jobs = len(tracker.getJobIdsForGroup(bgroup))
            sc.setJobGroup(group, name)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
            if rep == 2:
                jids = tracker.getJobIdsForGroup(group)
                n_jobs = len(jids)
                sids = [
                    s
                    for j in jids
                    for s in (tracker.getJobInfo(j).stageIds if tracker.getJobInfo(j) else [])
                ]
                n_stages = len(sids)
                for s in sids:
                    si = tracker.getStageInfo(s)
                    if si:
                        n_tasks += si.numTasks
            sc.setJobGroup("", "")
        prof[name] = {
            "cold_build": round(cold_build, 3),
            "cold_exec": round(cold_exec, 3),
            "build": round(min(builds), 3),
            "exec": round(min(execs), 3),
            "warm": round(min(b + e for b, e in zip(builds, execs)), 3),
            "jobs": n_jobs,
            "stages": n_stages,
            "tasks": n_tasks,
            "build_jobs": build_jobs,
        }
        print(
            f"{name:40s} build {min(builds):6.3f}  exec {min(execs):6.3f}  "
            f"jobs {n_jobs:3d} stages {n_stages:3d} tasks {n_tasks:4d} "
            f"bjobs {build_jobs:2d}",
            flush=True,
        )
    totals = {
        "build_total": round(sum(p["build"] for p in prof.values()), 2),
        "exec_total": round(sum(p["exec"] for p in prof.values()), 2),
        "warm_total": round(sum(p["warm"] for p in prof.values()), 2),
    }
    print(json.dumps(totals))
    with open(out_path, "w") as f:
        json.dump({"totals": totals, "queries": prof}, f, indent=1)


if __name__ == "__main__":
    main()
