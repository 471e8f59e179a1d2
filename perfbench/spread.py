#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed on each workload and prints, per
metric, the median and the distance between the first and third
quartiles as a share of the median, next to the metric's bound from
BENCHMARK.json, and the same spread of the metric before the steal
correction (``raw_metrics`` in the run's record). Each run's line also
shows the CPU time the host stole from the machine during it and the
load before it, from the run's record.

  python3 perfbench/spread.py --seeds 1-10 [--workload bi_warm ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RECORDS = os.path.join(ROOT, ".perfbench", "records.jsonl")


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def last_record() -> dict:
    with open(RECORDS) as f:
        return json.loads(f.readlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", nargs="*", default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    worst = 0.0
    for wl in args.workload:
        runs, raws = [], []
        for seed in seeds(args.seeds):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)
            line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
            res = json.loads(line)
            if out.returncode or not res.get("correct"):
                print(f"{wl} seed {seed}: exit {out.returncode}, {line[:200]}")
                return 1
            runs.append({k: v["value"] for k, v in res["metrics"].items()})
            rec = last_record()
            raws.append(rec["raw_metrics"])
            print(f"{wl} seed {seed}: " + " ".join(f"{k}={v:.4g}" for k, v in runs[-1].items())
                  + f" | steal {rec['steal_s']:.1f} s, load1 {rec['load1_before']:.2f},"
                  f" {rec['elapsed_s']:.0f} s", flush=True)
        for name, bound in bounds.items():
            vals = [r[name] for r in runs]
            s = spread(vals)
            flag = "" if s < bound / 3 else "  <-- above bound/3"
            worst = max(worst, s / bound)
            print(f"  {wl:14s} {name:16s} median {statistics.median(vals):10.4g}"
                  f"  spread {100 * s:5.1f}%  (raw {100 * spread([r[name] for r in raws]):5.1f}%)"
                  f"  bound {100 * bound:.0f}%{flag}")
    print(f"largest spread as a share of its bound: {worst:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
