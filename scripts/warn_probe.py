#!/usr/bin/env python
"""Attribute WindowExec 'No Partition Defined' warnings to queries.

Runs every HEADLINE query once (noop sink) with a JVM-stderr marker
printed between queries, so the log4j WARN lines land between markers
and each warning maps to exactly one query. Parse the stderr of this
process afterwards:

    python scripts/warn_probe.py 2> /tmp/warn_probe.err
    python scripts/warn_probe.py --parse /tmp/warn_probe.err
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run() -> None:
    from bench import HEADLINE, prepare
    from multichannel_commerce_data_pipeline_spark.queries import load_registry
    from multichannel_commerce_data_pipeline_spark.session import (
        WINDOW_EXEC_LOGGER,
        get_spark,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("mcdp-warn-probe")
    # get_spark silences this logger; the probe counts its warnings
    jvm = spark._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        WINDOW_EXEC_LOGGER, jvm.org.apache.logging.log4j.Level.WARN
    )
    registry = load_registry()
    err = spark._jvm.System.err
    err.println("===MARKER=== setup")
    prepare(spark, registry, sf_dir)
    for name in HEADLINE:
        err.println(f"===MARKER=== {name}")
        spark.sparkContext.setJobDescription(name)
        registry[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    err.println("===MARKER=== done")


def parse(path: str) -> None:
    cur = "pre-setup"
    counts: dict[str, int] = {}
    for line in open(path, errors="replace"):
        if "===MARKER===" in line:
            cur = line.split("===MARKER===")[1].strip()
        elif "WindowExec" in line and "No Partition Defined" in line:
            counts[cur] = counts.get(cur, 0) + 1
    total = sum(counts.values())
    print(f"total single-partition WindowExec warnings: {total}")
    for k, v in sorted(counts.items(), key=lambda kv: -kv[1]):
        print(f"{v:4d}  {k}")


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--parse":
        parse(sys.argv[2])
    else:
        run()
