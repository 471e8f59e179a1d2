"""Unpartitioned-window audit (r17 optimization round).

A ``Window.partitionBy()`` / ``Window.orderBy(...)`` spec moves EVERY
input row to one task — a scale-killer whenever the input grows with
the corpus. The r16 verdict's top item: enumerate every such site and
either prove the input bounded or rewrite it. Result of the audit:

- 7 sites remain, all bounded by construction (rank windows over a
  ``orderBy().limit(k)`` TakeOrderedAndProject of <= 50 rows, the
  <= 8-bucket histogram-state walk, and the one-metadata-row-per-day
  compaction plan frame) and each documented at the call site;
- the 2 streaming read-latest helpers (rows grew with TRIGGER count)
  were rewritten to a map-side max + 1-row broadcast join.

These tests pin both halves: the source inventory (no new
unpartitioned window can appear without failing the allowlist) and
the plan-level boundedness proof for every timed query that executes
one (its Window must sit directly above a TakeOrderedAndProject or a
bounded-key aggregate subtree).
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from multichannel_commerce_data_pipeline_spark.queries import load_registry

PKG = Path(__file__).resolve().parents[1] / (
    "multichannel_commerce_data_pipeline_spark"
)

# module-relative path -> number of documented unpartitioned-window
# construction sites (each site carries a boundedness comment)
ALLOWLIST = {
    "queries/similarity.py": 1,  # hybrid_search_rrf: rank over limit(50)
    "queries/text.py": 3,  # corpus_top_terms/bpe_pair_counts/RAKE: rank
    #   over limit(20/50/top-k) — the TakeOrderedAndProject idiom
    "queries/time_windows.py": 1,  # event_path_topn: rank over limit(20)
    "queries/warehouse_queries.py": 2,  # compaction plan: one metadata
    #   row per calendar day; histogram walk: <= 8 bucket-state rows
}

_UNPART = re.compile(
    r"Window\.orderBy\(|W\.orderBy\(|Window\.partitionBy\(\s*\)"
)


def test_unpartitioned_window_source_inventory():
    found: dict[str, int] = {}
    for py in PKG.rglob("*.py"):
        n = len(_UNPART.findall(py.read_text()))
        if n:
            found[str(py.relative_to(PKG))] = n
    assert found == ALLOWLIST, (
        "unpartitioned-window sites changed — every new site must be "
        f"audited for boundedness and allowlisted: {found}"
    )


def _plan(spark, name, sf_dir) -> str:
    df = load_registry()[name].fn(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def _tree(plan: str) -> str:
    return plan.split("\n\n")[0]


def _unpartitioned_window_ids(plan: str) -> list[str]:
    """Window node ids whose windowspecdefinition carries no partition
    columns: the formatted detail block of a keyed window prints
    ``..., [part_cols], [order_cols ...]`` while an unpartitioned one
    prints only the order list."""
    ids = []
    for block in plan.split("\n\n"):
        m = re.match(r"\((\d+)\) Window", block)
        if not m:
            continue
        spec = block[block.index("Arguments:") :]
        # windowspecdefinition(<partition cols...,> ord ASC/DESC ...,
        # specifiedwindowframe(...)) — partitioned specs name their
        # partition attrs before the first "ASC"/"DESC"-tagged column
        inner = spec.split("windowspecdefinition(", 1)[1]
        first = inner.split(",", 1)[0].strip()
        if ("ASC" in first) or ("DESC" in first):
            ids.append(m.group(1))
    return ids


@pytest.mark.parametrize(
    "name", ["event_path_topn", "keyword_extraction"]
)
def test_rank_window_sits_on_take_ordered(spark, sf_dir, name):
    """Every unpartitioned rank window in the timed top-k queries must
    consume a TakeOrderedAndProject (bounded: <= k rows reach the one
    task), never the corpus-sized aggregate below it."""
    p = _plan(spark, name, sf_dir)
    tree = _tree(p)
    unpart = _unpartitioned_window_ids(p)
    assert unpart, f"expected a bounded rank window in {name}"
    for wid in unpart:
        m = re.search(
            rf"Window \({wid}\)\n\s*(?:[+:]-) (\w+)", tree
        )
        assert m and m.group(1) == "TakeOrderedAndProject", (
            f"{name}: Window ({wid}) input is {m and m.group(1)}, "
            "not a bounded TakeOrderedAndProject"
        )


def test_histogram_walk_window_is_state_bounded(spark, sf_dir):
    """histogram_quantile_estimate's cumulative walk runs over the
    merged <= 8-bucket histogram (grouped by the bounded bucket id),
    never over lineitem rows: the unpartitioned Window's subtree must
    aggregate by ``bucket`` before any single-partition move."""
    p = _plan(spark, "histogram_quantile_estimate", sf_dir)
    unpart = _unpartitioned_window_ids(p)
    assert unpart, "expected the bounded cumulative-walk window"
    tree = _tree(p)
    w_line = min(
        i
        for i, ln in enumerate(tree.splitlines())
        if re.search(rf"Window \({unpart[0]}\)", ln)
    )
    below = "\n".join(tree.splitlines()[w_line:])
    assert "HashAggregate" in below
    assert re.search(r"Keys \[1\]: \[bucket", p), (
        "the walk's input must be the per-bucket aggregate"
    )


def test_streaming_read_latest_has_no_window(spark, tmp_path):
    """A landing's rows grow with trigger count, so the latest-batch
    filter must be a max(__bid) aggregate joined back as a broadcast,
    never a window: neither the single-partition one (r17 rewrite) nor
    one partitioned by key. Four landed shapes: the complete-mode
    grid and profile (no key), the heavy-hitter summary (per bucket)
    and the CUSUM summary (per series)."""
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_latest,
    )

    def latest(name, cols, *keys):
        d = spark.range(4).selectExpr(*cols)
        d.write.mode("overwrite").parquet(str(tmp_path / name / "batch-0"))
        got = read_latest(spark, str(tmp_path / name), *keys)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan
        assert "__bid" not in got.columns
        return got.collect()

    grid = latest("cm", ["id AS j", "id AS bucket", "id AS cell", "id % 2 AS __bid"])
    assert sorted(r.j for r in grid) == [1, 3]

    prof = latest(
        "prof", ["id AS bin", "id % 2 AS is_ref", "id AS n", "id % 2 AS __bid"]
    )
    assert sorted(r.bin for r in prof) == [1, 3]

    # bucket 0 last emitted in batch 1, bucket 1 in batch 2: per key,
    # only its own newest batch survives
    hh = latest(
        "hh",
        ["id % 2 AS bucket", "CAST(id AS STRING) AS key", "id AS est",
         "id DIV 2 + id % 2 AS __bid"],
        "bucket",
    )
    assert sorted((r.bucket, r.key, r.est) for r in hh) == [(0, "2", 2), (1, "3", 3)]

    # series a emits in batches 0 and 1, series b only in batch 0
    cusum = latest(
        "cusum",
        ["IF(id < 3, 'a', 'b') AS series", "id AS n_days",
         "IF(id = 3, 0, id DIV 2) AS __bid"],
        "series",
    )
    assert sorted((r.series, r.n_days) for r in cusum) == [("a", 2), ("b", 3)]
