"""Data-quality metrics (T7) — the reference declares
``data-quality-alerts`` / ``pipeline-metrics`` Kafka topics but never
produces to them (docker-compose.yml:163-168), and instead logs row
counts with extra ``df.count()`` actions that re-execute the whole plan
(bronze_to_silver_all_sources.py:30,96 — the ≥3×-redundant-work
anti-pattern, SURVEY §4.1).

``df.observe`` fixes both: named metric expressions are accumulated
DURING the one real action — zero additional scans — and surface on the
driver (batch: Observation handle; streaming: observedMetrics in each
micro-batch's progress event, the natural payload for a metrics topic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

METRIC_NAME = "dq"


def _metric_exprs(not_null_cols: list[str], ts_col: str | None):
    exprs = [F.count(F.lit(1)).alias("rows")]
    for c in not_null_cols:
        exprs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"))
    if ts_col:
        exprs.append(F.max(ts_col).alias("high_watermark"))
    return exprs


def observe_batch(
    df: DataFrame, not_null_cols: list[str], ts_col: str | None = None
) -> tuple[DataFrame, Observation]:
    """Attach DQ metrics to a batch frame. Read ``observation.get``
    AFTER an action has run the frame; rows/null-counts/high-watermark
    cost nothing beyond the action itself."""
    obs = Observation()
    return df.observe(obs, *_metric_exprs(not_null_cols, ts_col)), obs


def observe_stream(df: DataFrame, not_null_cols: list[str]) -> DataFrame:
    """Attach the row and null counts (no high-watermark) to a
    streaming frame under the name ``dq``; every micro-batch's progress event then carries them
    (query.lastProgress["observedMetrics"]["dq"]) — publish that dict
    to a metrics topic to get the reference's declared T7 surface."""
    return df.observe(METRIC_NAME, *_metric_exprs(not_null_cols, None))


def alerts(metrics: dict) -> list[str]:
    """Evaluate a metrics dict into data-quality alert strings — the
    payload the reference's `data-quality-alerts` topic was meant to
    carry. Any null in a not-null column alerts."""
    out = []
    rows = metrics.get("rows", 0) or 0
    for key, val in metrics.items():
        if key.startswith("nulls_") and rows:
            frac = (val or 0) / rows
            if frac > 0.0:
                out.append(
                    f"column {key[6:]}: null fraction {frac:.4f} exceeds 0.0000"
                )
    if rows == 0:
        out.append("empty batch")
    return out
