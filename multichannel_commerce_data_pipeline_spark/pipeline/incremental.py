"""Incremental gold maintenance — partition-scoped KPI refresh.

The reference rebuilds every gold table from scratch each 300 s cycle
(silver_to_gold.py loop; ≥3 full plan executions per table). At 100 TB
that is a full-history recompute to refresh one day. The engine's gold
is date-partitioned parquet, so a refresh is:

  1. derive the affected ``date_key`` set from the newly-arrived batch;
  2. recompute the KPI ONLY for those dates (the KPI grain includes
     date_key, so the filtered recompute is exactly those partitions'
     contents — no interaction with untouched dates);
  3. land with ``partitionOverwriteMode=dynamic`` so only the affected
     partition directories are replaced, atomically per partition.

Cost scales with the touched dates' source slice, not table history.
The date filter sits above the aggregate as a group-key predicate;
Catalyst pushes it through the aggregate to the orders scan, and on a
date-partitioned silver layout it becomes partition pruning.

tests/test_pipeline.py asserts full-rebuild ≡ stale-state + refresh.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.queries.flagship import exec_daily_kpi


def affected_date_keys(new_orders: DataFrame) -> list[str]:
    """Distinct yyyyMMdd keys of ``o_orderdate`` touched by a batch of
    new/late rows — the refresh scope. Distinct of a date column: tiny
    result, one partial-aggregated pass over the batch only."""
    return [
        r.date_key
        for r in new_orders.select(
            F.date_format("o_orderdate", "yyyyMMdd").alias("date_key")
        )
        .distinct()
        .collect()
    ]


def refresh_gold_kpi_partitions(
    spark: SparkSession,
    sf_dir: str,
    dest: str,
    date_keys: Iterable[str] | None = None,
) -> None:
    """Recompute exec_daily_kpi for ``date_keys`` (None = full rebuild)
    and land as date_key-partitioned parquet, replacing only the
    written partitions."""
    kpi = exec_daily_kpi(spark, sf_dir)
    keys = list(date_keys) if date_keys is not None else None
    if keys is not None:
        if not keys:
            return
        kpi = kpi.filter(F.col("date_key").isin(keys))
    # the writer option, not the session-wide conf: a concurrent writer
    # on the same session keeps its own overwrite mode
    (
        kpi.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date_key")
        .parquet(dest)
    )
