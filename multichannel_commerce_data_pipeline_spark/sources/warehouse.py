"""Bucketed warehouse tables — co-located joins without a shuffle.

The reference's gold star schema joins facts on ``order_no`` every run
(silver_to_gold.py:512-516,603-607,725-726). At 100 TB a sort-merge
join shuffles both sides on every query; pre-bucketing the stored
tables on the join key (``df.write.bucketBy(n, key)``) makes every
subsequent equi-join on that key exchange-free: Spark matches the
bucket specs and wires map-side bucket pairs directly. ``sortBy``
additionally removes the per-bucket sort. This is the storage-layout
investment that pays off when the same key joins repeatedly — the
silver→gold pattern exactly.

tests/test_sources.py asserts the join plan contains no Exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as an external parquet table bucketed (and optionally
    sorted) on the join key. ``n_buckets`` must match across tables
    meant to co-join; it is the parallelism floor for bucket-wise
    joins, so size it to the cluster, not the current data."""
    writer = (
        df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.option("path", path).saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — bucketing metadata rides along, enabling
    exchange-free joins downstream."""
    return spark.table(table)
