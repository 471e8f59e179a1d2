"""Warehouse queries: the storage layouts and table-maintenance loops
of the silver→gold warehouse, each made driver-checkable against a
DuckDB oracle over the source tables.

- Layouts: bucketed tables and their exchange-free join, date
  partitions with static and dynamic pruning, Z-order, file formats,
  small-file compaction and its proven rewrite.
- Change capture and versioning: SCD2, MERGE upserts, CDC snapshots,
  snapshot time travel and diffs, point-in-time joins.
- Maintained state: aggregate and join MVs, and the CBO statistics
  (equi-depth histogram, NDV registers) refreshed from deltas, with
  their streaming twins.
- Audits: replica reconciliation, referential integrity, erasure
  propagation, k-anonymity and l-diversity, skew profiles.

A derived layout is a writer decorated with ``artifacts.layout``: it is
published once per source version under the warehouse root and read
back through ``artifacts.parquet_memo``.
"""

from __future__ import annotations

import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.artifacts import (
    artifact,
    concurrently,
    layout,
    parquet_memo,
    warehouse_root,
)
from multichannel_commerce_data_pipeline_spark.functions import (
    dround,
    oracle_dround,
)
from multichannel_commerce_data_pipeline_spark.queries import query
from multichannel_commerce_data_pipeline_spark.sources.warehouse import (
    read_table,
    write_bucketed,
)
from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
    fresh_stream_dir,
)
from multichannel_commerce_data_pipeline_spark.tables import load


def ensure_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write customer/orders bucketed on custkey once per (session,
    sf_dir); re-runs reuse the existing tables. Table names carry a
    SOURCE-DATA digest (per-file size+mtime, like the other warehouse
    artifact caches since r14) so scale factors never collide AND a
    regenerated fixture at the same path re-derives the layout instead
    of silently serving the stale one.

    The catalog entry alone is not trusted: the backing data lives
    under the system temp dir, which can be cleaned mid-session (or
    written by a concurrent session), leaving a catalog row that points
    at missing/partial files. Reuse requires BOTH the catalog entry and
    parquet files on disk; on any mismatch the tables are dropped and
    rewritten."""
    base = warehouse_root(sf_dir, "customer", "orders")
    cust_t, ord_t = f"customer_b_{base.name}", f"orders_b_{base.name}"

    def intact(table: str, path: Path) -> bool:
        return (
            spark.catalog.tableExists(table)
            and path.is_dir()
            and any(path.glob("*.parquet"))
        )

    if intact(cust_t, base / "customer") and intact(ord_t, base / "orders"):
        return cust_t, ord_t
    for t in (cust_t, ord_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_bucketed(
        load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
        cust_t,
        str(base / "customer"),
        ["c_custkey"],
        n_buckets=8,
        sort_cols=["c_custkey"],
    )
    write_bucketed(
        load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        ord_t,
        str(base / "orders"),
        ["o_custkey"],
        n_buckets=8,
        sort_cols=["o_custkey"],
    )
    return cust_t, ord_t


@query(
    "bucketed_join_rollup",
    oracle="""
    SELECT c.c_nationkey                       AS nationkey,
           COUNT(*)                            AS n_orders,
           ROUND(SUM(o.o_totalprice), 2)       AS total_spend
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_nationkey
    """,
)
def bucketed_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation order rollup over the BUCKETED warehouse copies of
    customer and orders: both sides bucketed+sorted on the join key, so
    the equi-join is bucket-wise — no Exchange, no per-task Sort on
    either input (plan asserted in tests/test_sources.py). The only
    shuffle in the whole query is the final 25-key aggregate. This is
    the reference's repeated fact-on-order_no join pattern
    (silver_to_gold.py:512-516) expressed as a storage layout."""
    cust_t, ord_t = ensure_bucketed(spark, sf_dir)
    c, o = read_table(spark, cust_t), read_table(spark, ord_t)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
    )


@query(
    "jdbc_roundtrip_rollup",
    oracle="""
    SELECT n_regionkey                    AS regionkey,
           COUNT(*)                       AS n_nations,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
    FROM nation
    GROUP BY n_regionkey
    """,
)
def jdbc_roundtrip_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+S4+S5 made driver-checkable in one write→read→write→read
    cycle: the nation dim writes to an embedded Derby database through
    the APPEND sink (S4), reads back through the declared JDBC scan
    (S3 — same JdbcRelationProvider path any server URL uses; Catalyst
    pushes the projection into the remote SQL), rolls up per region,
    lands the rollup through the CREATE-options sink (S5, the
    reference's DDL-bootstrap write), and the final result is the S5
    table read back. The oracle aggregates the source parquet directly,
    so a value drift anywhere in either cycle turns the row red. A
    fresh per-call database sidesteps Derby's single-JVM lock."""
    from multichannel_commerce_data_pipeline_spark.sources.jdbc import (
        read_jdbc,
        write_jdbc_append,
        write_jdbc_create,
    )

    db = Path(tempfile.mkdtemp(prefix="mcdp_jdbc_")) / "roundtripdb"
    url = f"jdbc:derby:{db};create=true"
    write_jdbc_append(
        load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey"),
        url,
        "nation_rt",
    )
    back = read_jdbc(spark, url, "nation_rt")
    rolled = back.groupBy(F.col("n_regionkey").alias("regionkey")).agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.sum("n_nationkey").alias("key_sum"),
    )
    write_jdbc_create(rolled, url, "region_rollup", overwrite=True, truncate=False)
    return read_jdbc(spark, url, "region_rollup")


# Full-rebuild SCD2 SQL over the whole event stream. Shared verbatim by
# scd2_user_status AND scd2_incremental_refresh: the incremental path's
# oracle IS the full rebuild — that equality is the entire correctness
# claim of incremental maintenance.
_SCD2_FULL_SQL = r"""
    WITH obs AS (
      SELECT user_id, CAST(ts AS DATE) AS day, event_type AS status,
             ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    daily AS (SELECT user_id, day, status FROM obs WHERE rn = 1),
    runs AS (
      SELECT user_id, day, status,
             CASE WHEN lag(1) OVER (PARTITION BY user_id ORDER BY day) IS NULL
                    OR status IS DISTINCT FROM
                       lag(status) OVER (PARTITION BY user_id ORDER BY day)
                  THEN 1 ELSE 0 END AS chg
      FROM daily
    ),
    islands AS (
      SELECT user_id, day, status,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM runs
    ),
    hist AS (
      SELECT user_id, CAST(version AS BIGINT) AS version,
             MIN(status) AS status, MIN(day) AS effective_from,
             CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM islands GROUP BY user_id, version
    )
    SELECT user_id, version, status, effective_from,
           lead(effective_from) OVER w AS effective_to,
           (lead(effective_from) OVER w IS NULL) AS is_current, n_obs
    FROM hist WINDOW w AS (PARTITION BY user_id ORDER BY version)
    """


def _daily_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, day, status): each user's LAST event_type per day —
    the daily dimension snapshot both SCD2 queries consume."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").repartition("user_id")
    return (
        ev.select(
            "user_id",
            F.to_date("ts").alias("day"),
            "ts",
            "event_id",
            F.col("event_type").alias("status"),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("user_id", "day").orderBy(
                    F.desc("ts"), F.desc("event_id")
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .select("user_id", "day", "status")
    )


@query("scd2_user_status", oracle=_SCD2_FULL_SQL)
def scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension history from the event stream: each user's
    last event_type per day is the day's observed "status" snapshot;
    consecutive same-status days collapse into versioned history rows
    with effective_from/effective_to/is_current. Replaces the
    reference's overwrite-per-loop dimension refresh
    (silver_to_gold.py) with the history-preserving warehouse form.

    Plan: one explicit hash exchange on user_id up front, which
    satisfies the (user_id, day) snapshot window, the SCD island
    windows, AND the (user_id, version) aggregate — the entire history
    build is a single shuffle of the observation stream."""
    from multichannel_commerce_data_pipeline_spark.operators.scd import scd2_history

    return scd2_history(_daily_status(spark, sf_dir), "user_id", "status", "day")


@query("scd2_incremental_refresh", oracle=_SCD2_FULL_SQL)
def scd2_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance, proven against the full rebuild:
    history is built from observations through Jan 22, then the final
    week arrives as a daily batch folded in with operators/scd.py
    scd2_apply — seeds each touched key's open run (weighted by its
    accumulated n_obs), rebuilds only the tail, offsets versions by the
    closed-run count, passes closed rows and untouched keys through.
    The oracle is the FULL-rebuild SQL over all observations — the
    refresh is only green if incremental ≡ rebuild, row for row. At
    scale this is the daily dimension refresh whose cost tracks the
    batch, not the accumulated stream."""
    from multichannel_commerce_data_pipeline_spark.operators.scd import (
        scd2_apply,
        scd2_history,
    )

    daily = _daily_status(spark, sf_dir)
    cutoff = F.lit("2024-01-22").cast("date")
    # materialized, as the stored dimension would be between refreshes
    # (scd2_apply docstring: a lazy history feeding the apply re-plans
    # the build and can trip AQE's union/SMJ coalescing)
    hist = scd2_history(
        daily.filter(F.col("day") <= cutoff), "user_id", "status", "day"
    ).localCheckpoint(eager=True)
    batch = daily.filter(F.col("day") > cutoff)
    return scd2_apply(hist, batch, "user_id", "status", "day")


@query(
    "merge_upsert_customers",
    oracle=r"""
    WITH latest AS (
      SELECT o_custkey, o_totalprice, o_orderstatus FROM (
        SELECT o_custkey, o_totalprice, o_orderstatus,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC)
                 AS rn
        FROM orders
      ) WHERE rn = 1
    ),
    updates AS (
      SELECT o_custkey AS c_custkey, 'ACTIVE' AS c_mktsegment,
             o_totalprice AS c_acctbal,
             (o_orderstatus = 'F') AS is_delete
      FROM latest
    ),
    unioned AS (
      SELECT c_custkey, c_mktsegment, c_acctbal, FALSE AS is_delete, 0 AS prio
      FROM customer
      UNION ALL
      SELECT c_custkey, c_mktsegment, c_acctbal, is_delete, 1 FROM updates
    ),
    winner AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                     ORDER BY prio DESC) AS rn
        FROM unioned
      ) WHERE rn = 1
    )
    SELECT c_custkey, c_mktsegment,
           CAST(ROUND(CAST(c_acctbal AS DECIMAL(38,6)), 2) AS DOUBLE)
             AS c_acctbal
    FROM winner WHERE NOT is_delete
    """,
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics driver query: each customer's newest order is an
    update batch — finalized ('F') customers are deleted, open ones get
    their segment/balance replaced, customers with no orders pass
    through, all via operators/merge.py merge_upsert (UNION ALL + one
    partial-aggregated keyed max(struct); never a full outer join)."""
    from pyspark.sql import Window

    from multichannel_commerce_data_pipeline_spark.functions import dround
    from multichannel_commerce_data_pipeline_spark.operators.merge import merge_upsert

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    latest = (
        load(spark, sf_dir, "orders")
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("o_custkey").orderBy(
                    F.desc("o_orderdate"), F.desc("o_orderkey")
                )
            ),
        )
        .filter(F.col("__rn") == 1)
    )
    updates = latest.select(
        F.col("o_custkey").alias("c_custkey"),
        F.lit("ACTIVE").alias("c_mktsegment"),
        F.col("o_totalprice").alias("c_acctbal"),
        (F.col("o_orderstatus") == "F").alias("is_delete"),
    )
    merged = merge_upsert(cust, updates, ["c_custkey"], delete_col="is_delete")
    return merged.select(
        "c_custkey", "c_mktsegment", dround(F.col("c_acctbal"), 2).alias("c_acctbal")
    )


# The streaming-merge driver query reuses merge_upsert_customers'
# oracle VERBATIM: green means the checkpointed streaming MERGE lands
# exactly the batch merge's rows — streaming ≡ batch, driver-proven.
_MERGE_ORACLE = r"""
    WITH latest AS (
      SELECT o_custkey, o_totalprice, o_orderstatus FROM (
        SELECT o_custkey, o_totalprice, o_orderstatus,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC)
                 AS rn
        FROM orders
      ) WHERE rn = 1
    ),
    updates AS (
      SELECT o_custkey AS c_custkey, 'ACTIVE' AS c_mktsegment,
             o_totalprice AS c_acctbal,
             (o_orderstatus = 'F') AS is_delete
      FROM latest
    ),
    unioned AS (
      SELECT c_custkey, c_mktsegment, c_acctbal, FALSE AS is_delete, 0 AS prio
      FROM customer
      UNION ALL
      SELECT c_custkey, c_mktsegment, c_acctbal, is_delete, 1 FROM updates
    ),
    winner AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                     ORDER BY prio DESC) AS rn
        FROM unioned
      ) WHERE rn = 1
    )
    SELECT c_custkey, c_mktsegment,
           CAST(ROUND(CAST(c_acctbal AS DECIMAL(38,6)), 2) AS DOUBLE)
             AS c_acctbal
    FROM winner WHERE NOT is_delete
    """


# Snapshot chain built once per (session, sf_dir) and shared by the
# streaming-merge and time-travel queries: the chain is durable state
# (checkpoint + copy-on-write snapshots), so rebuilding it per query
# build would only re-prove what the first run already materialized.
@artifact
def _merge_snapshot_chain(spark: SparkSession, sf_dir: str) -> str:
    """Run the two-batch streaming MERGE chain (customer base, then
    latest-order updates with deletes) and return the snapshot dir
    containing snap-0, snap-1, and _LATEST."""
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        Feed,
        stream_merge_snapshot,
    )

    feed = Feed("mcdp_stream_merge_", sf_dir)
    schema = (
        "c_custkey long, c_mktsegment string, c_acctbal double,"
        " is_delete boolean"
    )

    base = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.lit(False).alias("is_delete"),
    )
    feed.push(base, "json")
    stream_merge_snapshot(
        spark, feed.glob, schema, feed.out, feed.ckpt,
        ["c_custkey"], "c_custkey", delete_col="is_delete",
    )

    from pyspark.sql import Window

    latest = (
        load(spark, sf_dir, "orders")
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("o_custkey").orderBy(
                    F.desc("o_orderdate"), F.desc("o_orderkey")
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.lit("ACTIVE").alias("c_mktsegment"),
            F.col("o_totalprice").alias("c_acctbal"),
            (F.col("o_orderstatus") == "F").alias("is_delete"),
        )
    )
    feed.push(latest, "json")
    stream_merge_snapshot(
        spark, feed.glob, schema, feed.out, feed.ckpt,
        ["c_custkey"], "c_custkey", delete_col="is_delete",
    )
    return feed.out


@query("stream_merge_rollup", oracle=_MERGE_ORACLE)
def stream_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 streaming form made driver-checkable: the customer base
    arrives as micro-batch 1 and the latest-order update batch (with
    deletes) as micro-batch 2 of streaming/jobs.stream_merge_snapshot —
    two checkpointed AvailableNow drains, so batch order is by
    construction, with the latest-wins snapshot re-landed
    copy-on-write per batch under a _LATEST pointer. The oracle is the
    BATCH merge SQL (merge_upsert_customers'), promoting the streaming
    upsert's equivalence to driver evidence."""
    from multichannel_commerce_data_pipeline_spark.functions import dround
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_merge_snapshot,
    )

    snap = _merge_snapshot_chain(spark, sf_dir)
    return read_merge_snapshot(spark, snap).select(
        "c_custkey", "c_mktsegment", dround(F.col("c_acctbal"), 2).alias("c_acctbal")
    )


@query(
    "snapshot_time_travel",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(ROUND(CAST(c_acctbal AS DECIMAL(38,6)), 2) AS DOUBLE)
             AS c_acctbal
    FROM customer
    """,
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9: versioned reads over the copy-on-write MERGE chain — read
    the snapshot AS OF batch 0 (the customer base before the update
    batch applied its upserts and deletes) AFTER batch 1 has moved the
    _LATEST pointer. Copy-on-write leaves every batch's full snapshot
    directory behind (until vacuum_merge_snapshots reclaims it), so
    any historical version is one parquet read away — Delta-style time
    travel with no extra machinery. The oracle is the raw customer
    table: green means the old version is byte-faithful, i.e. later
    merges never mutate committed snapshots."""
    from multichannel_commerce_data_pipeline_spark.functions import dround
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_merge_snapshot_as_of,
    )

    snap = _merge_snapshot_chain(spark, sf_dir)
    return read_merge_snapshot_as_of(spark, snap, 0).select(
        "c_custkey", "c_mktsegment", dround(F.col("c_acctbal"), 2).alias("c_acctbal")
    )


@query(
    "file_format_roundtrip",
    oracle="""
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def file_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-surface: columnar + text file formats made driver-checkable in
    one chain — lineitem columns write to ORC (Spark's native vectorized
    ORC sink), read back through the ORC scan, roll up, and the rollup
    round-trips through a headered CSV with an explicit read schema
    (the messy-ingest format of the reference's sheet exports,
    bronze_to_silver_all_sources.py source list). The oracle aggregates
    the source parquet directly, so a fidelity break in either format's
    write or read path (type coercion, header handling, decimal
    rendering) turns the row red. Sums are DECIMAL end-to-end —
    order-independent, so the compare is exact across engines.

    Scale note: both sinks inherit Spark's per-partition parallel file
    write; the ORC scan, like parquet, supports predicate pushdown and
    column pruning at 100 TB. CSV is row-oriented glue for small
    exports, not a fact-table format — the query uses it only for the
    25-row rollup."""
    tmp = fresh_stream_dir("mcdp_fmt_")
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    li.write.mode("overwrite").orc(f"{tmp}/li_orc")
    back = spark.read.orc(f"{tmp}/li_orc")
    rolled = back.groupBy(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
    )
    rolled.write.mode("overwrite").option("header", True).csv(f"{tmp}/rollup_csv")
    back2 = spark.read.schema(
        "returnflag string, linestatus string, n_rows bigint, sum_qty decimal(38,2)"
    ).option("header", True).csv(f"{tmp}/rollup_csv")
    # DECIMAL stays internal for the order-independent sum and the exact
    # CSV round-trip; the OUTPUT boundary is DOUBLE because the driver
    # canonicalizes through pandas, where DuckDB DECIMAL becomes float64
    # while Spark DECIMAL stays Python Decimal — identical values, a
    # guaranteed hash mismatch (red r5). Guarded registry-wide in
    # tests/test_entry_contract.py.
    return back2.withColumn("sum_qty", F.col("sum_qty").cast("double"))


@layout("events", name="events_by_day")
def ensure_date_partitioned_events(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Events date-partitioned (``day=YYYY-MM-DD/`` directories): the
    landing layout the streaming jobs produce continuously, here
    written from the batch table so the pruning queries are
    self-contained."""
    ev = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    ev.write.mode("overwrite").partitionBy("day").parquet(path)


@query(
    "partitioned_scan_prune",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS DOUBLE) AS total_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    GROUP BY 1, 2
    """,
)
def partitioned_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/S-surface: date-partitioned lake layout + PARTITION-PRUNED
    scan — the single biggest 100 TB scan lever after column pruning.
    Events are laid out as ``day=.../`` partitions (the layout the
    streaming landing writes continuously); a one-week rollup then
    reads ONLY the seven matching directories — the day predicate
    resolves at planning time against directory names
    (PartitionFilters, asserted in tests/test_plans.py), so 23 of 30
    days are never opened, let alone decoded. The oracle computes the
    same rollup from the unpartitioned source, proving the layout
    round-trip preserves values (timestamp→date partition derivation
    included). Sums are DECIMAL — order-independent, exact compare."""
    base = ensure_date_partitioned_events(spark, sf_dir)
    back = parquet_memo(spark, base)
    return (
        back.filter(
            F.col("day").between(F.lit("2024-01-08"), F.lit("2024-01-14"))
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # DECIMAL internally (order-independent exact sum), DOUBLE at
            # the output boundary — the driver's pandas canonicalizer
            # hashes Spark Decimal vs DuckDB float64 differently.
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("total_value"),
        )
    )


def _zorder_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.operators.zorder import (
        oracle_morton_key,
    )

    bits, n_files = 8, 64
    file_span = (4**bits) // n_files
    bx = (
        "LEAST(GREATEST(CAST(floor((CAST(o_custkey AS DOUBLE) - 0.0) /"
        f" ((b.hx - 0.0) / {1 << bits})) AS BIGINT), 0), {(1 << bits) - 1})"
    )
    by = (
        "LEAST(GREATEST(CAST(floor((CAST(o_totalprice AS DOUBLE) - 0.0) /"
        f" ((b.hy - 0.0) / {1 << bits})) AS BIGINT), 0), {(1 << bits) - 1})"
    )
    z = oracle_morton_key("bx", "by", bits)
    return f"""
    WITH b AS (
      SELECT CAST(MAX(o_custkey) + 1 AS DOUBLE) AS hx,
             CAST(MAX(o_totalprice) + 1.0 AS DOUBLE) AS hy
      FROM orders
    ),
    ranked AS (
      SELECT {bx} AS bx, {by} AS by
      FROM orders, b
    ),
    keyed AS (
      SELECT bx, by, {z} // {file_span} AS file_id FROM ranked
    )
    SELECT file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(bx) AS x_min, MAX(bx) AS x_max,
           MIN(by) AS y_min, MAX(by) AS y_max,
           CAST(CASE WHEN MIN(bx) <= 119 AND MAX(bx) >= 100
                THEN 1 ELSE 0 END AS BIGINT) AS scan_x,
           CAST(CASE WHEN MIN(by) <= 95 AND MAX(by) >= 64
                THEN 1 ELSE 0 END AS BIGINT) AS scan_y
    FROM keyed GROUP BY 1
    """


@query("zorder_layout_prune", oracle=_zorder_oracle())
def zorder_layout_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-surface: Z-order (Morton) clustering — the multi-dimension
    data-skipping layout behind OPTIMIZE ZORDER BY, as an explicit
    engine-portable operator (operators/zorder.py). Orders are ranked
    into 8-bit buckets on BOTH o_custkey and o_totalprice (bounds from
    one bounded 1-row collect, arithmetic mirrored in the oracle's
    scalar subquery), interleaved into a Morton key map-side, and
    assigned to 64 fixed z-range "files". The output is each file's
    min/max footprint in both dimensions plus whether a probe rectangle
    on EITHER single dimension would have to open it — the min/max
    file-stat pruning a lake scan does from the manifest alone. Under
    z-order both probes touch a small fraction of files; a single-
    column sort layout gives one dimension everything and the other
    nothing (asserted in tests/test_operators.py). At 100 TB the key
    is pure Column work inside the scan stage and the layout write is
    one range shuffle, amortized over every later pruned scan."""
    from multichannel_commerce_data_pipeline_spark.operators.zorder import (
        bucketize,
        morton_key,
    )

    bits, n_files = 8, 64
    file_span = (4**bits) // n_files
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    row = o.agg(
        (F.max("o_custkey") + F.lit(1)).cast("double").alias("hx"),
        (F.max("o_totalprice") + F.lit(1.0)).cast("double").alias("hy"),
    ).collect()[0]
    bx = bucketize(F.col("o_custkey"), 0.0, row.hx, bits)
    by = bucketize(F.col("o_totalprice"), 0.0, row.hy, bits)
    keyed = o.select(bx.alias("bx"), by.alias("by")).select(
        "bx", "by",
        F.floor(morton_key(F.col("bx"), F.col("by"), bits) / file_span)
        .cast("long")
        .alias("file_id"),
    )
    probe_x = (F.min("bx") <= 119) & (F.max("bx") >= 100)
    probe_y = (F.min("by") <= 95) & (F.max("by") >= 64)
    return keyed.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("bx").alias("x_min"), F.max("bx").alias("x_max"),
        F.min("by").alias("y_min"), F.max("by").alias("y_max"),
        F.when(probe_x, 1).otherwise(0).cast("long").alias("scan_x"),
        F.when(probe_y, 1).otherwise(0).cast("long").alias("scan_y"),
    )


_COMPACT_TARGET = 20_000


@query(
    "compaction_plan",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT day, n_rows,
             SUM(n_rows) OVER (ORDER BY day
                               ROWS UNBOUNDED PRECEDING) - n_rows AS prior
      FROM daily
    )
    SELECT day, n_rows,
           CAST(prior // {_COMPACT_TARGET} AS BIGINT) AS job_id
    FROM cum
    """,
)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 companion: small-file COMPACTION PLANNER for the streaming
    landing. Continuous date-partitioned ingestion (streaming/jobs.py's
    landing sink) accretes many small files per day partition — the
    classic lake pathology: at 100 TB the NameNode/manifest listing and
    per-file open cost dominate scans long before bytes do. The planner
    bins consecutive day partitions into compaction jobs of ~TARGET
    rows via a running-total assignment (job = prior_rows // target,
    the deterministic first-fit split Delta's OPTIMIZE bin-packing
    uses), so each job rewrites a bounded row volume regardless of how
    skewed individual days are. The window runs over the PER-PARTITION
    metadata frame (one row per day — bounded by calendar, not data),
    so the single-partition window is planning-time metadata work, not
    a data-path shuffle; the heavy lifting (per-day counts) is one
    partial-aggregated group-by over the fact. The assignment rule
    itself is ``_compaction_plan_frame`` — the single implementation
    the rewrite and the verify also consume (r13)."""
    return _compaction_plan_frame(
        load(spark, sf_dir, "events").select(F.to_date("ts").alias("day"))
    )


_COMPACT_FP_SQL = [
    "event_id",
    "user_id",
    "event_type",
    "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)",
    "CAST(day AS VARCHAR)",
]


def _compaction_plan_frame(landed: DataFrame) -> DataFrame:
    """(day, n_rows, job_id): the compaction_plan assignment derived
    from a frame carrying a ``day`` column — the single implementation
    of the running-total first-fit split, consumed by the planner
    query, the rewrite, and the verify (one rule, three call sites —
    a binning change can never land in one and not the others). The
    window runs over one metadata row per day partition (calendar-
    bounded), never over data."""
    from pyspark.sql import Window

    daily = landed.groupBy("day").agg(F.count(F.lit(1)).alias("n_rows"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "n_rows",
        ((F.sum("n_rows").over(w) - F.col("n_rows")) / _COMPACT_TARGET)
        .cast("long")
        .alias("job_id"),
    )


@layout("events", name="landing_small")
def _landing_small(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The small-file date-partitioned landing: what continuous
    streaming ingestion accretes, one file per task per day
    partition."""
    load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        "event_id",
        "user_id",
        "event_type",
        "value",
    ).write.mode("overwrite").partitionBy("day").parquet(path)


@layout("events", name="compacted")
def _compacted(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The landing's compacted rewrite: planned day bins coalesced into
    one ~TARGET-row file per job via repartition on the plan's
    job_id."""
    landed = spark.read.parquet(_landing_small(spark, sf_dir))
    plan = _compaction_plan_frame(landed)
    (
        landed.join(F.broadcast(plan.select("day", "job_id")), "day")
        .repartition("job_id")
        .write.mode("overwrite")
        .partitionBy("job_id")
        .parquet(path)
    )


def ensure_compacted_layouts(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Both sides of the compaction loop, (landing_dir,
    compacted_dir), each a published layout."""
    return _landing_small(spark, sf_dir), _compacted(spark, sf_dir)


def _compaction_apply_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.operators.reconcile import (
        oracle_row_fingerprint,
    )

    fp = oracle_row_fingerprint(_COMPACT_FP_SQL)
    return f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT day, n_rows,
             SUM(n_rows) OVER (ORDER BY day
                               ROWS UNBOUNDED PRECEDING) - n_rows AS prior
      FROM daily
    ),
    plan AS (
      SELECT day, CAST(prior // {_COMPACT_TARGET} AS BIGINT) AS job_id
      FROM cum
    ),
    keyed AS (
      SELECT p.job_id, e.day, {fp} AS fp
      FROM (
        SELECT CAST(ts AS DATE) AS day, event_id, user_id, event_type,
               value
        FROM events
      ) e JOIN plan p USING (day)
    )
    SELECT job_id,
           CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(fp) AS digest,
           TRUE AS match
    FROM keyed GROUP BY job_id
    """


@query("compaction_apply_reconcile", oracle=_compaction_apply_oracle())
def compaction_apply_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 closed loop: compaction EXECUTION with proof — the
    plan → rewrite → verify cycle OPTIMIZE actually runs, not just the
    planner. The small-file date-partitioned landing (one file per
    task per day — the pathology continuous ingestion accretes) is
    rewritten per compaction_plan's job bins into one ~TARGET-row file
    per job, and the rewrite is PROVEN equal to the pre-compaction
    table with the table_reconcile XOR-digest idiom: per job, row
    count + order-independent XOR of portable row fingerprints from
    BOTH layouts, compared. Each side is one partial-aggregated scan
    of its own layout — at 100 TB the verify costs two scans and
    shuffles only n_jobs digest rows, which is what makes
    verify-after-OPTIMIZE affordable nightly. The oracle recomputes
    the plan AND the per-job digests from the source relationally, so
    a divergence anywhere (lost row, drifted value, day landed in the
    wrong job, broken fingerprint fold) turns the row red; doubles
    enter the row encoding only through DECIMAL cents. File-count
    reduction is asserted in tests/test_sources.py."""
    from multichannel_commerce_data_pipeline_spark.operators.reconcile import (
        row_fingerprint,
    )

    landing_dir, compacted_dir = ensure_compacted_layouts(spark, sf_dir)
    landed = parquet_memo(spark, landing_dir)
    compacted = parquet_memo(spark, compacted_dir)

    def fp(df: DataFrame):
        return row_fingerprint(
            [
                df.event_id,
                df.user_id,
                df.event_type,
                (df.value.cast("decimal(18,2)") * 100).cast("bigint"),
                df.day.cast("string"),
            ]
        )

    plan = _compaction_plan_frame(landed)
    src = (
        landed.join(F.broadcast(plan.select("day", "job_id")), "day")
        .select("job_id", "day", fp(landed).alias("fp"))
        .groupBy("job_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_src"),
            F.bit_xor("fp").alias("d_src"),
        )
    )
    tgt = compacted.select("job_id", "day", fp(compacted).alias("fp")).groupBy(
        "job_id"
    ).agg(
        F.countDistinct("day").cast("long").alias("n_days"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.bit_xor("fp").alias("digest"),
    )
    return tgt.join(src, "job_id", "full_outer").select(
        "job_id",
        F.coalesce(F.col("n_days"), F.lit(0).cast("long")).alias("n_days"),
        F.coalesce(F.col("n_rows"), F.lit(0).cast("long")).alias("n_rows"),
        F.coalesce(F.col("digest"), F.lit(0).cast("long")).alias("digest"),
        (
            (F.coalesce(F.col("n_rows"), F.lit(0)) == F.coalesce(F.col("n_src"), F.lit(0)))
            & (F.coalesce(F.col("digest"), F.lit(0)) == F.coalesce(F.col("d_src"), F.lit(0)))
        ).alias("match"),
    )


_MV_CUTOVER = "2024-01-25"


@layout("events", name="mv_state")
def ensure_mv_state(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The aggregate STATE table (per event_type algebraic accumulators
    over days < cutover): the stored MV a warehouse maintains instead
    of rescanning history."""
    # ts-form of the day cutover (equivalent to to_date(ts) <
    # cutover) so the predicate pushes into the parquet scan
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit(f"{_MV_CUTOVER} 00:00:00").cast("timestamp")
    )
    ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("val_sum"),
        F.min("value").alias("val_min"),
        F.max("value").alias("val_max"),
    ).write.mode("overwrite").parquet(path)


@query(
    "mv_incremental_merge",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS DOUBLE) AS total_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           CAST(ROUND(CAST((CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))
                                 AS DECIMAL(38,2)) AS DOUBLE) / COUNT(*))
                           AS DECIMAL(38,8)), 4) AS DOUBLE) AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def mv_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view INCREMENTAL MAINTENANCE via algebraic
    aggregate-state merge: the stored MV holds per-group accumulators
    (count, decimal sum, min, max) over all history before the cutover
    day; the refresh aggregates ONLY the delta days and merges states
    (cnt+cnt, sum+sum, min(min), max(max)) — history is never
    rescanned, which is the entire economics of MV maintenance at
    100 TB (the reference reruns its full gold build every 300 s —
    silver_to_gold.py via Dockerfile.silver-to-gold — and this is the
    operator that replaces that). Derived measures (avg) come off the
    merged accumulators, which is why the state carries sum+count
    rather than avg itself. The oracle is the full recompute over all
    days — state + delta must equal it exactly; the decimal sum makes
    the merge addition-order-independent, with DOUBLE only at the
    output boundary."""
    state = parquet_memo(spark, ensure_mv_state(spark, sf_dir))
    delta = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("ts")
            >= F.lit(f"{_MV_CUTOVER} 00:00:00").cast("timestamp")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("val_sum"),
            F.min("value").alias("val_min"),
            F.max("value").alias("val_max"),
        )
    )
    merged = (
        state.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("cnt").cast("long").alias("n_events"),
            F.sum("val_sum").cast("decimal(38,2)").alias("vsum"),
            F.min("val_min").alias("min_value"),
            F.max("val_max").alias("max_value"),
        )
    )
    return merged.select(
        "event_type",
        "n_events",
        F.col("vsum").cast("double").alias("total_value"),
        "min_value",
        "max_value",
        F.round(
            (F.col("vsum").cast("double") / F.col("n_events")).cast(
                "decimal(38,8)"
            ),
            4,
        )
        .cast("double")
        .alias("avg_value"),
    )


# Join-view delta maintenance: the two deltas arrive independently —
# new ORDERS after the order cutover, new LINEITEM rows (freight-batch
# style) after the ship cutover. Both cuts sit late in the date range
# so the deltas are small relative to history, the economics the
# operator exists for.
_MVJ_O_CUT = "2001-01-01 00:00:00"
_MVJ_L_CUT = "2001-03-01 00:00:00"


def _mvj_month_agg(joined: DataFrame) -> DataFrame:
    """Month-grain algebraic accumulators over a joined orders x
    lineitem frame: (order_month, cnt, decimal revenue sum). The
    per-row revenue addend quantizes to DECIMAL(18,4) before summing
    (identical double->decimal quantization in both engines), so every
    partial state merges addition-order-independently."""
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(18,4)")
    return joined.groupBy(
        F.date_trunc("month", F.col("o_orderdate"))
        .cast("date")
        .alias("order_month")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(rev).cast("decimal(38,4)").alias("rsum"),
    )


@layout("orders", "lineitem", name="mvj_state")
def ensure_mv_join_state(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The JOIN-VIEW aggregate state (month-grain accumulators over
    old-orders ⋈ old-lineitem): the stored gold view a warehouse
    maintains instead of re-running the join over all history."""
    o_old = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate")
        .filter(F.col("o_orderdate") < F.lit(_MVJ_O_CUT).cast("timestamp"))
    )
    l_old = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .filter(F.col("l_shipdate") < F.lit(_MVJ_L_CUT).cast("timestamp"))
    )
    _mvj_month_agg(
        o_old.join(l_old, o_old.o_orderkey == l_old.l_orderkey)
    ).write.mode("overwrite").parquet(path)


@query(
    "mv_join_delta_merge",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,4))) AS DECIMAL(38,4))
                AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1
    """,
)
def mv_join_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of an AGGREGATE-OVER-JOIN view — the
    IVM classic Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB, applied to the
    CM2-style month-revenue gold view over orders ⋈ lineitem. The
    stored state holds month-grain algebraic accumulators over
    old ⋈ old; when BOTH sides receive independent deltas (late
    orders, late-shipping freight lines), the refresh computes the
    three delta terms and merges accumulators (cnt+cnt, decimal
    sum+sum) — the join over history is NEVER re-run, which is the
    entire economics at 100 TB (the reference's aggregate-over-join
    gold view, create_joor_cm2's CM1-rollup ⋈ freight at
    silver_to_gold.py:499-517, is rebuilt IN FULL by the
    Dockerfile.silver-to-gold:9-15 300 s loop; mv_incremental_merge
    replaced that for single-table rollups, this closes the join
    case). Plan shape: each
    delta term BROADCASTS its delta side, so the two history scans
    stream map-side through broadcast hash joins with the date filters
    pushed into the parquet scans — the only exchanges are the bounded
    month-grain aggregations. Delta cost tracks the DELTA size and
    per-month group count, flat in history size. The oracle is the
    full-join recompute over all rows: state + three deltas must equal
    it exactly (DECIMAL-quantized addends make the merge
    addition-order-independent, DOUBLE only at the output boundary)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    o_cut = F.lit(_MVJ_O_CUT).cast("timestamp")
    l_cut = F.lit(_MVJ_L_CUT).cast("timestamp")
    o_old, o_new = (
        o.filter(F.col("o_orderdate") < o_cut),
        o.filter(F.col("o_orderdate") >= o_cut),
    )
    l_old, l_new = (
        li.filter(F.col("l_shipdate") < l_cut),
        li.filter(F.col("l_shipdate") >= l_cut),
    )
    key = lambda a, b: a.o_orderkey == b.l_orderkey  # noqa: E731
    state = parquet_memo(spark, ensure_mv_join_state(spark, sf_dir))
    d1 = _mvj_month_agg(F.broadcast(o_new).join(l_old, key(o_new, l_old)))
    d2 = _mvj_month_agg(o_old.join(F.broadcast(l_new), key(o_old, l_new)))
    d3 = _mvj_month_agg(F.broadcast(o_new).join(l_new, key(o_new, l_new)))
    merged = (
        state.unionByName(d1)
        .unionByName(d2)
        .unionByName(d3)
        .groupBy("order_month")
        .agg(
            F.sum("cnt").cast("long").alias("n_items"),
            F.sum("rsum").cast("decimal(38,4)").alias("rsum"),
        )
    )
    return merged.select(
        "order_month",
        "n_items",
        F.col("rsum").cast("double").alias("revenue"),
    )


@layout("orders", "lineitem", name="mvj_sstate")
def ensure_mvj_stream_state(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The streaming refresh's initial stored view: month accumulators
    over ALL orders ⋈ pre-cutover lineitem (orders is the dimension-
    stable side; only lineitem streams)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l_old = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .filter(F.col("l_shipdate") < F.lit(_MVJ_L_CUT).cast("timestamp"))
    )
    _mvj_month_agg(
        o.join(l_old, o.o_orderkey == l_old.l_orderkey)
    ).write.mode("overwrite").parquet(path)


# One drain of the streaming view refresh per (session, sf_dir) — the
# checkpointed stream is a side-effecting run (the stream_decontaminate
# rationale).
@artifact
def _stream_mvj_run(spark: SparkSession, sf_dir: str) -> str:
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        Feed,
        stream_view_delta_refresh,
    )

    feed = Feed("mcdp_mvj_", sf_dir)
    l_new = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .filter(
            F.col("l_shipdate") >= F.lit(_MVJ_L_CUT).cast("timestamp")
        )
    )
    # two arrival chunks (orderkey parity → two micro-batches): the
    # fold must come out right INCREMENTALLY (the merge is algebraic,
    # so arrival order only fixes which state-<bid> dir holds what)
    for rem in (0, 1):
        feed.push(l_new.filter(F.col("l_orderkey") % 2 == rem))
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    init = spark.read.parquet(ensure_mvj_stream_state(spark, sf_dir))

    def delta_agg(batch: DataFrame) -> DataFrame:
        return _mvj_month_agg(
            o.join(F.broadcast(batch), o.o_orderkey == batch.l_orderkey)
        )

    def merge(frame: DataFrame) -> DataFrame:
        return frame.groupBy("order_month").agg(
            F.sum("cnt").cast("long").alias("cnt"),
            F.sum("rsum").cast("decimal(38,4)").alias("rsum"),
        )

    stream_view_delta_refresh(
        spark,
        feed.glob,
        "l_orderkey bigint, l_extendedprice double, l_discount double",
        feed.out,
        feed.ckpt,
        delta_agg,
        init,
        merge,
    )
    return feed.out


@query(
    "stream_mv_join_refresh_rollup",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,4))) AS DECIMAL(38,4))
                AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1
    """,
)
def stream_mv_join_refresh_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X15 × T5: the streaming form of mv_join_delta_merge — freight-
    style lineitem deltas ARRIVE as two checkpointed micro-batches and
    each folds into the stored month-revenue join view in-flight
    (streaming/jobs.stream_view_delta_refresh: state(bid) =
    merge(state(bid-1) ∪ agg(orders ⋈ broadcast(batch))), snapshots
    landed idempotently with a one-predecessor replay window), so the
    gold view is always one micro-batch behind the feed and history is
    never rescanned — the operator that replaces the reference's
    rerun-everything-every-300 s gold loop (silver_to_gold.py:499-517
    rebuilt by Dockerfile.silver-to-gold:9-15) END TO END: incremental
    in the data dimension (delta terms, not full joins) AND in the
    time dimension (per-arrival folds, not polling reruns). The oracle is
    the full-join recompute over all rows; the landed final state must
    equal it exactly, which also proves the decimal accumulators
    merged addition-order-independently across the batch boundary.
    Restart cumulativity and replay idempotency are asserted in
    tests/test_streaming.py."""
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_latest_view_state,
    )

    out = _stream_mvj_run(spark, sf_dir)
    state = read_latest_view_state(spark, out)
    return state.select(
        "order_month",
        F.col("cnt").alias("n_items"),
        F.col("rsum").cast("double").alias("revenue"),
    )


_SKEW_TOPN = 10


@query(
    "skew_profile",
    oracle=f"""
    WITH counts AS (
      SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n_keys FROM counts)
    SELECT c.key, c.cnt,
           {oracle_dround('CAST(c.cnt AS DOUBLE) / t.total', 6)} AS share,
           t.n_keys
    FROM counts c, tot t
    ORDER BY c.cnt DESC, c.key
    LIMIT {_SKEW_TOPN}
    """,
)
def skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key SKEW DIAGNOSTIC — the profiling query run before
    choosing salt factors / AQE skew thresholds for a big join: the
    top-N hottest values of the prospective shuffle key with their
    share of all rows, plus the distinct-key count (the denominator
    for picking shuffle partitions). One partial-aggregated group-by +
    a TakeOrderedAndProject (orderBy+limit never globally sorts); the
    1-row total and key count broadcast back onto the top-N — no
    second pass over the fact. The salted-join operators
    (operators/skew.py) consume exactly these numbers."""
    from multichannel_commerce_data_pipeline_spark.functions import dround

    counts = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = counts.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    return (
        counts.join(F.broadcast(tot))
        .select(
            "key",
            "cnt",
            dround(F.col("cnt").cast("double") / F.col("total"), 6).alias(
                "share"
            ),
            "n_keys",
        )
        .orderBy(F.desc("cnt"), F.col("key"))
        .limit(_SKEW_TOPN)
    )


@query(
    "cdc_apply_snapshot",
    oracle="""
    WITH ops AS (
      SELECT user_id, ts, event_id, event_type, value
      FROM events WHERE event_type IN ('signup', 'purchase', 'error')
    ),
    latest AS (
      SELECT user_id, event_id, event_type, value FROM (
        SELECT user_id, ts, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ops
      ) WHERE rn = 1
    ),
    counts AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_changes FROM ops GROUP BY 1
    )
    SELECT l.user_id, l.event_id AS last_event_id,
           l.value AS last_value, c.n_changes
    FROM latest l JOIN counts c USING (user_id)
    WHERE l.event_type <> 'error'
    """,
)
def cdc_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 companion: CHANGE-DATA-FEED APPLY — collapse an ordered
    change stream (signup/purchase = upsert carrying the new value,
    error = tombstone DELETE; clicks/views are not changes) into the
    current snapshot: last-writer-wins per key, keys whose final
    change is a delete are ABSENT. This is the consumer side of a CDC
    feed (Debezium / Delta change feed), distinct from MERGE (X9,
    which reconciles two tables) and from latest_snapshot_per_key
    (which has no delete semantics). The whole apply is ONE
    partial-aggregated max(struct(ts, event_id, ...)) group-by — each
    partition collapses its changes map-side before the single keyed
    exchange; no window, no sort of the full feed. At 100 TB the feed
    shuffles once on the primary key, which is the floor for
    last-writer-wins."""
    ops = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "purchase", "error"))
        .select("user_id", "ts", "event_id", "event_type", "value")
    )
    agg = ops.groupBy("user_id").agg(
        F.max(
            F.struct("ts", "event_id", "event_type", "value")
        ).alias("last"),
        F.count(F.lit(1)).cast("long").alias("n_changes"),
    )
    return agg.filter(F.col("last.event_type") != "error").select(
        "user_id",
        F.col("last.event_id").alias("last_event_id"),
        F.col("last.value").alias("last_value"),
        "n_changes",
    )


_REC_DROP = 467   # replica "lost" every custkey divisible by this
_REC_DRIFT = 331  # replica drifted acctbal (+1.00) on these keys
_REC_BUCKETS = 64
_REC_FIELDS_SQL = [
    "c_custkey",
    "c_name",
    "c_nationkey",
    "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)",
]


def _reconcile_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.operators.reconcile import (
        oracle_row_fingerprint,
    )

    fp = oracle_row_fingerprint(_REC_FIELDS_SQL)
    digest = (
        f"SELECT c_custkey % {_REC_BUCKETS} AS bucket,"
        f" CAST(COUNT(*) AS BIGINT) AS n, bit_xor({fp}) AS d"
        " FROM {rel} GROUP BY 1"
    )
    return f"""
    WITH src AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
    ),
    tgt AS (
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % {_REC_DRIFT} = 0
                  THEN c_acctbal + 1.0 ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % {_REC_DROP} <> 0
    ),
    sd AS ({digest.format(rel='src')}),
    td AS ({digest.format(rel='tgt')})
    SELECT COALESCE(sd.bucket, td.bucket) AS bucket,
           CAST(COALESCE(sd.n, 0) AS BIGINT) AS n_src,
           CAST(COALESCE(td.n, 0) AS BIGINT) AS n_tgt,
           (COALESCE(sd.n, 0) = COALESCE(td.n, 0)
            AND COALESCE(sd.d, 0) = COALESCE(td.d, 0)) AS match
    FROM sd FULL OUTER JOIN td ON sd.bucket = td.bucket
    """


@layout("customer", name="replica")
def ensure_replica(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The perturbed customer REPLICA — the copy living 'in the other
    system', with deterministic damage: every custkey divisible by 467
    lost, every custkey divisible by 331 drifted by +1.00 acctbal."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    c.filter(F.col("c_custkey") % _REC_DROP != 0).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % _REC_DRIFT == 0,
            F.col("c_acctbal") + 1.0,
        ).otherwise(F.col("c_acctbal")),
    ).write.mode("overwrite").parquet(path)


@query("table_reconcile", oracle=_reconcile_oracle())
def table_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy RECONCILIATION between a table and its replica in
    another system (the reference ships the same rows to Postgres
    silver AND ClickHouse gold with no way to prove they agree;
    bronze_to_silver_all_sources.py:82-90 vs silver_to_gold.py:249) —
    the Merkle/rsync trick at table scale: hash every row, XOR the
    hashes per key bucket (order- and partition-independent), and
    compare only the 64-row digest tables. Each side is ONE
    partial-aggregated scan of its own copy; nothing but digests
    crosses systems, which is what makes this runnable nightly against
    a 100 TB pair. The planted replica damage (dropped keys, drifted
    balances) must surface as exactly the divergent buckets — and the
    oracle recomputes both sides' digests from the source relationally,
    so a fingerprint or fold divergence anywhere turns the row red.
    Doubles enter the row encoding only through DECIMAL cents (never
    engine-formatted float strings)."""
    from multichannel_commerce_data_pipeline_spark.operators.reconcile import (
        bucket_digests,
        reconcile,
        row_fingerprint,
    )

    def fp_cols(df: DataFrame) -> list:
        return [
            df.c_custkey,
            df.c_name,
            df.c_nationkey,
            (df.c_acctbal.cast("decimal(18,2)") * 100).cast("bigint"),
        ]

    src = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    tgt = parquet_memo(spark, ensure_replica(spark, sf_dir))
    sd = bucket_digests(
        src, src.c_custkey, row_fingerprint(fp_cols(src)), _REC_BUCKETS
    )
    td = bucket_digests(
        tgt, tgt.c_custkey, row_fingerprint(fp_cols(tgt)), _REC_BUCKETS
    )
    return reconcile(sd, td)


_CDF_T1 = "2024-01-20 00:00:00"
_CDF_T2 = "2024-01-28 00:00:00"


def _cdf_state_sql(cutoff: str) -> str:
    return f"""
      SELECT user_id, event_id, value FROM (
        SELECT user_id, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE event_type IN ('signup', 'purchase', 'error')
          AND ts < TIMESTAMP '{cutoff}'
      ) WHERE rn = 1 AND event_type <> 'error'
    """


@query(
    "snapshot_diff_cdf",
    oracle=f"""
    WITH old AS ({_cdf_state_sql(_CDF_T1)}),
    new AS ({_cdf_state_sql(_CDF_T2)})
    SELECT COALESCE(o.user_id, n.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'insert'
                WHEN n.user_id IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           o.value AS old_value,
           n.value AS new_value
    FROM old o FULL OUTER JOIN new n ON o.user_id = n.user_id
    WHERE o.user_id IS NULL OR n.user_id IS NULL
       OR o.event_id <> n.event_id OR o.value <> n.value
    """,
)
def snapshot_diff_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed PRODUCER: the diff between two versions of the
    keyed snapshot (state as-of T1 vs as-of T2), emitted as
    insert/update/delete change rows — what Delta's table_changes()
    serves, and the inverse of cdc_apply_snapshot (apply(old, diff) =
    new). Each version is the same one-shuffle partial-aggregated
    last-writer-wins collapse as the CDC apply (max(struct), tombstone
    filter); the diff is one full-outer equi-join on the key with
    unchanged keys dropped. At 100 TB both sides shuffle once on the
    primary key and the output is proportional to the CHANGE volume,
    not the table."""
    def state(cutoff: str) -> DataFrame:
        ops = (
            load(spark, sf_dir, "events")
            .filter(F.col("event_type").isin("signup", "purchase", "error"))
            .filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
            .select("user_id", "ts", "event_id", "event_type", "value")
        )
        agg = ops.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "event_type", "value")).alias(
                "last"
            )
        )
        return agg.filter(F.col("last.event_type") != "error").select(
            "user_id",
            F.col("last.event_id").alias("event_id"),
            F.col("last.value").alias("value"),
        )

    old = state(_CDF_T1).withColumnsRenamed(
        {"event_id": "o_eid", "value": "old_value"}
    )
    new = state(_CDF_T2).withColumnsRenamed(
        {"event_id": "n_eid", "value": "new_value"}
    )
    j = old.join(new, "user_id", "full_outer")
    changed = j.filter(
        F.col("o_eid").isNull()
        | F.col("n_eid").isNull()
        | (F.col("o_eid") != F.col("n_eid"))
        | (F.col("old_value") != F.col("new_value"))
    )
    return changed.select(
        "user_id",
        F.when(F.col("o_eid").isNull(), "insert")
        .when(F.col("n_eid").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        "old_value",
        "new_value",
    )


@query(
    "dynamic_partition_prune",
    oracle="""
    WITH spine AS (
      SELECT CAST(unnest(range(DATE '2024-01-01', DATE '2024-02-01',
                               INTERVAL 1 DAY)) AS DATE) AS day
    ),
    wk AS (
      SELECT day FROM spine
      WHERE weekofyear(day) = 2 AND year(day) = 2024
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(e."value" AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS DOUBLE) AS total_value
    FROM events e JOIN wk ON CAST(e.ts AS DATE) = wk.day
    GROUP BY 1
    """,
)
def dynamic_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-surface: DYNAMIC partition pruning — the runtime half of the
    partition-pruning lever (`partitioned_scan_prune` is the static
    half). Here the day predicate lives on a DIMENSION (a generated
    date spine filtered to ISO week 2), not on the fact, so planning
    time cannot prune directories; Spark's DPP rule instead injects the
    broadcast dim's day values as a runtime subquery filter INTO the
    fact scan (`PartitionFilters: [dynamicpruning#...]`, asserted in
    tests/test_plans.py), and only the 7 matching day directories are
    ever opened. At 100 TB this is the star-schema query shape — fact
    partitioned by date, filter arriving through dim_date — and the
    difference between scanning a week and scanning years. The oracle
    replays the join against the unpartitioned source with the same
    spine; sums are DECIMAL internally, DOUBLE at the boundary."""
    base = ensure_date_partitioned_events(spark, sf_dir)
    fact = parquet_memo(spark, base)
    dim = (
        spark.range(1)
        .select(
            F.explode(
                F.expr("sequence(date'2024-01-01', date'2024-01-31')")
            ).alias("day")
        )
        .filter((F.weekofyear("day") == 2) & (F.year("day") == 2024))
    )
    return (
        fact.join(F.broadcast(dim), "day")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("total_value"),
        )
    )


def _pit_oracle() -> str:
    return f"""
    WITH hist AS ({_SCD2_FULL_SQL}),
    purch AS (
      SELECT user_id, CAST(ts AS DATE) AS day, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT h.status AS status_at_purchase,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST({oracle_dround("p.value", 2)} AS DECIMAL(18,2)))
                AS DOUBLE) AS revenue
    FROM purch p
    JOIN hist h
      ON p.user_id = h.user_id
     AND h.effective_from <= p.day
     AND (h.effective_to IS NULL OR p.day < h.effective_to)
    GROUP BY 1
    """


@query("pit_scd2_join", oracle=_pit_oracle())
def pit_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct dimension join — every purchase event
    joined to the SCD2 status version that was VALID AT the purchase
    day (effective_from <= day < effective_to), then revenue rolled up
    by status-at-purchase. This is the as-was reporting query SCD2
    history exists to serve, and the one a latest-snapshot join
    silently gets wrong (attributing old facts to current attributes).
    Physically an equi-join on user_id with the validity interval as a
    post-join filter: versions per key are few (runs partition a
    user's timeline), so the match amplification is bounded and the
    join shuffles each side once on the key — the standard PIT shape
    at warehouse scale. Revenue is decimal-quantized per row before
    the sum, so the rollup is order-independent."""
    hist = scd2_user_status(spark, sf_dir)
    purch = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.to_date("ts").alias("day"),
            dround(F.col("value"), 2).cast("decimal(18,2)").alias("val"),
        )
    )
    j = purch.join(
        hist,
        (purch["user_id"] == hist["user_id"])
        & (hist["effective_from"] <= purch["day"])
        & (hist["effective_to"].isNull() | (purch["day"] < hist["effective_to"])),
    )
    return j.groupBy(F.col("status").alias("status_at_purchase")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("val").cast("double").alias("revenue"),
    )


def _ri_oracle() -> str:
    def pair(rel, child, ck, parent, pk):
        return f"""
      SELECT '{rel}' AS relationship,
             CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS n_child,
             CAST((SELECT COUNT(*) FROM {child} c
                   WHERE NOT EXISTS (
                     SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck}
                   )) AS BIGINT) AS n_orphans"""

    rels = [
        pair("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        pair("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        pair("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        pair("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        pair("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ]
    return "\nUNION ALL\n".join(rels)


@query("referential_integrity", oracle=_ri_oracle())
def referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ: foreign-key orphan audit across the star schema — the
    constraint check a lakehouse cannot delegate to the storage layer
    (parquet enforces nothing): per relationship, child row count and
    rows whose FK matches no parent. Each relationship is ONE
    projected-key left join (the dim side broadcasts) collapsed to a
    single partial-aggregated row — child count and null-parent count
    come from the same pass, so each child table is scanned once. The
    query every MERGE/CDC/erasure pipeline should run after itself;
    snapshot_diff_cdf and cdc_apply_snapshot produce the changes, this
    proves they left the graph closed."""
    specs = [
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ]
    out = None
    for rel, child, ck, parent, pk in specs:
        c = load(spark, sf_dir, child).select(ck)
        p = load(spark, sf_dir, parent).select(pk).distinct()
        j = c.join(p, c[ck] == p[pk], "left")
        row = j.agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(
                F.when(F.col(pk).isNull(), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_orphans"),
        ).select(F.lit(rel).alias("relationship"), "n_child", "n_orphans")
        out = row if out is None else out.unionAll(row)
    return out


# --- right-to-be-forgotten erasure (r14) ----------------------------
# The tombstone set: a deterministic hash-keyed subset of customers
# standing in for a GDPR/CCPA deletion batch (md5-hash64 so the SAME
# customers erase in DuckDB — rand() could never be oracle-checked).
_ERASE_SEED, _ERASE_MOD = 17, 37

# Fingerprint encodings per table, SINGLE-SOURCED as (sql_expr,
# engine column builder) pairs — membership and order come from ONE
# list per table, so the oracle text and the engine fingerprint can
# never disagree about which columns a row hashes (the r13
# single-sourced-DQ-rules idiom). Doubles enter the row encoding only
# as DECIMAL cents, timestamps only as DATE strings (the compaction
# _COMPACT_FP_SQL convention).
def _cents(col) -> object:
    return (col.cast("decimal(18,2)") * 100).cast("bigint")


_ERASE_FP: dict[str, list[tuple[str, object]]] = {
    "customer": [
        ("c_custkey", lambda d: d.c_custkey),
        ("c_name", lambda d: d.c_name),
        ("c_nationkey", lambda d: d.c_nationkey),
        (
            "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)",
            lambda d: _cents(d.c_acctbal),
        ),
        ("c_mktsegment", lambda d: d.c_mktsegment),
    ],
    "orders": [
        ("o_orderkey", lambda d: d.o_orderkey),
        ("o_custkey", lambda d: d.o_custkey),
        ("o_orderstatus", lambda d: d.o_orderstatus),
        (
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)",
            lambda d: _cents(d.o_totalprice),
        ),
        (
            "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)",
            lambda d: d.o_orderdate.cast("date").cast("string"),
        ),
    ],
    "lineitem": [
        ("l_orderkey", lambda d: d.l_orderkey),
        ("l_partkey", lambda d: d.l_partkey),
        ("l_linenumber", lambda d: d.l_linenumber),
        (
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)",
            lambda d: _cents(d.l_extendedprice),
        ),
        ("l_returnflag", lambda d: d.l_returnflag),
    ],
}
_ERASE_FP_SQL = {t: [sql for sql, _ in cols] for t, cols in _ERASE_FP.items()}


def _erase_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    from multichannel_commerce_data_pipeline_spark.functions import (
        portable_hash64,
    )

    return (
        load(spark, sf_dir, "customer")
        .select("c_custkey")
        .filter(
            F.pmod(
                portable_hash64(F.col("c_custkey").cast("string"), _ERASE_SEED),
                F.lit(_ERASE_MOD),
            )
            == 0
        )
    )


def _erase_fp_cols(df: DataFrame, table: str) -> list:
    """The engine Column twins of _ERASE_FP_SQL, derived from the SAME
    per-table spec — adding or reordering a fingerprint column happens
    in exactly one place."""
    return [build(df) for _, build in _ERASE_FP[table]]


@layout("customer", "orders", "lineitem", name="erased")
def ensure_erased_tables(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The ERASED warehouse: customer/orders/lineitem with the
    tombstoned customers and their cascaded orders/lineitems removed.
    Each table is one broadcast-anti-join scan of its source — the
    erasure pass a compliance job actually runs."""
    tomb = _erase_tombstones(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").join(
        F.broadcast(tomb), "c_custkey", "left_anti"
    )
    src_orders = load(spark, sf_dir, "orders")
    orders = src_orders.join(
        F.broadcast(tomb),
        src_orders.o_custkey == tomb.c_custkey,
        "left_anti",
    )
    gone_orders = src_orders.join(
        F.broadcast(tomb),
        src_orders.o_custkey == tomb.c_custkey,
        "left_semi",
    ).select("o_orderkey")
    src_li = load(spark, sf_dir, "lineitem")
    li = src_li.join(
        F.broadcast(gone_orders),
        src_li.l_orderkey == gone_orders.o_orderkey,
        "left_anti",
    )

    # the three erased-table writes are independent jobs; running
    # them concurrently lets one write's stage tail back-fill
    # cores the others leave idle (guide §2.6 — the
    # join_size_estimate threaded-materialization idiom). One-time
    # cold-path cost per corpus version.
    def writer(df: DataFrame, sub: str):
        return lambda: df.write.mode("overwrite").parquet(f"{path}/{sub}")

    concurrently(
        spark,
        writer(cust, "customer"),
        writer(orders, "orders"),
        writer(li, "lineitem"),
    )


def _erasure_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.functions import (
        oracle_hash64,
    )
    from multichannel_commerce_data_pipeline_spark.operators.reconcile import (
        oracle_row_fingerprint,
    )

    tomb = (
        f"SELECT c_custkey FROM customer WHERE"
        f" ({oracle_hash64('CAST(c_custkey AS VARCHAR)', _ERASE_SEED)})"
        f" % {_ERASE_MOD} = 0"
    )
    rows = []
    for table, parent in (
        ("customer", "c_custkey IN (SELECT c_custkey FROM tomb)"),
        ("orders", "o_custkey IN (SELECT c_custkey FROM tomb)"),
        ("lineitem", "l_orderkey IN (SELECT o_orderkey FROM gone)"),
    ):
        fp = oracle_row_fingerprint(_ERASE_FP_SQL[table])
        rows.append(
            f"""    SELECT '{table}' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS rows_before,
           CAST(SUM(CASE WHEN {parent} THEN 1 ELSE 0 END) AS BIGINT)
             AS rows_removed,
           CAST(SUM(CASE WHEN {parent} THEN 0 ELSE 1 END) AS BIGINT)
             AS rows_after,
           COALESCE(bit_xor(CASE WHEN {parent} THEN NULL ELSE {fp} END),
                    0) AS digest,
           TRUE AS erase_match,
           CAST(0 AS BIGINT) AS orphans_after
    FROM {table}"""
        )
    body = "\n    UNION ALL\n".join(rows)
    return f"""
    WITH tomb AS ({tomb}),
    gone AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM tomb)
    )
{body}
    """


@query("erasure_propagation", oracle=_erasure_oracle())
def erasure_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17+/T7 (r14): RIGHT-TO-BE-FORGOTTEN erasure with PROOF — delete
    a keyed customer set across the warehouse (customer, their orders,
    those orders' lineitems) and prove, per table, that (a) exactly the
    cascade was removed and (b) no trace of an erased key survives.
    The reference has no delete path at all (silver_to_gold.py only
    appends/overwrites); this is the compliance operator every
    commerce warehouse eventually needs, and the after-check the
    SURVEY T7 row names ("after every MERGE/CDC/erasure pass").

    Mechanics: the tombstone set is small by nature (a GDPR deletion
    batch), so every cascade step is a BROADCAST anti-join — each
    erased table is one map-side scan of its source, written once per
    corpus version (atomic publish). Proof rides the table_reconcile
    XOR-digest idiom (X17): per table, the WRITTEN survivors' row
    count + order-independent XOR of portable row fingerprints must
    equal the complement computed independently from the source
    (erase_match), and the orphan audit counts written rows still
    referencing an erased parent key (orphans_after = 0) — both sides
    partial-aggregate to ONE row per table, so at 100 TB the proof
    costs two scans and shuffles three digest rows. The oracle
    recomputes counts and complement digests relationally from the
    same tombstone predicate, so a wrong cascade (a missed lineitem,
    an over-deleted order) or a broken write turns the row red;
    doubles enter the fingerprints only as DECIMAL cents, timestamps
    only as DATE strings."""
    from multichannel_commerce_data_pipeline_spark.operators.reconcile import (
        row_fingerprint,
    )
    from multichannel_commerce_data_pipeline_spark.tables import (
        parallelize_small_scan,
    )

    root = ensure_erased_tables(spark, sf_dir)
    tomb = _erase_tombstones(spark, sf_dir)
    gone = (
        load(spark, sf_dir, "orders")
        .join(
            F.broadcast(tomb),
            F.col("o_custkey") == tomb.c_custkey,
            "left_semi",
        )
        .select("o_orderkey")
    )

    def side(table: str, erased_key, erased_set: DataFrame) -> DataFrame:
        # the erased-key set under a collision-proof name (customer's
        # own key column shares the set's name otherwise)
        es = erased_set.select(
            F.col(erased_set.columns[0]).alias("__ekey")
        )
        # both fingerprint passes run md5 over every surviving row:
        # fan single-row-group scans out so the digest work
        # parallelizes (no-op on real multi-split tables)
        src = parallelize_small_scan(spark, load(spark, sf_dir, table))
        flagged = src.join(
            F.broadcast(es), erased_key(src) == F.col("__ekey"), "left"
        ).withColumn("__gone", F.col("__ekey").isNotNull())
        exp = flagged.agg(
            F.count(F.lit(1)).cast("long").alias("rows_before"),
            F.sum(F.col("__gone").cast("long")).alias("rows_removed"),
            F.sum((~F.col("__gone")).cast("long")).alias("e_after"),
            F.coalesce(
                F.bit_xor(
                    F.when(
                        ~F.col("__gone"),
                        row_fingerprint(_erase_fp_cols(src, table)),
                    )
                ),
                F.lit(0).cast("long"),
            ).alias("e_digest"),
        )
        written = parallelize_small_scan(
            spark, parquet_memo(spark, f"{root}/{table}")
        )
        w = written.join(
            F.broadcast(es), erased_key(written) == F.col("__ekey"), "left"
        ).agg(
            F.count(F.lit(1)).cast("long").alias("rows_after"),
            F.coalesce(
                F.bit_xor(row_fingerprint(_erase_fp_cols(written, table))),
                F.lit(0).cast("long"),
            ).alias("digest"),
            F.sum(F.col("__ekey").isNotNull().cast("long")).alias(
                "orphans_after"
            ),
        )
        return exp.join(w).select(
            F.lit(table).alias("table_name"),
            "rows_before",
            "rows_removed",
            "rows_after",
            "digest",
            (
                (F.col("rows_after") == F.col("e_after"))
                & (F.col("digest") == F.col("e_digest"))
            ).alias("erase_match"),
            "orphans_after",
        )

    c = side("customer", lambda d: d.c_custkey, tomb)
    o = side("orders", lambda d: d.o_custkey, tomb)
    li = side("lineitem", lambda d: d.l_orderkey, gone)
    return c.unionByName(o).unionByName(li)


# --- incremental CBO histogram maintenance (r14) --------------------
_HDM_CUT = "2001-03-01 00:00:00"  # lineitem shipdate delta cutover
_HDM_DRIFT_TOL = 0.03  # re-ANALYZE trigger: share deviation bound


@layout("lineitem", name="hist_state")
def ensure_histogram_state(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The stored equi-depth histogram STATE over the pre-cutover
    lineitem slice: per bucket (binned against the OLD slice's 7 exact
    octile boundaries), row count + lo/hi, with the boundary values
    carried on every row so a refresh can re-bin deltas without
    touching history."""
    from multichannel_commerce_data_pipeline_spark.queries.aggregates import (
        _EQD_QS,
    )

    old = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit(_HDM_CUT).cast("timestamp")
    )
    # one array-percentile (sort once) instead of 7 full-column
    # buffers — the _hqe_exact_fit lesson (values bit-identical)
    row = (
        old.agg(
            F.percentile("l_extendedprice", F.lit(list(_EQD_QS))).alias("__ps")
        )
        .select(
            *[
                dround(F.element_at("__ps", i + 1), 2).alias(f"b{i}")
                for i in range(len(_EQD_QS))
            ]
        )
        .collect()[0]
    )
    bounds = [float(row[f"b{i}"]) for i in range(len(_EQD_QS))]
    bucket = sum(
        F.when(F.col("l_extendedprice") > F.lit(b), 1).otherwise(0)
        for b in bounds
    ).cast("long")
    (
        old.select(F.col("l_extendedprice").alias("p"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("p").alias("lo"),
            F.max("p").alias("hi"),
        )
        .select(
            "*",
            *[F.lit(b).alias(f"b{i}") for i, b in enumerate(bounds)],
        )
        .write.mode("overwrite")
        .parquet(path)
    )


@artifact
def _stored_bounds(spark: SparkSession, path: str) -> tuple[float, ...]:
    """The boundaries b0, b1, ... of a published histogram state, read
    on the driver from its parquet footers (metadata only, no Spark
    job). Every state row carries the same boundary values, so each
    b-column's min statistic IS its boundary. Empty for a state with
    no rows."""
    import pyarrow.parquet as pq

    for part in sorted(Path(path).glob("*.parquet")):
        footer = pq.read_metadata(part)
        cols = [
            c
            for _, c in sorted(
                (int(n[1:]), c)
                for c, n in enumerate(footer.schema.names)
                if n[0] == "b" and n[1:].isdigit()
            )
        ]
        for g in range(footer.num_row_groups):
            stats = [footer.row_group(g).column(c).statistics for c in cols]
            if all(st is not None and st.has_min_max for st in stats):
                return tuple(float(st.min) for st in stats)
    return ()


def _merged_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained equi-depth histogram as a frame: stored
    pre-cutover state + the delta binned against the STORED boundaries,
    accumulators merged (cnt+cnt, min/max) — the shared input of the
    delta-merge report and the quantile-serving consumer. History is
    never rescanned, and the state is scanned once: the boundaries
    enter the delta's bucket expression as literals read from the
    state's parquet footers (_stored_bounds), so building the frame
    runs no Spark job."""
    path = ensure_histogram_state(spark, sf_dir)
    state = parquet_memo(spark, path).select("bucket", "n_rows", "lo", "hi")
    bounds = _stored_bounds(spark, path)
    if not bounds:
        return state  # no history, no boundaries: nothing to bin against
    bucket = sum(
        F.when(F.col("l_extendedprice") > F.lit(b), 1).otherwise(0)
        for b in bounds
    ).cast("long")
    delta = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit(_HDM_CUT).cast("timestamp"))
        .select(F.col("l_extendedprice").alias("p"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("p").alias("lo"),
            F.max("p").alias("hi"),
        )
    )
    return (
        state.unionByName(delta)
        .groupBy("bucket")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.min("lo").alias("lo"),
            F.max("hi").alias("hi"),
        )
    )


def _hdm_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.queries.aggregates import (
        _EQD_QS,
    )

    bnds = ", ".join(
        oracle_dround(f"quantile_cont(l_extendedprice, {q})", 2) + f" AS b{i}"
        for i, q in enumerate(_EQD_QS)
    )
    bucket = " + ".join(
        f"(CASE WHEN l_extendedprice > b{i} THEN 1 ELSE 0 END)"
        for i in range(len(_EQD_QS))
    )
    share = oracle_dround("n_rows / t.total", 6)
    return f"""
    WITH bnd AS (
      SELECT {bnds} FROM lineitem
      WHERE l_shipdate < TIMESTAMP '{_HDM_CUT}'
    ),
    binned AS (
      SELECT CAST({bucket} AS BIGINT) AS bucket, l_extendedprice AS p
      FROM lineitem, bnd
    ),
    g AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(p) AS lo, MAX(p) AS hi
      FROM binned GROUP BY bucket
    ),
    t AS (SELECT SUM(n_rows) AS total FROM g)
    SELECT bucket, n_rows, lo, hi,
           {share} AS share,
           (ABS({share} - 0.125) > {_HDM_DRIFT_TOL}) AS drifted
    FROM g, t
    """


@query("histogram_delta_merge", oracle=_hdm_oracle())
def histogram_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16+ (r14): INCREMENTAL CBO-statistics maintenance — the
    delta-merge form of ``equi_depth_histogram``, closing the pair
    r13's ``join_size_estimate`` started (the two statistics a cost
    model feeds on — per-column histograms and join cardinalities —
    both now maintainable without rescans). The stored state holds
    per-bucket accumulators (count, lo, hi) over all pre-cutover rows,
    binned against the old slice's exact octile boundaries, with the
    boundary VALUES carried on the state rows; a refresh bins ONLY the
    delta slice against those stored boundaries (read from the state's
    parquet footers into literals — no percentile recompute, no history
    scan) and merges accumulators (cnt+cnt, min(lo), max(hi)) — the
    ``mv_incremental_merge`` idiom applied to statistics. The output
    doubles as the re-ANALYZE trigger: per-bucket share against the
    equi-depth target 1/8, with ``drifted`` marking buckets whose
    share deviates beyond 0.03 — when deltas skew the distribution,
    drifted buckets say exactly when re-fitting boundaries (the full
    ANALYZE) is worth its scan. The oracle recomputes boundaries from
    the old slice and bins ALL rows from scratch: the merge must equal
    the full recompute exactly, bucket by bucket (integer counts;
    boundary and share doubles dround-quantized on both sides)."""
    # the total rides on one row with the <= 8 bucket rows it sums, so
    # the merged histogram is evaluated once (joining a separate
    # agg(sum) back would execute its scans twice)
    merged = (
        _merged_histogram(spark, sf_dir)
        .agg(
            F.collect_list(F.struct("bucket", "n_rows", "lo", "hi")).alias("b"),
            F.sum("n_rows").cast("long").alias("total"),
        )
        .select(F.explode("b").alias("b"), "total")
        .select("b.*", "total")
    )
    share = dround(F.col("n_rows").cast("double") / F.col("total"), 6)
    return merged.select(
        "bucket",
        "n_rows",
        "lo",
        "hi",
        share.alias("share"),
        (F.abs(share - F.lit(0.125)) > F.lit(_HDM_DRIFT_TOL)).alias(
            "drifted"
        ),
    )


# --- k-anonymity audit (r15) -----------------------------------------
# The release-gate compliance twin of erasure_propagation: erasure
# removes the identified rows; this measures whether what REMAINS is
# re-identifiable. Quasi-identifier ladder, most specific first — each
# level drops the rightmost QI, which is exactly GROUP BY ROLLUP.
_KANON_K = 5


def _kanon_oracle() -> str:
    pct = oracle_dround(
        "100.0 * CAST(rows_below_k AS DOUBLE) / n_rows", 4
    )
    return f"""
    WITH qi AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band
      FROM customer
    ),
    grps AS (
      SELECT GROUPING(seg, nat, band) AS gid, COUNT(*) AS gsz
      FROM qi GROUP BY ROLLUP(seg, nat, band)
    ),
    lv AS (
      SELECT gid,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(MIN(gsz) AS BIGINT) AS min_group_size,
             CAST(SUM(CASE WHEN gsz < {_KANON_K} THEN gsz ELSE 0 END)
               AS BIGINT) AS rows_below_k,
             CAST(SUM(gsz) AS BIGINT) AS n_rows
      FROM grps GROUP BY gid
    )
    SELECT CASE gid WHEN 0 THEN 'segment+nation+band'
                    WHEN 1 THEN 'segment+nation'
                    WHEN 3 THEN 'segment'
                    ELSE 'none' END AS generalization,
           n_groups, min_group_size, rows_below_k,
           {pct} AS suppressed_pct,
           (rows_below_k = 0) AS is_k_anonymous
    FROM lv
    """


@query("k_anonymity_audit", oracle=_kanon_oracle())
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17 (r15): k-anonymity audit with a generalization ladder — the
    privacy release gate next to erasure_propagation: erasure deletes
    the identified rows, this measures whether the SURVIVORS are
    re-identifiable through quasi-identifiers (Sweeney 2002). A table
    is k-anonymous under a QI projection when every QI combination is
    shared by >= k rows; rows in smaller groups would need suppression
    before release. The audit reports, for each rung of the
    generalization ladder (segment+nation+balance-band ->
    segment+nation -> segment -> none), the group count, the smallest
    group, the rows needing suppression under k=5, and the suppressed
    share — the curve a data owner reads to pick the cheapest
    generalization that clears policy.

    Plan shape: the ladder is GROUP BY ROLLUP — every rung in ONE
    Expand + ONE keyed exchange (Spark's rollup replicates each row
    once per rung map-side, partial-aggregated before the shuffle),
    then a rung-count-sized final agg. The naive form is one group-by
    per rung = L full passes; at 100 TB the rollup does them all in
    the single pass the most specific rung already needed. All
    measures are integer counts; the only double is the suppressed
    share, rounded through the cross-engine decimal path."""
    qi = load(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("bigint").alias("band"),
    )
    grps = qi.rollup("seg", "nat", "band").agg(
        F.count(F.lit(1)).alias("gsz"), F.grouping_id().alias("gid")
    )
    lv = grps.groupBy("gid").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("gsz").cast("long").alias("min_group_size"),
        F.sum(F.when(F.col("gsz") < _KANON_K, F.col("gsz")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_below_k"),
        F.sum("gsz").cast("long").alias("n_rows"),
    )
    return lv.select(
        F.when(F.col("gid") == 0, F.lit("segment+nation+band"))
        .when(F.col("gid") == 1, F.lit("segment+nation"))
        .when(F.col("gid") == 3, F.lit("segment"))
        .otherwise(F.lit("none"))
        .alias("generalization"),
        "n_groups",
        "min_group_size",
        "rows_below_k",
        dround(
            F.lit(100.0) * F.col("rows_below_k").cast("double") / F.col("n_rows"),
            4,
        ).alias("suppressed_pct"),
        (F.col("rows_below_k") == 0).alias("is_k_anonymous"),
    )


# --- l-diversity audit (r15) -----------------------------------------
# The third member of the privacy suite: erasure removes identified
# rows, k-anonymity measures group SIZE, l-diversity measures whether
# the sensitive value is actually heterogeneous within each group — a
# k-anonymous group whose members all share one sensitive value still
# leaks it (the homogeneity attack k-anonymity misses).
_LDIV_L = 3


def _ldiv_oracle() -> str:
    return f"""
    WITH qi AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS sens
      FROM customer
    ),
    grps AS (
      SELECT GROUPING(seg, nat) AS gid,
             COUNT(*) AS gsz,
             COUNT(DISTINCT sens) AS l
      FROM qi GROUP BY ROLLUP(seg, nat)
    )
    SELECT CASE gid WHEN 0 THEN 'segment+nation'
                    WHEN 1 THEN 'segment'
                    ELSE 'none' END AS generalization,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(l) AS BIGINT) AS min_l,
           CAST(SUM(CASE WHEN l < {_LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_below_l,
           CAST(SUM(CASE WHEN l < {_LDIV_L} THEN gsz ELSE 0 END) AS BIGINT)
             AS rows_in_low_groups
    FROM grps GROUP BY gid
    """


@query("l_diversity_audit", oracle=_ldiv_oracle())
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17 (r15): distinct l-diversity audit — the homogeneity-attack
    check k_anonymity_audit cannot make (Machanavajjhala et al. 2007):
    a QI group can be comfortably k-anonymous while every member
    shares ONE sensitive value, so group size alone still leaks the
    attribute. Per generalization rung (segment+nation -> segment ->
    none; sensitive attribute = the balance band), the number of QI
    groups, the worst group's distinct-sensitive-value count, and the
    groups/rows failing l=3 — read next to the k-anonymity ladder to
    pick a release generalization that passes BOTH gates.

    Plan: same shape as the k-anonymity ladder — every rung from ONE
    GROUP BY ROLLUP pass (Spark plans the distinct aggregate as the
    standard two-phase Expand over the rollup output, still one scan
    of customer), then a rung-count-sized gid aggregate. Generalizing
    merges groups, so min_l is non-decreasing down the ladder — the
    monotonicity tests/test_operators.py pins alongside the
    brute-force census."""
    qi = load(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("bigint")
        .alias("sens"),
    )
    grps = qi.rollup("seg", "nat").agg(
        F.count(F.lit(1)).alias("gsz"),
        F.count_distinct("sens").alias("l"),
        F.grouping_id().alias("gid"),
    )
    return grps.groupBy("gid").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("l").cast("long").alias("min_l"),
        F.sum((F.col("l") < _LDIV_L).cast("long")).alias("groups_below_l"),
        F.sum(F.when(F.col("l") < _LDIV_L, F.col("gsz")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_in_low_groups"),
    ).select(
        F.when(F.col("gid") == 0, F.lit("segment+nation"))
        .when(F.col("gid") == 1, F.lit("segment"))
        .otherwise(F.lit("none"))
        .alias("generalization"),
        "n_groups",
        "min_l",
        "groups_below_l",
        "rows_in_low_groups",
    )


# --- histogram-served quantile estimates (r15) -----------------------
# The CONSUMER half of the maintained statistic: the point of keeping
# an equi-depth histogram current is answering quantile questions
# WITHOUT scanning the column. (index, quantile) pairs feed both
# engines; join on the integer index, never a double key.
_HQE_QS = ((0, 0.25), (1, 0.5), (2, 0.75), (3, 0.9))


@artifact
def _hqe_exact_fit(spark: SparkSession, sf_dir: str) -> tuple[float, ...]:
    """The exact-percentile accuracy harness, fit ONCE per (session,
    corpus version) and entering the report as literals — the
    fit-then-broadcast shape every model query here uses (bm25 corpus
    stats, kmeans centroids). Exact percentile is the one full-column
    read in the consumer path and it exists only to VALIDATE the
    state-served estimate, so it is per-corpus validation state, not
    per-question work: warm quantile questions cost the 8-row walk
    alone (probed 7.1x across the 10x step with the harness inline;
    1.0x cached). The scan is fanned out via parallelize_small_scan —
    percentile over a single-row-group parquet otherwise runs as ONE
    serial task."""
    from multichannel_commerce_data_pipeline_spark.tables import (
        parallelize_small_scan,
    )

    li = parallelize_small_scan(spark, load(spark, sf_dir, "lineitem"))
    # ONE array-percentile aggregate: N scalar F.percentile
    # expressions each buffer the whole column per partition (the
    # exact aggregate keeps every value), so the fit paid N column
    # copies; the array form sorts once and reads all cut points
    # from it — values bit-identical, measured 4.1 -> 1.3 s at
    # sf0.1 (r17, guide §1.2 per-task work).
    row = (
        li.agg(
            F.percentile(
                "l_extendedprice", F.lit([q for _, q in _HQE_QS])
            ).alias("__ps")
        )
        .select(
            *[
                dround(F.element_at("__ps", i + 1), 4).alias(f"e{qi}")
                for i, (qi, _) in enumerate(_HQE_QS)
            ]
        )
        .collect()[0]
    )
    return tuple(float(row[f"e{qi}"]) for qi, _ in _HQE_QS)


def _hqe_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.queries.aggregates import (
        _EQD_QS,
    )

    bnds = ", ".join(
        oracle_dround(f"quantile_cont(l_extendedprice, {q})", 2) + f" AS b{i}"
        for i, q in enumerate(_EQD_QS)
    )
    bucket = " + ".join(
        f"(CASE WHEN l_extendedprice > b{i} THEN 1 ELSE 0 END)"
        for i in range(len(_EQD_QS))
    )
    vals = ", ".join(f"({qi}, {q})" for qi, q in _HQE_QS)
    exacts = ", ".join(
        oracle_dround(f"quantile_cont(l_extendedprice, {q})", 4) + f" AS e{qi}"
        for qi, q in _HQE_QS
    )
    e_pick = " + ".join(
        f"(CASE WHEN qi = {qi} THEN e{qi} ELSE 0 END)" for qi, _ in _HQE_QS
    )
    est = "lo + (hi - lo) * (tgt - cb) / n_rows"
    return f"""
    WITH bnd AS (
      SELECT {bnds} FROM lineitem
      WHERE l_shipdate < TIMESTAMP '{_HDM_CUT}'
    ),
    binned AS (
      SELECT CAST({bucket} AS BIGINT) AS bucket, l_extendedprice AS p
      FROM lineitem, bnd
    ),
    g AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(p) AS lo, MAX(p) AS hi
      FROM binned GROUP BY bucket
    ),
    cum AS (
      SELECT bucket, n_rows, lo, hi,
             CAST(SUM(n_rows) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS c
      FROM g
    ),
    tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM g),
    qs AS (SELECT * FROM (VALUES {vals}) AS v(qi, q)),
    pick AS (
      SELECT qs.qi, qs.q, cum.lo, cum.hi, cum.n_rows,
             cum.c - cum.n_rows AS cb, qs.q * tot.total AS tgt
      FROM cum, tot, qs
      WHERE cum.c - cum.n_rows < qs.q * tot.total
        AND qs.q * tot.total <= cum.c
    ),
    ex AS (SELECT {exacts} FROM lineitem)
    SELECT CAST(pick.q AS DOUBLE) AS quantile,
           {oracle_dround(est, 4)} AS est_value,
           CAST({e_pick} AS DOUBLE) AS exact_value,
           {oracle_dround(f"ABS(({est}) - ({e_pick})) / ({e_pick})", 6)}
             AS rel_err
    FROM pick, ex
    """


@query("histogram_quantile_estimate", oracle=_hqe_oracle())
def histogram_quantile_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16+ (r15): the CONSUMER half of the maintained CBO statistic —
    quantiles SERVED from the incrementally-maintained equi-depth
    histogram (stored state + delta, the histogram_delta_merge
    artifact), with the exact percentile riding along as the accuracy
    harness (the join_size_estimate convention), FIT ONCE per corpus
    version and entering as literals (_hqe_exact_fit — the
    bm25/kmeans fit-then-broadcast shape): at 100 TB the exact column
    ships only while validating, and every quantile question answers
    from <= 8 accumulator rows — no column scan at question time. Classic
    histogram interpolation: walk the cumulative counts to the bucket
    covering target = q·N, then linear-interpolate inside [lo, hi] by
    the bucket-local fraction. Equi-depth construction is exactly what
    bounds the error: every bucket holds ~N/8 rows, so the true
    quantile can sit at most one bucket-width from the estimate.

    Plan: the merged histogram is the shared _merged_histogram frame
    (one state scan + the delta scan binned against the stored
    boundaries as literals); the cumulative walk and
    the total are two frames of one window over the <= 8 bucket rows
    (single-partition by construction — bounded state, not data), so
    the merged frame executes once; quantile targets explode from a literal
    array and join on the INTEGER index (a double join key would
    invite cross-engine representation trouble); the exact
    percentiles are one aggregate over the column, broadcast back.
    All interpolation arithmetic is identical text in both engines on
    identical inputs."""
    from pyspark.sql import Window as W

    # The histogram-state build and the exact-percentile accuracy fit
    # are independent once-per-corpus jobs; overlap them on the cold
    # call (r17, guide §2.6 — the wave-8 threaded-materialization
    # idiom). Warm calls find both built and run no job.
    m, exact = concurrently(
        spark,
        lambda: _merged_histogram(spark, sf_dir),
        lambda: _hqe_exact_fit(spark, sf_dir),
    )
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    whole = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = m.select(
        "bucket",
        "n_rows",
        "lo",
        "hi",
        F.sum("n_rows").over(w).alias("c"),
        F.sum("n_rows").over(whole).cast("long").alias("total"),
    )
    qs = F.array(
        *[
            F.struct(F.lit(qi).alias("qi"), F.lit(float(q)).alias("q"))
            for qi, q in _HQE_QS
        ]
    )
    fanned = cum.select("*", F.explode(qs).alias("s")).select("*", "s.*")
    tgt = F.col("q") * F.col("total")
    cb = F.col("c") - F.col("n_rows")
    pick = fanned.filter((cb < tgt) & (tgt <= F.col("c")))
    est = F.col("lo") + (F.col("hi") - F.col("lo")) * (tgt - cb) / F.col(
        "n_rows"
    )
    e_pick = sum(
        F.when(F.col("qi") == qi, F.lit(exact[i])).otherwise(F.lit(0.0))
        for i, (qi, _) in enumerate(_HQE_QS)
    )
    return pick.select(
        F.col("q").cast("double").alias("quantile"),
        dround(est, 4).alias("est_value"),
        e_pick.cast("double").alias("exact_value"),
        dround(F.abs(est - e_pick) / e_pick, 6).alias("rel_err"),
    )


# --- incremental NDV statistics maintenance (r16) --------------------
# The third and last CBO statistic made incrementally maintainable:
# histogram_delta_merge keeps per-column DISTRIBUTION current,
# join_size_estimate prices JOINS, this keeps per-column CARDINALITY
# (NDV) current — the statistic that prices group-bys and distinct
# aggregations. Register family + constants are single-sourced from
# minhash_distinct_estimate (m=128 min-hash registers, Lumbroso
# order-statistics estimator), so the stored state here is exactly
# the sketch that query computes from scratch.


@layout("lineitem", name="ndv_state")
def ensure_ndv_state(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The stored NDV STATE: the m=128 min-hash registers of l_partkey
    over the pre-cutover lineitem slice (the same cutover the
    histogram state uses, so the two statistics age together). <= m
    rows of (bucket, min_h)."""
    from multichannel_commerce_data_pipeline_spark.operators.frequency import (
        minhash_distinct_sketch,
    )
    from multichannel_commerce_data_pipeline_spark.queries.aggregates import (
        _MH_M,
        _MH_SEED,
    )

    old = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit(_HDM_CUT).cast("timestamp")
    )
    minhash_distinct_sketch(
        old, F.col("l_partkey"), m=_MH_M, seed=_MH_SEED
    ).write.mode("overwrite").parquet(path)


@artifact
def _ndv_full_fit(spark: SparkSession, sf_dir: str) -> tuple[dict[int, int], int]:
    """The from-scratch validation harness — full-corpus registers +
    exact COUNT DISTINCT — fit ONCE per (session, corpus version) and
    entering the report as literals (the _hqe_exact_fit economics:
    the full rebuild is the one whole-column read in the consumer
    path and exists only to VALIDATE the merge, so it is per-corpus
    validation state, not per-question work). Warm NDV questions cost
    the <= m-row state read plus the delta scan alone."""
    from multichannel_commerce_data_pipeline_spark.operators.frequency import (
        minhash_distinct_sketch,
    )
    from multichannel_commerce_data_pipeline_spark.queries.aggregates import (
        _MH_M,
        _MH_SEED,
    )
    from multichannel_commerce_data_pipeline_spark.tables import (
        parallelize_small_scan,
    )

    li = parallelize_small_scan(spark, load(spark, sf_dir, "lineitem"))
    regs = {
        int(r["bucket"]): int(r["min_h"])
        for r in minhash_distinct_sketch(
            li, F.col("l_partkey"), m=_MH_M, seed=_MH_SEED
        ).collect()  # bounded: <= m register rows
    }
    exact = li.agg(
        F.countDistinct("l_partkey").cast("long").alias("x")
    ).collect()[0]["x"]
    return regs, int(exact)


def _ndv_est_agg(min_h_col: str):
    """The Lumbroso estimator m**2/S - m as an aggregate expression —
    IDENTICAL text to minhash_distinct_estimate's (S sums the
    dround-quantized normalized register minima as exact DECIMAL, so
    the sum is association-free and the estimate reproduces
    bit-for-bit cross-engine)."""
    from multichannel_commerce_data_pipeline_spark.queries.aggregates import (
        _MH_M,
        _MH_R,
    )

    term = dround(F.col(min_h_col).cast("double") / F.lit(float(_MH_R)), 12)
    s_sum = F.sum(term.cast("decimal(28,12)")).cast("double")
    return dround(F.lit(float(_MH_M * _MH_M)) / s_sum - _MH_M, 6)


def _ndv_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.functions import (
        oracle_hash64,
    )
    from multichannel_commerce_data_pipeline_spark.queries.aggregates import (
        _MH_M,
        _MH_R,
        _MH_SEED,
    )

    h = oracle_hash64("CAST(l_partkey AS VARCHAR)", _MH_SEED)
    term = oracle_dround(f"CAST(min_h AS DOUBLE) / CAST({_MH_R} AS DOUBLE)", 12)
    s_sum = f"CAST(SUM(CAST({term} AS DECIMAL(28,12))) AS DOUBLE)"
    est = oracle_dround(f"CAST({_MH_M * _MH_M} AS DOUBLE) / ({s_sum}) - {_MH_M}", 6)
    rel = oracle_dround(
        "abs(est_distinct_merged - exact_distinct) / exact_distinct", 6
    )
    return f"""
    WITH pre AS (
      SELECT CAST(h % {_MH_M} AS INT) AS bucket, MIN(h) AS min_h
      FROM (SELECT {h} AS h FROM lineitem
            WHERE l_shipdate < TIMESTAMP '{_HDM_CUT}')
      GROUP BY 1
    ),
    dlt AS (
      SELECT CAST(h % {_MH_M} AS INT) AS bucket, MIN(h) AS min_h
      FROM (SELECT {h} AS h FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '{_HDM_CUT}')
      GROUP BY 1
    ),
    merged AS (
      SELECT bucket, MIN(min_h) AS min_h
      FROM (SELECT * FROM pre UNION ALL SELECT * FROM dlt)
      GROUP BY bucket
    ),
    fullr AS (
      SELECT CAST(h % {_MH_M} AS INT) AS bucket, MIN(h) AS min_h
      FROM (SELECT {h} AS h FROM lineitem)
      GROUP BY 1
    ),
    em AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_registers_hit,
             {est} AS est_distinct_merged
      FROM merged
    ),
    ef AS (SELECT {est} AS est_distinct_full FROM fullr),
    upd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_registers_updated
      FROM merged m LEFT JOIN pre p ON m.bucket = p.bucket
      WHERE p.min_h IS NULL OR m.min_h < p.min_h
    ),
    eq AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_mismatch
      FROM merged m FULL OUTER JOIN fullr f ON m.bucket = f.bucket
      WHERE m.min_h IS DISTINCT FROM f.min_h
    ),
    ex AS (
      SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
      FROM lineitem
    )
    SELECT n_registers_hit, n_registers_updated,
           est_distinct_merged, est_distinct_full,
           (n_mismatch = 0) AS merge_matches_full,
           exact_distinct, {rel} AS rel_err
    FROM em, ef, upd, eq, ex
    """


@query("ndv_delta_merge", oracle=_ndv_oracle())
def ndv_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16+ (r16): INCREMENTAL NDV-statistics maintenance — the third
    and last CBO statistic made maintainable without rescans
    (histograms price range predicates, join-size sketches price
    joins, NDV prices group-bys and DISTINCT aggregations — a cost
    model needs all three current). The stored state is
    minhash_distinct_estimate's m=128 min-hash register sketch over
    the pre-cutover lineitem slice (same cutover as the histogram
    state, so the statistics age together); a refresh sketches ONLY
    the delta slice and folds registers by bucket-wise MIN — the
    merge law the register construction exists for (min over a
    partition union = min of partition minima; its exactness is
    property-tested in tests/test_property_sketches.py). History is
    never rescanned: the warm path costs the <= 128-row state read
    plus the pushed-filter delta scan.

    The report carries its own proof: the from-scratch full-corpus
    registers (fit once per corpus version, entering as literals —
    the _hqe_exact_fit economics) must equal the merged registers
    REGISTER-FOR-REGISTER (``merge_matches_full``; driver-compared on
    both engines, where the oracle recomputes merged AND full from
    SQL), and the exact COUNT DISTINCT rides along as the accuracy
    harness (rel_err ~ 1/sqrt(m)). ``n_registers_updated`` is the
    refresh telemetry: how many stored minima the delta actually
    lowered (or created) — the statistic's own staleness meter.
    Replaces the reference's rerun-everything loop
    (scripts/warehouse/silver_to_gold.py rebuilt ALL marts on a 300 s
    cycle — reference Dockerfile.silver-to-gold CMD), where every
    statistics question re-read the whole corpus."""
    import json

    from multichannel_commerce_data_pipeline_spark.operators.frequency import (
        minhash_distinct_sketch,
    )
    from multichannel_commerce_data_pipeline_spark.queries.aggregates import (
        _MH_M,
        _MH_SEED,
    )

    state = parquet_memo(spark, ensure_ndv_state(spark, sf_dir))
    delta = minhash_distinct_sketch(
        load(spark, sf_dir, "lineitem").filter(
            F.col("l_shipdate") >= F.lit(_HDM_CUT).cast("timestamp")
        ),
        F.col("l_partkey"),
        m=_MH_M,
        seed=_MH_SEED,
    )
    merged = (
        state.unionByName(delta)
        .groupBy("bucket")
        .agg(F.min("min_h").alias("min_h"))
    )
    em = merged.agg(
        F.count(F.lit(1)).cast("long").alias("n_registers_hit"),
        _ndv_est_agg("min_h").alias("est_distinct_merged"),
    )
    upd = (
        merged.join(
            F.broadcast(state.withColumnRenamed("min_h", "state_min")),
            "bucket",
            "left",
        )
        .agg(
            F.coalesce(
                F.sum(
                    (
                        F.col("state_min").isNull()
                        | (F.col("min_h") < F.col("state_min"))
                    ).cast("long")
                ),
                F.lit(0).cast("long"),
            ).alias("n_registers_updated")
        )
    )
    full_regs, exact = _ndv_full_fit(spark, sf_dir)
    fr = (
        spark.range(1)
        .select(
            F.explode(
                F.from_json(
                    F.lit(
                        json.dumps(
                            [
                                {"bucket": b, "min_h": v}
                                for b, v in sorted(full_regs.items())
                            ]
                        )
                    ),
                    "array<struct<bucket:int,min_h:bigint>>",
                )
            ).alias("r")
        )
        .select("r.bucket", F.col("r.min_h").alias("min_h"))
    )
    ef = fr.agg(_ndv_est_agg("min_h").alias("est_distinct_full"))
    eq = (
        # no broadcast hint: Spark cannot build-right a FULL OUTER
        # broadcast join; both sides are <= m register rows anyway
        merged.join(
            fr.withColumnRenamed("min_h", "full_min"),
            "bucket",
            "full_outer",
        )
        .agg(
            F.coalesce(
                F.sum(
                    (~F.col("min_h").eqNullSafe(F.col("full_min"))).cast(
                        "long"
                    )
                ),
                F.lit(0).cast("long"),
            ).alias("n_mismatch")
        )
    )
    return (
        em.join(upd)
        .join(ef)
        .join(eq)
        .select(
            "n_registers_hit",
            "n_registers_updated",
            "est_distinct_merged",
            "est_distinct_full",
            (F.col("n_mismatch") == 0).alias("merge_matches_full"),
            F.lit(int(exact)).cast("long").alias("exact_distinct"),
            dround(
                F.abs(F.col("est_distinct_merged") - F.lit(int(exact)))
                / F.lit(float(exact)),
                6,
            ).alias("rel_err"),
        )
    )


# --- streaming erasure propagation (r16) -----------------------------
# erasure_propagation's arrival-time twin: deletion requests trickle
# in as CDC tombstone micro-batches and each batch cascades through
# the live snapshot (streaming/jobs.stream_erasure_apply). Tombstone
# application is commutative + idempotent, so the final snapshot must
# equal the batch erasure over the CUMULATIVE tombstone set — which
# is exactly what the oracle computes, so the driver row proves the
# cross-batch cascade converged to the backfill result.
@artifact
def _stream_erasure_run(spark: SparkSession, sf_dir: str) -> str:
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        Feed,
        stream_erasure_apply,
    )

    feed = Feed("mcdp_serase_", sf_dir)
    tomb = _erase_tombstones(spark, sf_dir).select(
        "c_custkey", F.lit("delete").alias("op")
    )
    # two deterministic request batches (even keys arrive first,
    # then odd) — both non-empty at every driver sf
    feed.push(tomb.filter(F.col("c_custkey") % 2 == 0), "json")
    feed.push(tomb.filter(F.col("c_custkey") % 2 == 1), "json")
    stream_erasure_apply(
        spark,
        feed.glob,
        "c_custkey bigint, op string",
        sf_dir,
        feed.out,
        feed.ckpt,
    )
    return feed.out


def _stream_erasure_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.functions import (
        oracle_hash64,
    )
    from multichannel_commerce_data_pipeline_spark.operators.reconcile import (
        oracle_row_fingerprint,
    )

    tomb = (
        f"SELECT c_custkey FROM customer WHERE"
        f" ({oracle_hash64('CAST(c_custkey AS VARCHAR)', _ERASE_SEED)})"
        f" % {_ERASE_MOD} = 0"
    )
    rows = []
    for table, parent in (
        ("customer", "c_custkey IN (SELECT c_custkey FROM tomb)"),
        ("orders", "o_custkey IN (SELECT c_custkey FROM tomb)"),
        ("lineitem", "l_orderkey IN (SELECT o_orderkey FROM gone)"),
    ):
        fp = oracle_row_fingerprint(_ERASE_FP_SQL[table])
        rows.append(
            f"""    SELECT '{table}' AS table_name,
           CAST(2 AS BIGINT) AS n_batches,
           CAST(COUNT(*) AS BIGINT) AS rows_before,
           CAST(SUM(CASE WHEN {parent} THEN 1 ELSE 0 END) AS BIGINT)
             AS rows_removed,
           CAST(SUM(CASE WHEN {parent} THEN 0 ELSE 1 END) AS BIGINT)
             AS rows_after,
           COALESCE(bit_xor(CASE WHEN {parent} THEN NULL ELSE {fp} END),
                    0) AS digest,
           TRUE AS erase_match
    FROM {table}"""
        )
    body = "\n    UNION ALL\n".join(rows)
    return f"""
    WITH tomb AS ({tomb}),
    gone AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM tomb)
    )
{body}
    """


@query("stream_erasure_rollup", oracle=_stream_erasure_oracle())
def stream_erasure_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17+/T5/T7 (r16): STREAMING erasure propagation — the form a
    live warehouse actually runs deletion requests through. GDPR
    tombstones arrive as two CDC delete micro-batches; each batch
    applies the full broadcast anti-join cascade against the CURRENT
    snapshot and publishes copy-on-write with a _LATEST pointer and a
    per-batch XOR-digest audit riding along
    (streaming/jobs.stream_erasure_apply — the stream_merge_snapshot
    idempotent-publish idiom, so replayed batches and checkpointed
    restarts converge; pinned in tests/test_streaming.py). Because
    tombstone application is commutative and idempotent, the final
    snapshot must equal batch erasure_propagation over the cumulative
    tombstone set — and that is precisely what the oracle computes
    relationally, so the green driver row PROVES the cross-batch
    cascade (including the orders->lineitem cascade spanning a batch
    boundary) converged to the backfill result: per table, row count
    + order-independent XOR of portable row fingerprints of the
    PHYSICAL final snapshot, compared against the engine's own
    complement recomputation from source (erase_match) AND against
    the oracle's digests. n_batches counts the landed per-batch audit
    tables — the stream provenance the batch twin doesn't have."""
    from multichannel_commerce_data_pipeline_spark.operators.reconcile import (
        row_fingerprint,
    )
    from multichannel_commerce_data_pipeline_spark.tables import (
        parallelize_small_scan,
    )

    snap = _stream_erasure_run(spark, sf_dir)
    latest = (Path(snap) / "_LATEST").read_text().strip()
    n_batches = len(
        [p for p in Path(snap).iterdir() if p.name.startswith("audit-")]
    )
    tomb = _erase_tombstones(spark, sf_dir)
    gone = (
        load(spark, sf_dir, "orders")
        .join(
            F.broadcast(tomb),
            F.col("o_custkey") == tomb.c_custkey,
            "left_semi",
        )
        .select("o_orderkey")
    )

    def side(table: str, erased_key, erased_set: DataFrame) -> DataFrame:
        es = erased_set.select(
            F.col(erased_set.columns[0]).alias("__ekey")
        )
        src = parallelize_small_scan(spark, load(spark, sf_dir, table))
        flagged = src.join(
            F.broadcast(es), erased_key(src) == F.col("__ekey"), "left"
        ).withColumn("__gone", F.col("__ekey").isNotNull())
        exp = flagged.agg(
            F.count(F.lit(1)).cast("long").alias("rows_before"),
            F.sum(F.col("__gone").cast("long")).alias("rows_removed"),
            F.sum((~F.col("__gone")).cast("long")).alias("e_after"),
            F.coalesce(
                F.bit_xor(
                    F.when(
                        ~F.col("__gone"),
                        row_fingerprint(_erase_fp_cols(src, table)),
                    )
                ),
                F.lit(0).cast("long"),
            ).alias("e_digest"),
        )
        written = parallelize_small_scan(
            spark, spark.read.parquet(f"{snap}/{latest}/{table}")
        )
        w = written.agg(
            F.count(F.lit(1)).cast("long").alias("rows_after"),
            F.coalesce(
                F.bit_xor(row_fingerprint(_erase_fp_cols(written, table))),
                F.lit(0).cast("long"),
            ).alias("digest"),
        )
        return exp.join(w).select(
            F.lit(table).alias("table_name"),
            F.lit(int(n_batches)).cast("long").alias("n_batches"),
            "rows_before",
            "rows_removed",
            "rows_after",
            "digest",
            (
                (F.col("rows_after") == F.col("e_after"))
                & (F.col("digest") == F.col("e_digest"))
            ).alias("erase_match"),
        )

    c = side("customer", lambda d: d.c_custkey, tomb)
    o = side("orders", lambda d: d.o_custkey, tomb)
    li = side("lineitem", lambda d: d.l_orderkey, gone)
    return c.unionByName(o).unionByName(li)


# --- streaming NDV register maintenance (r16) ------------------------
# ndv_delta_merge's arrival-time twin, completing the CBO-statistics
# trio's STREAMING story (histograms: stream_binned_profile; join
# sizes: stream CM grids; NDV: this). Registers are algebraic state
# (bucket-wise MIN), so the generic stream_view_delta_refresh fold
# maintains them per micro-batch with history never rescanned.
_SNDV_SPLIT = "2001-07-01 00:00:00"  # two-batch split of the delta feed


@artifact
def _stream_ndv_run(spark: SparkSession, sf_dir: str) -> str:
    from multichannel_commerce_data_pipeline_spark.operators.frequency import (
        minhash_distinct_sketch,
    )
    from multichannel_commerce_data_pipeline_spark.queries.aggregates import (
        _MH_M,
        _MH_SEED,
    )
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        Feed,
        stream_view_delta_refresh,
    )

    feed = Feed("mcdp_sndv_", sf_dir)
    delta = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit(_HDM_CUT).cast("timestamp")
    )
    # two chunks split on ship date (register MIN-folding commutes;
    # the feed's pinned order keeps the landed state dirs reproducible)
    split = F.lit(_SNDV_SPLIT).cast("timestamp")
    pk = F.col("l_partkey").alias("pk")
    feed.push(delta.filter(F.col("l_shipdate") < split).select(pk))
    feed.push(delta.filter(F.col("l_shipdate") >= split).select(pk))
    init_state = spark.read.parquet(ensure_ndv_state(spark, sf_dir))
    stream_view_delta_refresh(
        spark,
        feed.glob,
        "pk bigint",
        feed.out,
        feed.ckpt,
        delta_agg=lambda b: minhash_distinct_sketch(
            b, F.col("pk"), m=_MH_M, seed=_MH_SEED
        ),
        init_state=init_state,
        merge=lambda df: df.groupBy("bucket").agg(
            F.min("min_h").alias("min_h")
        ),
    )
    return feed.out


def _stream_ndv_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.functions import (
        oracle_hash64,
    )
    from multichannel_commerce_data_pipeline_spark.operators.reconcile import (
        oracle_row_fingerprint,
    )
    from multichannel_commerce_data_pipeline_spark.queries.aggregates import (
        _MH_M,
        _MH_R,
        _MH_SEED,
    )

    h = oracle_hash64("CAST(l_partkey AS VARCHAR)", _MH_SEED)
    term = oracle_dround(f"CAST(min_h AS DOUBLE) / CAST({_MH_R} AS DOUBLE)", 12)
    s_sum = f"CAST(SUM(CAST({term} AS DECIMAL(28,12))) AS DOUBLE)"
    est = oracle_dround(
        f"CAST({_MH_M * _MH_M} AS DOUBLE) / ({s_sum}) - {_MH_M}", 6
    )
    fp = oracle_row_fingerprint(["bucket", "min_h"])
    return f"""
    WITH fullr AS (
      SELECT CAST(h % {_MH_M} AS INT) AS bucket, MIN(h) AS min_h
      FROM (SELECT {h} AS h FROM lineitem)
      GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_registers,
           bit_xor({fp}) AS registers_digest,
           {est} AS est_distinct
    FROM fullr
    """


@query("stream_ndv_rollup", oracle=_stream_ndv_oracle())
def stream_ndv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16+ × T5 (r16): STREAMING NDV register maintenance —
    ndv_delta_merge's arrival-time twin, completing the CBO trio's
    streaming story. The stored base-slice registers seed the view
    state; post-cutover lineitem rows then ARRIVE as two checkpointed
    micro-batches and the generic stream_view_delta_refresh fold
    advances ``state(bid) = MIN-merge(state(bid-1) ∪ sketch(batch))``
    — each batch ships at most m=128 register rows into the fold, the
    state is always exactly <= m rows regardless of stream length,
    and history is never rescanned (the streaming form of the
    rerun-everything statistics refresh the reference's 300 s loop
    implies).

    The oracle is the from-scratch register rebuild over the WHOLE
    corpus, compared by register count, the order-independent XOR of
    (bucket, min_h) fingerprints, and the served estimate — so a
    green driver row proves the cross-batch MIN fold over the
    micro-batch/state boundary is register-for-register identical to
    the batch rebuild (MIN's commutativity/associativity made
    physical). Restart/replay safety comes from the shared
    stream_view_delta_refresh contract (idempotent per-batch state
    snapshots with a one-predecessor replay window, pinned in
    tests/test_streaming.py)."""
    from multichannel_commerce_data_pipeline_spark.operators.reconcile import (
        row_fingerprint,
    )
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_latest_view_state,
    )

    out = _stream_ndv_run(spark, sf_dir)
    state = read_latest_view_state(spark, out)
    fp = row_fingerprint([F.col("bucket"), F.col("min_h")])
    return state.agg(
        F.count(F.lit(1)).cast("long").alias("n_registers"),
        F.bit_xor(fp).alias("registers_digest"),
        _ndv_est_agg("min_h").alias("est_distinct"),
    )
