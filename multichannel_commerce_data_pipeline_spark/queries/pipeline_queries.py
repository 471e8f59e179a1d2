"""Medallion pipeline queries — S1/S2 bronze JSON scan, the five silver
conformers (P1-P5, F9, F10), gold CM1/CM2, dim_date, and the end-to-end
``exec_daily_kpi`` composition, all oracle-paired against DuckDB
``read_json`` over the same committed bronze fixture files
(tests/fixtures/bronze, scripts/make_fixtures.py).

These run on the fixture corpus, not the sf tables — the point is the
reference's own pipeline semantics (bronze_to_silver_all_sources.py,
silver_to_gold.py, scripts/sql/.sql) verified end to end; scale behavior
is benchmarked by the sf-table queries.

Environmental assumption (audited 2026-08 under a forced
America/New_York session): the silver conformers parse MIXED-suffix ISO
timestamps — for offset-carrying strings Spark keeps the true epoch, so
queries that emit those timestamps (or date keys derived from them)
render differently under a non-UTC session while the tz-less DuckDB
oracles do not move. The driver's session is UTC (every one of these
queries is driver-green), and session.py pins UTC for all repo-created
sessions; if the driver environment ever changes zone, route emitted
timestamps through wall-time strings the way dq_profile_silver does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.functions import (
    dround,
    oracle_dround,
)
from multichannel_commerce_data_pipeline_spark.pipeline import gold, silver
from multichannel_commerce_data_pipeline_spark.pipeline.bronze import (
    flatten_envelope,
    read_bronze,
)
from multichannel_commerce_data_pipeline_spark.pipeline.schemas import (
    oracle_bronze_from,
)
from multichannel_commerce_data_pipeline_spark.queries import query


def _silver(spark: SparkSession, source: str) -> DataFrame:
    return {
        "joor": silver.conform_joor,
        "shopify": silver.conform_shopify,
        "tiktok": silver.conform_tiktok,
        "freight": silver.conform_freight,
        "gsheets": silver.conform_gsheets,
    }[source](flatten_envelope(read_bronze(spark, source)))


_WHOLESALE_REV = "unit_price * quantity"


def _cm1_wholesale(spark: SparkSession) -> DataFrame:
    return gold.cm1(
        _silver(spark, "joor"), "wholesale", F.col("unit_price") * F.col("quantity")
    )


def _oracle_cm1_wholesale() -> str:
    return gold.oracle_cm1(silver.oracle_conform_joor(), "wholesale", _WHOLESALE_REV)


@query(
    "pipeline_bronze_scan",
    oracle=f"""
    SELECT
      raw_api_data.id                  AS id,
      raw_api_data.customer_name       AS customer_name,
      raw_api_data.total_price         AS total_price,
      raw_api_data.quantity            AS quantity,
      raw_api_data.sku                 AS sku,
      raw_api_data.created_at          AS created_at,
      kafka_metadata.bronze_timestamp  AS bronze_timestamp
    FROM {oracle_bronze_from("shopify")}
    """,
)
def pipeline_bronze_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2: explicit-schema JSON glob scan of the bronze object layout
    ({src}/{Y}/{M}/{D}/*.json) and envelope flatten
    (bronze_to_silver_all_sources.py:26-27). sf_dir unused — reads the
    committed bronze fixtures."""
    return flatten_envelope(read_bronze(spark, "shopify"))


@query("silver_conform_joor", oracle=silver.oracle_conform_joor())
def silver_conform_joor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P3+F9: wholesale conformance — rename, $-price cleaning,
    currency normalization, mixed-ISO-suffix timestamps, null defaults
    (bronze_to_silver_all_sources.py:39-48 completed per SURVEY §2.8 F9)."""
    return _silver(spark, "joor")


@query("silver_conform_tiktok", oracle=silver.oracle_conform_tiktok())
def silver_conform_tiktok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+P7: cents→dollars arithmetic cast and epoch-seconds→timestamp
    (bronze_to_silver_all_sources.py:61-62)."""
    return _silver(spark, "tiktok")


@query("silver_conform_freight", oracle=silver.oracle_conform_freight())
def silver_conform_freight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: $-prefixed money and unit-suffixed weight ('3.2 kg'/'5 lbs')
    normalization the reference generates but never cleans
    (api_data_generator.py:134,142,150)."""
    return _silver(spark, "freight")


@query("silver_conform_gsheets", oracle=silver.oracle_conform_gsheets())
def silver_conform_gsheets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: ragged array-of-arrays sheet → typed rows with header
    promotion and money/percent cell cleaning — the path the reference
    leaves raw (bronze_to_silver_all_sources.py:74-79)."""
    return _silver(spark, "gsheets")


@query("gold_cm1_wholesale", oracle=_oracle_cm1_wholesale())
def gold_cm1_wholesale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CM1 wide projection (silver_to_gold.py:267-360): date keys,
    deterministic hash-bucket geo + IN-list region rollup, lit
    economics, margin arithmetic. Zero shuffles."""
    return _cm1_wholesale(spark)


@query(
    "gold_cm2_wholesale",
    oracle=gold.oracle_cm2(_oracle_cm1_wholesale(), silver.oracle_conform_freight()),
)
def gold_cm2_wholesale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CM2 (silver_to_gold.py:499-552): order rollup → broadcast left
    join with the projected freight build side (J1/J2) → payment-source
    fee switch (P12) → margin arithmetic. One shuffle total."""
    return gold.cm2(_cm1_wholesale(spark), _silver(spark, "freight"))


def _cm1_shopify(spark: SparkSession) -> DataFrame:
    return gold.cm1(_silver(spark, "shopify"), "shopify", F.col("total_price"))


def _oracle_cm1_shopify() -> str:
    return gold.oracle_cm1(silver.oracle_conform_shopify(), "shopify", "total_price")


def _cm1_livestreaming(spark: SparkSession) -> DataFrame:
    return gold.cm1(
        _silver(spark, "tiktok"),
        "livestreaming",
        F.col("unit_price") * F.col("quantity"),
    )


def _oracle_cm1_livestreaming() -> str:
    return gold.oracle_cm1(
        silver.oracle_conform_tiktok(), "livestreaming", "unit_price * quantity"
    )


@query("gold_cm1_shopify", oracle=_oracle_cm1_shopify())
def gold_cm1_shopify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CM1 for the e-commerce channel (silver_to_gold.py:362-430):
    shopify revenue is the pre-totalled ``total_price`` (not
    unit_price*quantity) — same wide projection, channel-parameterized."""
    return _cm1_shopify(spark)


@query(
    "gold_cm2_shopify",
    oracle=gold.oracle_cm2(_oracle_cm1_shopify(), silver.oracle_conform_freight()),
)
def gold_cm2_shopify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CM2 for shopify (silver_to_gold.py:554-593): rollup → broadcast
    freight join → shopify-gateway fee switch → margin arithmetic."""
    return gold.cm2(_cm1_shopify(spark), _silver(spark, "freight"))


@query("gold_cm1_livestreaming", oracle=_oracle_cm1_livestreaming())
def gold_cm1_livestreaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CM1 for the livestreaming channel (silver_to_gold.py:432-497):
    tiktok revenue = unit_price*quantity on cents→dollars silver."""
    return _cm1_livestreaming(spark)


@query(
    "gold_cm2_livestreaming",
    oracle=gold.oracle_cm2(
        _oracle_cm1_livestreaming(), silver.oracle_conform_freight()
    ),
)
def gold_cm2_livestreaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CM2 for livestreaming (silver_to_gold.py:595-632): rollup →
    broadcast freight join → platform-fee switch → margin arithmetic."""
    return gold.cm2(_cm1_livestreaming(spark), _silver(spark, "freight"))


@query(
    "pipeline_exec_daily_kpi",
    oracle=gold.oracle_exec_daily_kpi(
        [
            gold.oracle_cm2(_oracle_cm1_wholesale(), silver.oracle_conform_freight()),
            gold.oracle_cm2(
                gold.oracle_cm1(
                    silver.oracle_conform_shopify(), "shopify", "total_price"
                ),
                silver.oracle_conform_freight(),
            ),
            gold.oracle_cm2(
                gold.oracle_cm1(
                    silver.oracle_conform_tiktok(),
                    "livestreaming",
                    "unit_price * quantity",
                ),
                silver.oracle_conform_freight(),
            ),
        ]
    ),
)
def pipeline_exec_daily_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full medallion chain, end to end: bronze JSON → conformed
    silver (×4 sources) → CM1 → CM2 (freight-enriched) → 3-way UNION →
    exec_daily_kpi aggregate (scripts/sql/.sql:3-26). The one query a
    reference user actually serves to BI."""
    freight = _silver(spark, "freight")
    cm2s = [
        gold.cm2(_cm1_wholesale(spark), freight),
        gold.cm2(
            gold.cm1(_silver(spark, "shopify"), "shopify", F.col("total_price")),
            freight,
        ),
        gold.cm2(
            gold.cm1(
                _silver(spark, "tiktok"),
                "livestreaming",
                F.col("unit_price") * F.col("quantity"),
            ),
            freight,
        ),
    ]
    return gold.exec_daily_kpi(cm2s)


@query(
    "dim_date_generate",
    oracle=gold.oracle_dim_date("2025-06-01", "2025-06-03"),
)
def dim_date_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: generated date dimension with date parts — replaces the
    reference's single hard-coded literal row (silver_to_gold.py:634-641)."""
    return gold.dim_date(spark, "2025-06-01", "2025-06-03")


@query(
    "stream_landing_rollup",
    oracle=f"""
    SELECT
      strftime(CAST(bronze_timestamp AS TIMESTAMP), '%Y-%m-%d') AS p_date,
      COUNT(*)                                                  AS rows_landed,
      COUNT(DISTINCT order_id)                                  AS n_orders,
      {oracle_dround("SUM(unit_price * quantity)", 2)}          AS revenue
    FROM ({silver.oracle_conform_joor()})
    GROUP BY 1
    """,
)
def stream_landing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2+T6 made driver-checkable the way dq_profile_silver did T7:
    run the REAL Structured Streaming bronze→silver job
    (streaming/jobs.stream_bronze_to_silver — checkpointed file source,
    watermark, date-partitioned parquet sink) with Trigger.AvailableNow
    into a fresh temp landing, then read the landed partitions back and
    roll them up per partition date. The oracle is the BATCH conformance
    SQL over the same bronze fixtures, so the row is green only if the
    streaming path (checkpoint commit protocol, envelope flatten inside
    a micro-batch, partitioned sink layout) lands exactly the rows the
    batch path computes — the stream-equals-batch equivalence
    (tests/test_streaming.py) promoted to driver evidence. p_date groups
    on the PARTITION COLUMN read back from the directory layout, so a
    sink-layout regression (T6) also turns the row red.
    bronze_timestamp is a tz-less wall-clock string in the fixtures,
    making the date grouping session-timezone independent. Reference
    behavior replaced: bronze_to_silver_all_sources.py:9-17,93-94 (60 s
    poll loop + high-watermark file)."""
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        fresh_stream_dir,
        stream_bronze_to_silver,
    )

    tmp = fresh_stream_dir("mcdp_stream_landing_")
    silver_dir, ckpt = f"{tmp}/silver", f"{tmp}/ckpt"
    stream_bronze_to_silver(spark, "joor", None, silver_dir, ckpt)
    landed = spark.read.parquet(silver_dir)
    return landed.groupBy(
        F.date_format("p_date", "yyyy-MM-dd").alias("p_date")
    ).agg(
        F.count(F.lit(1)).alias("rows_landed"),
        F.count_distinct("order_id").alias("n_orders"),
        dround(F.sum(F.col("unit_price") * F.col("quantity")), 2).alias("revenue"),
    )


@query(
    "stream_gold_refresh_rollup",
    oracle=f"""
    SELECT date_key,
           COUNT(*)                               AS n_orders,
           CAST(SUM(total_quantity) AS BIGINT)    AS total_qty,
           {oracle_dround("SUM(net_revenue)")}    AS revenue,
           {oracle_dround("SUM(cm2_amount)")}     AS cm2
    FROM ({gold.oracle_cm2(
        _oracle_cm1_wholesale(), silver.oracle_conform_freight()
    )})
    GROUP BY date_key
    """,
)
def stream_gold_refresh_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gold CADENCE path (T1's silver->gold 300 s loop) made
    driver-checkable, completing what stream_landing_rollup did for the
    bronze->silver leg: run the real checkpointed gold-refresh stream
    (streaming/jobs.stream_gold_cm2_refresh — idempotent batch_id-keyed
    silver landing, full CM2 rebuild per micro-batch) with
    Trigger.AvailableNow into fresh temp dirs, read the refreshed gold
    table back, and roll it up per date_key. The oracle is the BATCH
    CM1->CM2 SQL over the same bronze fixtures, so the row is green only
    if the streamed gold equals the batch-computed gold to the cent —
    the test_stream_gold_cm2_refresh_matches_batch equivalence promoted
    to driver evidence. Reference behavior replaced:
    silver_to_gold.py re-run on cadence (Dockerfile.silver-to-gold CMD
    loop), minus its recompute-from-Postgres read amplification."""
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        fresh_stream_dir,
        stream_gold_cm2_refresh,
    )

    tmp = fresh_stream_dir("mcdp_gold_refresh_")
    stream_gold_cm2_refresh(
        spark, None, f"{tmp}/silver", f"{tmp}/gold", f"{tmp}/ckpt"
    )
    g = spark.read.parquet(f"{tmp}/gold")
    return g.groupBy("date_key").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("total_quantity").alias("total_qty"),
        dround(F.sum("net_revenue")).alias("revenue"),
        dround(F.sum("cm2_amount")).alias("cm2"),
    )


@query(
    "stream_sessionize_rollup",
    oracle=f"""
    WITH s AS ({silver.oracle_conform_joor()}),
    e AS (SELECT buyer_name AS key, order_ts, quantity FROM s),
    lagged AS (
      SELECT key, order_ts, quantity,
             CASE WHEN LAG(order_ts) OVER w IS NULL
                  OR order_ts - LAG(order_ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY key ORDER BY order_ts)
    ),
    grp AS (
      SELECT key, order_ts, quantity,
             SUM(brk) OVER (PARTITION BY key ORDER BY order_ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM lagged
    )
    SELECT key,
           strftime(MIN(order_ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(order_ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(quantity) AS BIGINT) AS total_qty
    FROM grp GROUP BY key, sid
    """,
)
def stream_sessionize_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 × T5 made driver-checkable (the stream_landing_rollup
    pattern): run the REAL streaming session-window job
    (streaming/jobs.stream_sessionize — native ``session_window`` as a
    stateful agg in checkpointed state, event-time watermark,
    emit-exactly-once append) over a temp copy of the bronze fixtures,
    then append a far-future sentinel event and drain again so the
    watermark passes every real session and all of them emit. The
    oracle recomputes the session set in BATCH SQL (lag + cumulative
    break-sum sessionization; strictly-greater gap test because
    touching Spark session windows MERGE — tests/test_operators.py
    session-boundary pin), so the row is green only if stateful
    cross-micro-batch session merging lands exactly the batch answer —
    the tests/test_streaming.py stream≡batch equivalence promoted to
    driver evidence. Session bounds render as wall-time strings (the
    dq_profile_silver convention) for tz-independence."""
    import json as _json
    import shutil
    from pathlib import Path

    from multichannel_commerce_data_pipeline_spark.pipeline.schemas import (
        BRONZE_ROOT,
    )
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        Feed,
        stream_sessionize,
    )

    # the feed is a bronze copy: chunk 0 the fixtures, chunk 1 the
    # sentinel day, arriving after the first drain
    feed = Feed("mcdp_stream_sess_", sf_dir)
    joor = Path(feed.src) / "joor"
    shutil.copytree(Path(BRONZE_ROOT) / "joor", joor)
    feed.arrived(str(joor))

    def drain() -> None:
        stream_sessionize(spark, "joor", feed.src, feed.out, feed.ckpt)

    drain()  # real data; tail sessions stay open in state
    sentinel = {
        "raw_api_data": {
            "order_id": "JOOR-SENTINEL",
            "customer": "ZZ-SENTINEL",
            "price": "1.0",
            "quantity": 1,
            "sku": "SKU-0000",
            "currency": "USD",
            "date": "2025-07-15T00:00:00Z",
        },
        "kafka_metadata": {
            "topic": "raw-joor",
            "partition": 0,
            "offset": 99999,
            "stream_timestamp": "2025-07-15T00:00:01",
            "bronze_timestamp": "2025-07-15T00:00:01",
        },
    }
    late = joor / "2025" / "07" / "15"
    late.mkdir(parents=True)
    (late / "batch.json").write_text(_json.dumps(sentinel) + "\n")
    feed.arrived(str(late))
    drain()  # watermark jumps past every real session -> all emit

    return (
        spark.read.parquet(feed.out)
        .filter(F.col("key") != "ZZ-SENTINEL")
        .select(
            "key",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_orders",
            "total_qty",
        )
    )


@query(
    "dq_profile_silver",
    oracle=f"""
    SELECT
      COUNT(*)                                             AS rows_total,
      CAST(SUM(CASE WHEN order_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                           AS nulls_order_id,
      CAST(SUM(CASE WHEN unit_price IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                           AS nulls_unit_price,
      COUNT(DISTINCT buyer_name)                           AS n_buyers,
      strftime(MIN(order_ts), '%Y-%m-%d %H:%M:%S')         AS first_order_wall,
      strftime(MAX(order_ts), '%Y-%m-%d %H:%M:%S')         AS last_order_wall,
      CAST(SUM(CASE WHEN quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                           AS n_nonpositive_qty,
      CAST(SUM(CASE WHEN unit_price < 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                           AS n_negative_price
    FROM ({silver.oracle_conform_joor()})
    """,
)
def dq_profile_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7's batch surface, driver-checkable: the data-quality profile of
    the conformed wholesale silver — row count, per-key null counts,
    buyer cardinality, event-time bounds, domain violations (quantity,
    price). These are exactly the metric expressions pipeline/quality.py
    attaches via df.observe in the streaming path (zero-extra-scan
    accumulation there); as a standalone profile they run as ONE partial
    aggregate over the frame. The alert layer (quality.alerts)
    thresholds this row."""
    s = _silver(spark, "joor")
    nulls = lambda c: F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")  # noqa: E731
    return s.agg(
        F.count(F.lit(1)).alias("rows_total"),
        nulls("order_id"),
        nulls("unit_price"),
        F.countDistinct("buyer_name").alias("n_buyers"),
        # WALL time strings, not raw timestamps or epochs: the silver
        # conformance normalizes away UTC offsets, so the parsed value's
        # wall clock is the session-timezone-independent invariant
        # (cast-in renders back out in the same zone)
        F.date_format(F.min("order_ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "first_order_wall"
        ),
        F.date_format(F.max("order_ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "last_order_wall"
        ),
        F.sum((F.col("quantity") <= 0).cast("long")).alias("n_nonpositive_qty"),
        F.sum((F.col("unit_price") < 0).cast("long")).alias("n_negative_price"),
    )


@query(
    "stream_join_rollup",
    oracle=f"""
    WITH o AS ({silver.oracle_conform_joor()}),
    f AS ({silver.oracle_conform_freight()}),
    j AS (
      SELECT o.order_id, o.quantity, o.unit_price,
             f.shipment_id, f.cost, f.carrier
      FROM o JOIN f ON o.order_id = f.order_reference
       AND TRY_CAST(f.bronze_timestamp AS TIMESTAMP)
           >= TRY_CAST(o.bronze_timestamp AS TIMESTAMP) - INTERVAL 2 DAY
       AND TRY_CAST(f.bronze_timestamp AS TIMESTAMP)
           <= TRY_CAST(o.bronze_timestamp AS TIMESTAMP) + INTERVAL 2 DAY
    )
    SELECT carrier,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(quantity) AS BIGINT) AS total_qty,
           {oracle_dround("SUM(cost)", 2)} AS freight_cost,
           {oracle_dround("SUM(unit_price * quantity)", 2)} AS order_value
    FROM j GROUP BY carrier
    """,
)
def stream_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-surface: the STREAM-STREAM JOIN made driver-checkable (the
    stream_sessionize_rollup pattern) — run the real two-sided-watermark
    orders⨝freight join (streaming/jobs.stream_orders_with_freight:
    event-time range constraint bounds BOTH join states, append emits
    each pair exactly once when the watermark passes) with
    Trigger.AvailableNow over the bronze fixtures, then roll the landed
    pairs up per carrier. The oracle is the BATCH join over the same
    conformed bronze with the same ±2-day constraint, so the row is
    green only if streamed ≡ batch pair-for-pair — the
    test_stream_stream_join_matches_batch equivalence promoted to
    driver evidence. Reference behavior replaced: the silver_to_gold
    left-join freight enrichment (silver_to_gold.py:512-516), computed
    in-flight instead of by rescanning Postgres."""
    from multichannel_commerce_data_pipeline_spark.pipeline.schemas import (
        BRONZE_ROOT,
    )
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        fresh_stream_dir,
        stream_orders_with_freight,
    )

    tmp = fresh_stream_dir("mcdp_stream_join_")
    stream_orders_with_freight(
        spark, BRONZE_ROOT, f"{tmp}/joined", f"{tmp}/ckpt"
    )
    j = spark.read.parquet(f"{tmp}/joined")
    return j.groupBy("carrier").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("quantity").alias("total_qty"),
        dround(F.sum("cost"), 2).alias("freight_cost"),
        dround(F.sum(F.col("unit_price") * F.col("quantity")), 2).alias(
            "order_value"
        ),
    )


def _stream_psi_oracle() -> str:
    p_ref = "(cr + 0.5) / (tr + 5.0)"
    p_cur = "(cc + 0.5) / (tc + 5.0)"
    term = oracle_dround(
        f"(({p_cur}) - ({p_ref})) * ln(({p_cur}) / ({p_ref}))", 9
    )
    return f"""
    WITH s AS ({silver.oracle_conform_joor()}),
    binned AS (
      SELECT LEAST(CAST(FLOOR(unit_price / 25.0) AS INTEGER), 9) AS bin,
             CASE WHEN order_ts < TIMESTAMP '2025-06-02' THEN 1 ELSE 0 END
               AS is_ref
      FROM s
    ),
    cells AS (
      SELECT bin,
             CAST(SUM(is_ref) AS DOUBLE) AS cr,
             CAST(SUM(1 - is_ref) AS DOUBLE) AS cc
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT SUM(cr) AS tr, SUM(cc) AS tc FROM cells),
    terms AS (
      SELECT CAST({term} AS DECIMAL(28,9)) AS t, cr, cc
      FROM cells CROSS JOIN tot
    )
    SELECT CAST(SUM(cr) AS BIGINT) AS n_ref,
           CAST(SUM(cc) AS BIGINT) AS n_cur,
           CAST(SUM(t) AS DOUBLE) AS psi,
           (CAST(SUM(t) AS DOUBLE) > 0.1) AS drifted
    FROM terms
    """


@query("stream_psi_rollup", oracle=_stream_psi_oracle())
def stream_psi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ × T5 made driver-checkable: the STREAMING drift monitor — a
    cumulative (bin, window) price profile maintained as native
    stateful aggregation in checkpointed state (streaming/jobs.py
    stream_binned_profile; state bounded at 2·n_bins rows, additive
    like the CM sketch, cumulative across restarts), published as a
    per-batch snapshot and PSI-scored at read time with exactly
    psi_drift_monitor's smoothed, DECIMAL-quantized arithmetic (the
    10-bin smoothing constant 0.5·n_bins = 5.0). The oracle recomputes
    bins and PSI in batch SQL over the same conformed bronze, so the
    row is green only if the stream's cumulative profile equals the
    batch profile count-for-count — the monitoring-surface analogue of
    the stream≡batch rollup rows."""
    from multichannel_commerce_data_pipeline_spark.pipeline.schemas import (
        BRONZE_ROOT,
    )
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        fresh_stream_dir,
        read_snapshot,
        stream_binned_profile,
    )

    tmp = fresh_stream_dir("mcdp_stream_psi_")
    stream_binned_profile(
        spark, "joor", BRONZE_ROOT, f"{tmp}/prof", f"{tmp}/ckpt"
    )
    prof = read_snapshot(spark, f"{tmp}/prof")
    cells = prof.groupBy("bin").agg(
        F.sum(F.when(F.col("is_ref") == 1, F.col("n")).otherwise(F.lit(0)))
        .cast("double")
        .alias("cr"),
        F.sum(F.when(F.col("is_ref") == 0, F.col("n")).otherwise(F.lit(0)))
        .cast("double")
        .alias("cc"),
    )
    tot = cells.agg(
        F.sum("cr").alias("tr"), F.sum("cc").alias("tc")
    ).withColumn("_k", F.lit(1))
    cells = cells.withColumn("_k", F.lit(1))
    p_ref = (F.col("cr") + 0.5) / (F.col("tr") + 5.0)
    p_cur = (F.col("cc") + 0.5) / (F.col("tc") + 5.0)
    terms = cells.join(F.broadcast(tot), "_k").select(
        dround((p_cur - p_ref) * F.log(p_cur / p_ref), 9)
        .cast("decimal(28,9)")
        .alias("t"),
        "cr",
        "cc",
    )
    psi = F.sum("t").cast("double")
    return terms.agg(
        F.sum("cr").cast("long").alias("n_ref"),
        F.sum("cc").cast("long").alias("n_cur"),
        psi.alias("psi"),
        (psi > 0.1).alias("drifted"),
    )


# The declarative expectation suite for the joor silver feed: rule name
# -> violation predicate, written once in engine-neutral ANSI SQL and
# compiled for Spark via F.expr (single-sourced — the two engines
# cannot drift). Rule names are stable identifiers a dead-letter
# consumer routes on; evaluation order is the tuple order, so the
# comma-joined `fails` string is deterministic in both engines.
_DQ_RULES_SQL = (
    ("id_missing", "order_id IS NULL"),
    ("price_invalid", "unit_price IS NULL OR unit_price < 0"),
    ("qty_nonpositive", "quantity <= 0"),
    ("ts_unparseable", "order_ts IS NULL"),
)


def _dq_rules_cols() -> list[tuple[str, Column]]:
    # DERIVED from the SQL rule set (the predicates are engine-neutral
    # ANSI, valid in both dialects), so the engine and the oracle can
    # never evaluate different expectation suites — one list, two
    # compilers.
    return [(name, F.expr(pred)) for name, pred in _DQ_RULES_SQL]


def _quarantine_oracle() -> str:
    marks = ",\n           ".join(
        f"CASE WHEN {pred} THEN '{name}' END" for name, pred in _DQ_RULES_SQL
    )
    n = " + ".join(
        f"(CASE WHEN {pred} THEN 1 ELSE 0 END)" for _, pred in _DQ_RULES_SQL
    )
    return f"""
    WITH s AS ({silver.oracle_conform_joor()}),
    marked AS (
      SELECT order_id, buyer_name, sku, quantity, unit_price,
             strftime(order_ts, '%Y-%m-%d %H:%M:%S') AS order_wall,
             concat_ws(',',
           {marks}) AS fails,
             CAST({n} AS INTEGER) AS n_fails
      FROM s
    )
    SELECT * FROM marked WHERE n_fails > 0
    """


@query("dq_quarantine_router", oracle=_quarantine_oracle())
def dq_quarantine_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7+: the QUARANTINE half of data quality — dq_profile_silver
    COUNTS violations; this routes the violating rows themselves to the
    dead-letter side with machine-readable reasons (the standard
    expectation-suite pattern: a declarative rule set evaluated in ONE
    map-side pass, every row tagged with the comma-joined names of the
    rules it fails, failing rows quarantined for repair/replay instead
    of silently polluting gold — the reference pipeline loads its
    conformed rows unconditionally, bronze_to_silver_all_sources.py:
    82-90, so a negative price flows straight into revenue). The keep
    side is the same projection negated (zero extra cost); per-rule
    booleans compose into `fails` via concat_ws exactly as the keep-
    decision layer does for curation, because corpus curation IS this
    operator aimed at documents. One projection + filter inside the
    scan stage — no shuffle, no UDF; at 100 TB the router costs the
    scan it was already paying. Timestamps emit as wall strings per
    the module's timezone rule."""
    return quarantine_mark(_silver(spark, "joor")).filter(
        F.col("n_fails") > 0
    )


def quarantine_mark(s: DataFrame) -> DataFrame:
    """Tag every silver-shaped row with its failed-rule list and count
    (map-side, no shuffle). Shared by the router query and the planted
    multi-violation tests, so the rule compiler itself is what the
    tests exercise."""
    rules = _dq_rules_cols()
    fails = F.concat_ws(
        ",", *[F.when(pred, F.lit(name)) for name, pred in rules]
    )
    n_fails = None
    for _, pred in rules:
        term = F.when(pred, 1).otherwise(0)
        n_fails = term if n_fails is None else (n_fails + term)
    return s.select(
        "order_id",
        "buyer_name",
        "sku",
        "quantity",
        "unit_price",
        F.date_format("order_ts", "yyyy-MM-dd HH:mm:ss").alias("order_wall"),
        fails.alias("fails"),
        n_fails.cast("int").alias("n_fails"),
    )


# --- declarative expectation suite (r15) ------------------------------
# The suite is DATA: one (table, column, expectation, violation-SQL)
# row per check, in ANSI SQL both engines parse — Spark via F.expr,
# DuckDB verbatim — so engine and oracle compile the identical
# predicate from the identical spec and can never drift. "unique" is
# the one aggregate-level check (COUNT(*) - COUNT(DISTINCT col)).
# Relationship checks live in referential_integrity (X17), which this
# suite complements at the column level.
_EXPECTATIONS: tuple[tuple[str, str, str, str], ...] = (
    ("orders", "o_custkey", "not_null", "o_custkey IS NULL"),
    ("orders", "o_orderkey", "unique", ""),
    (
        "orders",
        "o_orderstatus",
        "accepted_values",
        "NOT (o_orderstatus IN ('O', 'F', 'P'))",
    ),
    ("orders", "o_totalprice", "positive", "NOT (o_totalprice > 0)"),
    ("lineitem", "l_orderkey", "not_null", "l_orderkey IS NULL"),
    (
        "lineitem",
        "l_discount",
        "in_range_0_1",
        "NOT (l_discount >= 0 AND l_discount <= 1)",
    ),
    ("lineitem", "l_quantity", "positive", "NOT (l_quantity > 0)"),
    ("customer", "c_custkey", "unique", ""),
    ("customer", "c_acctbal", "not_null", "c_acctbal IS NULL"),
)


def _check_counter(kind: str, col: str, cond: str) -> Column:
    """Compile one spec row into its violation counter. NULL predicate
    results count as violations (COALESCE(cond, TRUE)) so a range
    check can never silently pass on a NULL value; "unique" is the one
    aggregate-level check."""
    if kind == "unique":
        return (F.count(F.lit(1)) - F.count_distinct(F.col(col))).cast("long")
    return (
        F.sum(
            F.when(F.coalesce(F.expr(cond), F.lit(True)), F.lit(1)).otherwise(
                F.lit(0)
            )
        )
    ).cast("long")


def _expectation_oracle() -> str:
    per_table: dict[str, list[str]] = {}
    rows = []
    for i, (tbl, col, kind, cond) in enumerate(_EXPECTATIONS):
        if kind == "unique":
            cnt = f"COUNT(*) - COUNT(DISTINCT {col})"
        else:
            cnt = f"SUM(CASE WHEN COALESCE(({cond}), TRUE) THEN 1 ELSE 0 END)"
        per_table.setdefault(tbl, []).append(f"CAST({cnt} AS BIGINT) AS v{i}")
        rows.append(
            f"""    SELECT '{tbl}' AS table_name, '{col}' AS column_name,
           '{kind}' AS expectation, a_{tbl}.v{i} AS n_violations,
           (a_{tbl}.v{i} = 0) AS passed
    FROM a_{tbl}"""
        )
    ctes = ",\n".join(
        f"    a_{tbl} AS (SELECT {', '.join(cols)} FROM {tbl})"
        for tbl, cols in per_table.items()
    )
    return "\n    WITH\n" + ctes + "\n" + "\n    UNION ALL\n".join(rows)


@query("expectation_suite", oracle=_expectation_oracle())
def expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7/DQ (r15): the declarative data-contract suite — dbt-style
    schema tests (not_null / unique / accepted_values / range) declared
    as DATA and compiled into the minimum number of passes: every
    check on a table becomes one conditional counter in that table's
    single aggregate (unique = COUNT(*) - COUNT(DISTINCT)), so the
    whole 9-check suite over three tables costs exactly three
    column-pruned scans with map-side partial aggregation — adding a
    tenth check to a table it already covers costs one more counter,
    not a pass. The one-row-per-check report then falls out of the
    explode-a-literal-struct-array unpivot (the threshold-sweep
    idiom). NULL comparison results count as violations (COALESCE(cond,
    TRUE)) so a range check cannot silently pass on a NULL column —
    identical text in F.expr and the oracle, single-sourced from the
    spec tuple. Relationship (FK) checks are referential_integrity's
    job; together they are the post-write contract gate a
    MERGE/CDC/erasure pipeline runs before publishing."""
    from multichannel_commerce_data_pipeline_spark.tables import load as _load

    per_table: dict[str, list[tuple[int, str, str, str]]] = {}
    for i, (tbl, col, kind, cond) in enumerate(_EXPECTATIONS):
        per_table.setdefault(tbl, []).append((i, col, kind, cond))
    frames = []
    for tbl, checks in per_table.items():
        df = _load(spark, sf_dir, tbl)
        aggs = [
            _check_counter(kind, col, cond).alias(f"v{i}")
            for i, col, kind, cond in checks
        ]
        one = df.agg(*aggs)
        frames.append(
            one.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(tbl).alias("table_name"),
                                F.lit(col).alias("column_name"),
                                F.lit(kind).alias("expectation"),
                                F.col(f"v{i}").alias("n_violations"),
                                (F.col(f"v{i}") == 0).alias("passed"),
                            )
                            for i, col, kind, cond in checks
                        ]
                    )
                ).alias("s")
            ).select("s.*")
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# --- streaming-metrics monitoring rollup (r16) -----------------------
# T7 closed end-to-end: the r14 MetricsRecorder listener PRODUCES the
# per-micro-batch telemetry (landed JSONL; live production asserted in
# tests/test_streaming.py); this registers the CONSUMER — the alarm
# rollup an on-call dashboard reads — over a pinned deterministic
# history (tests/fixtures/metrics, the planted-rows idiom), so the
# driver checks the monitoring arithmetic itself against DuckDB.
_MBR_RUN = 3  # sustained-backlog threshold: >= 3 consecutive lag batches
_MBR_MAD_MULT = 5  # slow-batch band: dur > median + 5 * MAD
_MBR_SLOPE = 0.5  # state leak: > 0.5 state rows gained per batch


def _mbr_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.streaming.metrics import (
        METRICS_FIXTURE,
    )

    med = oracle_dround("quantile_cont(batch_duration_ms, 0.5)", 2)
    mad = oracle_dround(
        "quantile_cont(ABS(m.batch_duration_ms - d.med), 0.5)", 2
    )
    slope = oracle_dround(
        "CAST(c * sxy - sx * sy AS DOUBLE) / CAST(c * sxx - sx * sx AS DOUBLE)",
        6,
    )
    return f"""
    WITH m AS (
      SELECT * FROM read_json('{METRICS_FIXTURE}',
        format = 'newline_delimited',
        columns = {{query_id: 'VARCHAR', run_id: 'VARCHAR',
                    query_name: 'VARCHAR', batch_id: 'BIGINT',
                    event_ts: 'VARCHAR', num_input_rows: 'BIGINT',
                    input_rps: 'DOUBLE', processed_rps: 'DOUBLE',
                    batch_duration_ms: 'BIGINT', n_state_ops: 'BIGINT',
                    state_rows: 'BIGINT'}})
    ),
    base AS (
      SELECT query_name,
             CAST(COUNT(*) AS BIGINT) AS n_batches,
             CAST(SUM(num_input_rows) AS BIGINT) AS rows_in,
             CAST(MAX(batch_duration_ms) AS BIGINT) AS worst_batch_ms,
             CAST(COUNT(*) AS BIGINT) AS c,
             SUM(batch_id) AS sx, SUM(state_rows) AS sy,
             SUM(batch_id * state_rows) AS sxy,
             SUM(batch_id * batch_id) AS sxx
      FROM m GROUP BY query_name
    ),
    lagrows AS (
      SELECT query_name, batch_id FROM m
      WHERE input_rps IS NOT NULL AND processed_rps IS NOT NULL
        AND input_rps > processed_rps
    ),
    runs AS (
      SELECT query_name,
             batch_id - ROW_NUMBER() OVER (PARTITION BY query_name
                                           ORDER BY batch_id) AS grp
      FROM lagrows
    ),
    runlen AS (
      SELECT query_name, CAST(COUNT(*) AS BIGINT) AS rl
      FROM runs GROUP BY query_name, grp
    ),
    maxrun AS (
      SELECT query_name, MAX(rl) AS max_lag_run FROM runlen
      GROUP BY query_name
    ),
    dmed AS (
      SELECT query_name, {med} AS med FROM m GROUP BY query_name
    ),
    dmad AS (
      SELECT m.query_name, d.med, {mad} AS mad
      FROM m JOIN dmed d USING (query_name)
      GROUP BY m.query_name, d.med
    ),
    danom AS (
      SELECT m.query_name,
             CAST(SUM(CASE WHEN m.batch_duration_ms >
                    d.med + {_MBR_MAD_MULT} * d.mad THEN 1 ELSE 0 END)
               AS BIGINT) AS n_slow_batches
      FROM m JOIN dmad d USING (query_name) GROUP BY m.query_name
    )
    SELECT b.query_name, b.n_batches, b.rows_in,
           CAST(COALESCE(r.max_lag_run, 0) AS BIGINT) AS max_lag_run,
           (COALESCE(r.max_lag_run, 0) >= {_MBR_RUN}) AS backlog_sustained,
           b.worst_batch_ms, a.n_slow_batches,
           {slope} AS state_slope,
           ({slope} > {_MBR_SLOPE}) AS state_leaking
    FROM base b
    LEFT JOIN maxrun r USING (query_name)
    JOIN danom a USING (query_name)
    """


@query("metrics_backlog_report", oracle=_mbr_oracle())
def metrics_backlog_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 end-to-end (r16): the streaming-telemetry ALARM rollup — the
    consumer of the MetricsRecorder listener's landed history, and
    the monitoring surface the reference only declared Kafka topics
    for (docker-compose pipeline-metrics / data-quality-alerts,
    never published). Three alarms per streaming query, each the
    established idiom applied to telemetry instead of data:

    - SUSTAINED BACKLOG: longest consecutive run of micro-batches
      with input rate above processing rate (the gaps-and-islands
      batch_id - row_number grouping); a single blip is absorbed,
      >= 3 consecutive lag batches flags — rate-pair NULLs (drained
      file sources) never count as lag.
    - SLOW-BATCH ANOMALIES: batch durations banded by per-query
      median + 5 * MAD (the cusum/mad_outliers robust-threshold
      family — one pathological batch cannot widen its own band the
      way a stddev band would).
    - STATE LEAK: OLS slope of state-store rows over batch_id from
      integer-exact sufficient statistics (the revenue_trend_slope
      form); every bounded-state operator in this package should
      slope ~0, so a positive slope IS the leak alarm.

    Input is the committed deterministic history
    (tests/fixtures/metrics — the planted-rows idiom of
    dq_quarantine_router, since live listener timings can never be
    oracle-reproducible); the SAME rollup implementation
    (streaming/metrics.backlog_report — one implementation, two
    drivers) is run over LIVE listener output in
    tests/test_queries_r16.py, which also asserts each planted
    pathology fires exactly its own alarm. Cost scales with batches
    observed, not data processed — windows and group-bys all key on
    query_name."""
    from multichannel_commerce_data_pipeline_spark.streaming.metrics import (
        METRICS_FIXTURE,
        METRICS_SCHEMA,
        backlog_report,
    )

    m = spark.read.schema(METRICS_SCHEMA).json(METRICS_FIXTURE)
    return backlog_report(
        m,
        run_threshold=_MBR_RUN,
        mad_mult=_MBR_MAD_MULT,
        slope_threshold=_MBR_SLOPE,
    )
