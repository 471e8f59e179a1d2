"""Aggregation operators — SURVEY.md §2.4, including the flagship
`exec_daily_kpi` re-expression (the reference's one hand-written
analytics query, scripts/sql/.sql:3-26).

Scale notes: all group-bys are partial-aggregated map-side by Spark;
COUNT(DISTINCT) is exact (expands to a two-phase aggregate) because the
oracle hash-match requires exactness — approx_count_distinct is exposed
separately in the library for the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.artifacts import concurrently
from multichannel_commerce_data_pipeline_spark.functions import dround
from multichannel_commerce_data_pipeline_spark.queries import query
from multichannel_commerce_data_pipeline_spark.tables import load


@query(
    "pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      ROUND(SUM(l_quantity), 2)                                       AS sum_qty,
      ROUND(SUM(l_extendedprice), 2)                                  AS sum_base_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      ROUND(AVG(l_quantity), 2)                                       AS avg_qty,
      ROUND(AVG(l_extendedprice), 2)                                  AS avg_price,
      ROUND(AVG(l_discount), 4)                                       AS avg_disc,
      COUNT(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: hash group-by with a multi-aggregate list (the CM2 order
    rollup shape, silver_to_gold.py:504-509,554-561,595-601), expressed
    as the classic pricing-summary query."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "order_rollup_constant",
    oracle="""
    SELECT
      o_custkey                     AS buyer_id,
      'SGD'                         AS currency,
      ROUND(SUM(o_totalprice), 2)   AS total_spend,
      COUNT(*)                      AS order_count
    FROM orders
    GROUP BY o_custkey
    """,
)
def order_rollup_constant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2: group-by with a constant column attached during
    aggregation (agg(lit('SGD')...), silver_to_gold.py:555,597)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("buyer_id")).agg(
        F.first(F.lit("SGD")).alias("currency"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        F.count(F.lit(1)).alias("order_count"),
    )


@query(
    "distinct_ratio_kpi",
    oracle="""
    SELECT
      o_orderpriority                                           AS channel,
      ROUND(SUM(o_totalprice), 2)                               AS revenue,
      COUNT(DISTINCT o_custkey)                                 AS unique_buyers,
      COUNT(DISTINCT o_orderkey)                                AS orders,
      ROUND(SUM(o_totalprice) / COUNT(DISTINCT o_orderkey), 2)  AS aov
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def distinct_ratio_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 core: SUM + exact COUNT DISTINCT + ratio-of-aggregates (AOV),
    the exec_daily_kpi aggregate shape (scripts/sql/.sql:10-25)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderpriority").alias("channel")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.countDistinct("o_custkey").alias("unique_buyers"),
        F.countDistinct("o_orderkey").alias("orders"),
        F.round(F.sum("o_totalprice") / F.countDistinct("o_orderkey"), 2).alias("aov"),
    )


@query(
    "rollup_hierarchy",
    oracle="""
    SELECT
      r.r_name                       AS region,
      n.n_name                       AS nation,
      ROUND(SUM(c.c_acctbal), 2)     AS total_balance,
      COUNT(*)                       AS customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 declared extension: hierarchical ROLLUP (region → nation →
    grand total) — free from df.rollup(); dims broadcast."""
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region"))
    joined = c.join(n, c.c_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    )
    return joined.rollup(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    ).agg(
        F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        F.count(F.lit(1)).alias("customers"),
    )


@query(
    "cube_agg",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      ROUND(SUM(l_quantity), 2) AS sum_qty,
      COUNT(*)                  AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 declared extension: CUBE over two grouping columns."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "global_max_checkpoint",
    oracle="""
    SELECT max(ts) AS high_watermark, COUNT(*) AS row_count FROM events
    """,
)
def global_max_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+A4: global max for the checkpoint high-watermark plus row
    count (bronze_to_silver_all_sources.py:93,30,96) — one pass, no
    collect()."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(
        F.max("ts").alias("high_watermark"), F.count(F.lit(1)).alias("row_count")
    )


@query(
    "approx_distinct_kpi",
    oracle="""
    SELECT
      o_orderpriority                AS channel,
      ROUND(SUM(o_totalprice), 2)    AS revenue,
      TRUE                           AS buyers_within_tol,
      TRUE                           AS orders_within_tol
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def approx_distinct_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 at-scale variant: approx_count_distinct (HyperLogLog++,
    rsd=1%) — map-side-mergeable sketches instead of the exact
    two-phase expand. The sketch estimate is accuracy-bounded, not
    bit-defined, so the driver-checkable surface asserts the bound:
    each estimate must land within 5x the configured rsd of the exact
    count, and the oracle pins that assertion to TRUE.

    NOTE: computing the exact count_distincts alongside the sketches is
    a VALIDATION HARNESS, and it costs this checked query the
    single-pass plan (the exact distincts bring back the Expand +
    second shuffle). The production 100 TB shape is the sketch-only
    aggregate — drop the two count_distinct columns and the plan
    collapses to one partial-aggregate pass; here correctness evidence
    is worth the extra shuffle at sf0.01."""
    o = load(spark, sf_dir, "orders")
    tol = 0.05  # 5 x rsd=1% — beyond ±5 sigma for HLL++
    within = lambda approx, exact: (  # noqa: E731
        F.abs(approx - exact) <= exact * F.lit(tol)
    )
    return o.groupBy(F.col("o_orderpriority").alias("channel")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        within(
            F.approx_count_distinct("o_custkey", 0.01),
            F.count_distinct(F.col("o_custkey")),
        ).alias("buyers_within_tol"),
        within(
            F.approx_count_distinct("o_orderkey", 0.01),
            F.count_distinct(F.col("o_orderkey")),
        ).alias("orders_within_tol"),
    )


@query(
    "grouping_sets_agg",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      ROUND(SUM(l_quantity), 2) AS sum_qty,
      COUNT(*)                  AS n,
      GROUPING(l_returnflag, l_linestatus) AS gid
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 declared extension: explicit GROUPING SETS (detail +
    per-flag subtotal + grand total in one pass — one shuffle, Spark
    expands the sets map-side) with the standard GROUPING bitmask to
    disambiguate produced nulls from data nulls."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
        F.grouping_id("l_returnflag", "l_linestatus").alias("gid"),
    )


@query(
    "percentile_summary",
    oracle="""
    SELECT
      l_returnflag,
      CAST(ROUND(CAST((median(l_extendedprice)) AS DECIMAL(38,6)), 2) AS DOUBLE)
        AS median_price,
      CAST(ROUND(CAST((quantile_cont(l_extendedprice, 0.90)) AS DECIMAL(38,6)), 2)
        AS DOUBLE) AS p90_price,
      CAST(ROUND(CAST((quantile_cont(l_discount, 0.25)) AS DECIMAL(38,6)), 2)
        AS DOUBLE) AS p25_discount
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 declared extension: exact interpolated percentiles (median /
    p90 / p25). Spark's percentile == DuckDB's quantile_cont (linear
    interpolation on the sorted set). Exact percentile is a full-sort
    aggregate; the 100 TB path swaps in approx_percentile with the same
    call shape."""
    li = load(spark, sf_dir, "lineitem")
    # the two price cut points come from ONE array-percentile (each
    # scalar exact-percentile buffers the whole column per group;
    # values bit-identical — r17, the _hqe_exact_fit lesson)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit([0.5, 0.90])).alias(
                "__pp"
            ),
            F.percentile("l_discount", 0.25).alias("__pd"),
        )
        .select(
            "l_returnflag",
            dround(F.element_at("__pp", 1), 2).alias("median_price"),
            dround(F.element_at("__pp", 2), 2).alias("p90_price"),
            dround(F.col("__pd"), 2).alias("p25_discount"),
        )
    )


@query(
    "salted_skew_agg",
    oracle="""
    SELECT
      l_returnflag,
      CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
      CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        AS sum_price,
      COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation: only 3 distinct group keys over the whole
    fact table — a direct group-by reduces on 3 tasks no matter how many
    executors exist. The salted two-phase plan spreads each key over 16
    deterministic sub-keys (phase 1 balanced, phase 2 combines 48 tiny
    partials). Decimal sums keep the combine associative so the result
    is bit-identical to the oracle's direct GROUP BY."""
    from multichannel_commerce_data_pipeline_spark.operators.skew import (
        salted_sum_count,
    )
    from multichannel_commerce_data_pipeline_spark.tables import (
        parallelize_small_scan,
    )

    # DECIMAL partial sums are compute-heavy per row; fan the serial
    # single-row-group scan out (projected to the four used columns
    # first, guide §2.3) so phase-1 salting aggregates in parallel
    # instead of inside the one scan task. No-op on real multi-split
    # tables.
    li = parallelize_small_scan(
        spark,
        load(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_orderkey", "l_quantity", "l_extendedprice"
        ),
    )
    dec = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    out = salted_sum_count(
        li,
        ["l_returnflag"],
        F.col("l_orderkey"),
        {"sum_qty": dec("l_quantity"), "sum_price": dec("l_extendedprice")},
    )
    return out.select(
        "l_returnflag",
        F.round("sum_qty", 2).cast("double").alias("sum_qty"),
        F.round("sum_price", 2).cast("double").alias("sum_price"),
        "n",
    )


@query(
    "approx_percentile_summary",
    oracle="""
    SELECT l_returnflag,
           TRUE AS median_within_tol,
           TRUE AS p90_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def approx_percentile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB companion to percentile_summary: approx_percentile
    (GK sketch — bounded memory, one pass, mergeable partials) with the
    same call shape. The sketch result is accuracy-bounded, not
    bit-defined, so the driver-checkable surface asserts the bound
    in-query — each estimate within 2% relative error of the exact
    interpolated quantile computed in the same aggregate — and the
    oracle pins the assertion to TRUE per group."""
    li = load(spark, sf_dir, "lineitem")
    within = lambda approx, exact: (  # noqa: E731
        F.abs(approx - exact) <= F.abs(exact) * F.lit(0.02)
    )
    # each aggregate family batched to one array call per group: the
    # two exact percentiles shared one full-column sort buffer, the
    # two approx ones share one KLL sketch (values bit-identical —
    # r17, the _hqe_exact_fit lesson)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_percentile(
                "l_extendedprice", F.lit([0.5, 0.90]), 10000
            ).alias("__a"),
            F.percentile("l_extendedprice", F.lit([0.5, 0.90])).alias(
                "__e"
            ),
        )
        .select(
            "l_returnflag",
            within(
                F.element_at("__a", 1), F.element_at("__e", 1)
            ).alias("median_within_tol"),
            within(
                F.element_at("__a", 2), F.element_at("__e", 2)
            ).alias("p90_within_tol"),
        )
    )


@query(
    "array_agg_per_group",
    oracle="""
    SELECT
      n_regionkey,
      array_to_string(list_sort(list(n_name)), ',')
        AS nations,
      array_to_string(list_sort(list(CAST(n_nationkey AS VARCHAR))), ',')
        AS nation_keys
    FROM nation GROUP BY n_regionkey
    """,
)
def array_agg_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 declared extension: collection aggregates — per-group arrays
    made deterministic by sorting (collect_list order is partition-
    dependent; sort_array pins it). Emitted as a joined string rather
    than array<…> because the driver's pandas canonicalizer can't hash
    list cells (r2 harness error); array_join keeps the agg semantics
    hashable on both engines."""
    n = load(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"),
        F.array_join(
            F.sort_array(F.collect_list(F.col("n_nationkey").cast("string"))), ","
        ).alias("nation_keys"),
    )


@query(
    "string_agg_per_group",
    oracle="""
    SELECT
      n_regionkey,
      string_agg(n_name, '|' ORDER BY n_name) AS nation_csv
    FROM nation GROUP BY n_regionkey
    """,
)
def string_agg_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 declared extension: ordered string aggregation
    (listagg/string_agg shape) via concat_ws over the sorted collected
    list."""
    n = load(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws("|", F.sort_array(F.collect_list("n_name"))).alias("nation_csv")
    )


@query(
    "pivot_revenue",
    oracle="""
    SELECT
      l_returnflag,
      ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 2) AS F,
      ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END), 2) AS O
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 declared extension: PIVOT — revenue spread over linestatus
    columns. The pivot values are declared explicitly, which keeps the
    plan a single pass (Spark needs no extra distinct-values job) and
    pins the output schema; the oracle is the portable CASE form."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_extendedprice"), 2))
    )


@query(
    "unpivot_metrics",
    oracle="""
    SELECT l_returnflag, metric, ROUND(SUM(v), 2) AS total
    FROM (
      SELECT l_returnflag, 'price' AS metric, l_extendedprice AS v FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'qty' AS metric, l_quantity AS v FROM lineitem
    )
    GROUP BY l_returnflag, metric
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 declared extension: UNPIVOT (melt) — wide metric columns to
    (metric, value) rows via DataFrame.unpivot, then re-aggregated; the
    oracle is the portable UNION ALL form."""
    li = load(spark, sf_dir, "lineitem")
    melted = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").alias("qty"),
    ).unpivot(["l_returnflag"], ["price", "qty"], "metric", "v")
    return melted.groupBy("l_returnflag", "metric").agg(
        F.round(F.sum("v"), 2).alias("total")
    )


@query(
    "price_histogram",
    oracle="""
    SELECT
      CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bucket,
      CAST(CAST(floor(l_extendedprice / 10000.0) AS BIGINT) * 10000.0
           AS DOUBLE) AS bucket_lo,
      COUNT(*) AS n,
      CAST(ROUND(CAST((AVG(l_discount)) AS DECIMAL(38,8)), 4) AS DOUBLE)
        AS avg_discount
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 declared extension: fixed-width histogram — floor-bucketed
    price bands with per-band stats. One partial-aggregated group-by;
    the analytic shape behind every distribution dashboard tile."""
    li = load(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / 10000.0)
    return li.groupBy(
        bucket.alias("bucket"), (bucket * 10000.0).alias("bucket_lo")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.avg("l_discount"), 4).alias("avg_discount"),
    )


@query(
    "mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, median("value") AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_id, e.event_type, abs(e."value" - m.med) AS dev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, median(dev) AS mad FROM dev GROUP BY event_type
    )
    SELECT d.event_id,
           d.event_type,
           CASE WHEN m.mad = 0 THEN NULL
                ELSE CAST(ROUND(CAST((d.dev / (1.4826 * m.mad))
                       AS DECIMAL(38,10)), 6) AS DOUBLE) END AS robust_z,
           CASE WHEN m.mad = 0 THEN NULL
                ELSE d.dev > 4.4478 * m.mad END AS is_outlier
    FROM dev d JOIN mad m USING (event_type)
    """,
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group anomaly detection: median/MAD z-scores
    (z = |x − median| / (1.4826·MAD), outlier at |z| > 3) — the
    quality gate that survives the heavy tails that break mean/stddev
    z-scores (one corrupt feed day drags a mean; it barely moves a
    median). Two exact-percentile aggregates (group keys = 5 event
    types, partial-aggregated) with the tiny per-group stats broadcast
    back — the fact table shuffles twice on a 5-key column and never
    self-joins. MAD=0 groups (constant value) yield NULL scores rather
    than division blowups — totality before scale, like int8's
    zero-vector guard. The 3σ-equivalent threshold 3·1.4826 is written
    as the literal 4.4478 in BOTH engines so constant folding cannot
    diverge."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
    )
    mad = dev.groupBy("event_type").agg(F.percentile("dev", 0.5).alias("mad"))
    out = dev.join(F.broadcast(mad), "event_type")
    guarded = lambda c: F.when(F.col("mad") != 0, c)  # noqa: E731
    return out.select(
        "event_id",
        "event_type",
        guarded(dround(F.col("dev") / (F.lit(1.4826) * F.col("mad")), 6)).alias(
            "robust_z"
        ),
        guarded(F.col("dev") > F.lit(4.4478) * F.col("mad")).alias(
            "is_outlier"
        ),
    )


@query(
    "winsorized_pricing",
    oracle="""
    WITH bounds AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.01) AS lo,
             quantile_cont(l_extendedprice, 0.99) AS hi
      FROM lineitem GROUP BY l_returnflag
    ),
    clipped AS (
      SELECT li.l_returnflag,
             LEAST(GREATEST(li.l_extendedprice, b.lo), b.hi) AS v
      FROM lineitem li JOIN bounds b USING (l_returnflag)
    )
    SELECT l_returnflag,
           CAST(ROUND(CAST((CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
                            / COUNT(*)) AS DECIMAL(38,10)), 4) AS DOUBLE)
             AS winsorized_mean,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM clipped GROUP BY l_returnflag
    """,
)
def winsorized_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean price per return flag: values clipped to the
    per-group [p1, p99] band before averaging — the outlier-robust
    aggregate a pricing dashboard uses so one fat-fingered order
    doesn't move the mean (the trimming cousin of mad_outliers'
    flagging). One exact-percentile aggregate over 3 group keys
    (partial-aggregated), bounds broadcast back, then a second
    partial-aggregated pass over the clipped column — the fact table
    never self-joins and shuffles only its 3-key rollups. The mean is
    computed as an exact DECIMAL sum over quantized values divided by
    the count (a naive double AVG is partition-order dependent — at
    ~1e9 group sums the summation jitter reaches the 4dp rounding
    granularity), then dround-quantized."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    # one array-percentile per group (sort once, read both bounds) —
    # the _hqe_exact_fit lesson; values bit-identical
    bounds = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit([0.01, 0.99])).alias(
                "__b"
            )
        )
        .select(
            "l_returnflag",
            F.element_at("__b", 1).alias("lo"),
            F.element_at("__b", 2).alias("hi"),
        )
    )
    clipped = li.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        F.least(
            F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi")
        ).alias("v"),
    )
    return clipped.groupBy("l_returnflag").agg(
        dround(
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("winsorized_mean"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "price_quantity_regression",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(l_quantity      AS DECIMAL(9,4)))  AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(15,4))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(9,4))
                 * CAST(l_quantity AS DECIMAL(9,4)))       AS sxx,
             SUM(CAST(l_quantity AS DECIMAL(9,4))
                 * CAST(l_extendedprice AS DECIMAL(15,4))) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(ROUND(CAST((
             (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           ) AS DECIMAL(38,10)), 6) AS DOUBLE) AS slope,
           CAST(ROUND(CAST((
             (CAST(sy AS DOUBLE)
              - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * CAST(sx AS DOUBLE)) / n
           ) AS DECIMAL(38,10)), 6) AS DOUBLE) AS intercept
    FROM s
    """,
)
def price_quantity_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine OLS: price-vs-quantity regression line per return flag
    from closed-form sufficient statistics — the trend-fitting
    primitive (elasticity estimates, drift monitors) done as ONE
    partial-aggregated pass, no ML library, no iteration. All five
    sufficient statistics (n, Σx, Σy, Σx², Σxy) accumulate as exact
    DECIMALs, so the aggregate is order-independent; slope/intercept
    derive from those exact sums in identical double expressions on
    both engines, then dround-quantize. At 100 TB this is the same
    single group-by shuffle as any rollup — sufficient statistics are
    the map-side-combinable form of model fitting."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        # 4dp is lossless for these inputs; narrow precision keeps the
        # product DECIMAL within both engines' 38-digit budget (DuckDB
        # errors on DECIMAL(18)x(18) product overflow where Spark would
        # silently widen-and-round).
        F.col("l_quantity").cast("decimal(9,4)").alias("x"),
        F.col("l_extendedprice").cast("decimal(15,4)").alias("y"),
    )
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "l_returnflag",
        "n",
        dround(slope, 6).alias("slope"),
        dround((sy - slope * sx) / n, 6).alias("intercept"),
    )


_EQD_QS = tuple(i / 8 for i in range(1, 8))  # 7 inner boundaries


def _equi_depth_oracle() -> str:
    bounds = ", ".join(
        f"CAST(ROUND(CAST(quantile_cont(l_extendedprice, {q!r})"
        f" AS DECIMAL(38,6)), 2) AS DOUBLE) AS b{i}"
        for i, q in enumerate(_EQD_QS)
    )
    bucket = " + ".join(
        f"CASE WHEN l_extendedprice > b.b{i} THEN 1 ELSE 0 END"
        for i in range(len(_EQD_QS))
    )
    return f"""
    WITH b AS (SELECT {bounds} FROM lineitem)
    SELECT CAST(({bucket}) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l_extendedprice) AS lo,
           MAX(l_extendedprice) AS hi
    FROM lineitem, b
    GROUP BY 1
    """


@query("equi_depth_histogram", oracle=_equi_depth_oracle())
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A+ optimizer-stats surface: EQUI-DEPTH histogram (the CBO
    statistic `ANALYZE TABLE ... FOR COLUMNS` builds, and the
    complement of the fixed-width `price_histogram`): 7 exact octile
    boundaries over l_extendedprice, then one pass assigning each row
    bucket = #boundaries below it — every bucket holds ~N/8 rows no
    matter how skewed the distribution, which is what makes equi-depth
    the selectivity estimator of choice. The boundaries come from ONE
    percentile aggregate (collected — 7 doubles, the bounded-collect
    pattern, dround(2)-quantized so both engines compare against
    identical cut points); assignment is pure Column arithmetic inside
    the scan stage, and the rollup is one partial-aggregated group-by
    over ≤8 keys. At 100 TB swap the exact percentile for
    approx_percentile with the same call shape (the percentile_summary
    note)."""
    li = load(spark, sf_dir, "lineitem")
    # one array-percentile (sort once) instead of 7 full-column
    # buffers — the _hqe_exact_fit lesson; values bit-identical
    row = (
        li.agg(
            F.percentile("l_extendedprice", F.lit(list(_EQD_QS))).alias(
                "__ps"
            )
        )
        .select(
            *[
                dround(F.element_at("__ps", i + 1), 2).alias(f"b{i}")
                for i in range(len(_EQD_QS))
            ]
        )
        .collect()[0]
    )
    bucket = sum(
        F.when(F.col("l_extendedprice") > F.lit(row[f"b{i}"]), 1).otherwise(0)
        for i in range(len(_EQD_QS))
    ).cast("long")
    return (
        li.select(F.col("l_extendedprice"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
    )


_CM_W, _CM_D, _CM_SEED = 64, 3, 131


def _cm_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.operators.bloom import (
        _oracle_pos,
    )

    inc = " UNION ALL ".join(
        f"SELECT {j} AS j, {_oracle_pos('user_id', _CM_W, j, _CM_SEED)} AS bucket"
        " FROM events"
        for j in range(_CM_D)
    )
    ppos = " UNION ALL ".join(
        f"SELECT user_id, {j} AS j,"
        f" {_oracle_pos('user_id', _CM_W, j, _CM_SEED)} AS bucket FROM probes"
        for j in range(_CM_D)
    )
    return f"""
    WITH inc AS ({inc}),
    sketch AS (SELECT j, bucket, COUNT(*) AS cell FROM inc GROUP BY 1, 2),
    probes AS (SELECT DISTINCT user_id FROM events WHERE user_id < 10),
    ppos AS ({ppos}),
    est AS (
      SELECT user_id, MIN(COALESCE(s.cell, 0)) AS est_count
      FROM ppos p LEFT JOIN sketch s ON p.j = s.j AND p.bucket = s.bucket
      GROUP BY user_id
    ),
    exact AS (
      SELECT user_id, COUNT(*) AS exact_count FROM events
      WHERE user_id < 10 GROUP BY 1
    )
    SELECT e.user_id, est_count, exact_count,
           est_count - exact_count AS overcount
    FROM est e JOIN exact x ON e.user_id = x.user_id
    """


@query("cm_sketch_estimate", oracle=_cm_oracle())
def cm_sketch_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12: Count-Min sketch frequency estimates — the overcounting
    dual of the Misra-Gries summary (`event_heavy_hitters`): d x w
    bounded counter grid, est >= true always, overcount bounded by the
    colliding mass (E <= N/w per row, min over d rows). Unlike MG the
    sketch is HASH-derived, not layout-derived, so the estimates
    themselves are deterministic and hash-comparable — the oracle
    rebuilds the exact same grid in SQL (portable md5 double-hashing,
    the Bloom filter family) and must match cell-for-cell. The exact
    counts ride along as the validation harness (overcount >= 0 is the
    no-underestimate guarantee, asserted in tests); the 100 TB shape
    drops them: one map-side explode + one partial-aggregated group-by
    bounded by d*w cells regardless of key cardinality, and sketches
    merge by cell addition (streaming/windowed variants reuse the same
    frame)."""
    from multichannel_commerce_data_pipeline_spark.operators.frequency import (
        cm_estimate,
        cm_sketch,
    )
    from multichannel_commerce_data_pipeline_spark.tables import (
        parallelize_small_scan,
    )

    ev = parallelize_small_scan(spark, load(spark, sf_dir, "events")).select(
        "user_id"
    )
    sk = cm_sketch(ev, F.col("user_id"), w=_CM_W, d=_CM_D, seed=_CM_SEED)
    probes = ev.filter(F.col("user_id") < 10).distinct()
    est = cm_estimate(sk, probes, "user_id", w=_CM_W, d=_CM_D, seed=_CM_SEED)
    exact = (
        ev.filter(F.col("user_id") < 10)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return est.join(exact, "user_id").select(
        "user_id",
        "est_count",
        "exact_count",
        (F.col("est_count") - F.col("exact_count")).alias("overcount"),
    )


_MH_M, _MH_SEED, _MH_R = 128, 211, 1 << 60


def _mh_distinct_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.functions import (
        oracle_dround,
        oracle_hash64,
    )

    h = oracle_hash64("CAST(l_partkey AS VARCHAR)", _MH_SEED)
    term = oracle_dround(
        f"CAST(min_h AS DOUBLE) / CAST({_MH_R} AS DOUBLE)", 12
    )
    rel = oracle_dround(
        "abs(est_distinct - exact_distinct) / exact_distinct", 6
    )
    s_sum = (
        f"CAST(SUM(CAST({term} AS DECIMAL(28,12))) AS DOUBLE)"
    )
    est_expr = oracle_dround(
        f"CAST({_MH_M * _MH_M} AS DOUBLE) / ({s_sum}) - {_MH_M}", 6
    )
    return f"""
    WITH h AS (SELECT {h} AS h FROM lineitem),
    b AS (
      SELECT CAST(h % {_MH_M} AS INT) AS bucket, MIN(h) AS min_h
      FROM h GROUP BY 1
    ),
    est AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets_hit,
             {est_expr} AS est_distinct
      FROM b
    ),
    ex AS (
      SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
      FROM lineitem
    )
    SELECT n_buckets_hit, est_distinct, exact_distinct, {rel} AS rel_err
    FROM est, ex
    """


@query("minhash_distinct_estimate", oracle=_mh_distinct_oracle())
def minhash_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12: bucketed min-hash DISTINCT-COUNT sketch — the cardinality
    member of the sketch family (MG/CM estimate frequency): m=128
    registers, each the partial-aggregated MIN portable hash of its
    bucket, estimator m²/sum(min/R) − m over the
    registers (Lumbroso's order-statistics form: the normalized minima
    sum in the NUMERATOR, so no register can blow the estimate up) —
    pure deterministic arithmetic, reproducible in SQL bit-for-bit,
    unlike HLL++'s internal sketch format behind
    `approx_distinct_kpi`. Scale shape: each partition ships at most
    m register rows regardless of row count or key cardinality — the
    exact COUNT DISTINCT alongside (the validation harness, oracle
    genre of `event_heavy_hitters`) is what the sketch REPLACES at
    100 TB, where its shuffle carries every distinct key. Registers
    merge by bucket-wise MIN across partitions, days, or streams."""
    from multichannel_commerce_data_pipeline_spark.functions import dround
    from multichannel_commerce_data_pipeline_spark.operators.frequency import (
        minhash_distinct_sketch,
    )

    li = load(spark, sf_dir, "lineitem")
    sk = minhash_distinct_sketch(
        li, F.col("l_partkey"), m=_MH_M, seed=_MH_SEED
    )
    term = dround(F.col("min_h").cast("double") / F.lit(float(_MH_R)), 12)
    s_sum = F.sum(term.cast("decimal(28,12)")).cast("double")
    est = sk.agg(
        F.count(F.lit(1)).alias("n_buckets_hit"),
        dround(
            F.lit(float(_MH_M * _MH_M)) / s_sum - _MH_M, 6
        ).alias("est_distinct"),
    )
    ex = li.agg(F.countDistinct("l_partkey").alias("exact_distinct"))
    return est.join(ex).select(
        "n_buckets_hit",
        "est_distinct",
        "exact_distinct",
        dround(
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err"),
    )


_JS_W, _JS_D, _JS_SEED = 8192, 3, 131


def _join_size_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.operators.bloom import (
        _oracle_pos,
    )

    def grid(rel: str, key: str) -> str:
        inc = " UNION ALL ".join(
            f"SELECT {j} AS j,"
            f" {_oracle_pos(key, _JS_W, j, _JS_SEED)} AS bucket FROM {rel}"
            for j in range(_JS_D)
        )
        return f"SELECT j, bucket, COUNT(*) AS cell FROM ({inc}) GROUP BY 1, 2"

    return f"""
    WITH sa AS ({grid('events', 'user_id')}),
    sb AS ({grid('orders', 'o_custkey')}),
    ip AS (
      SELECT sa.j, SUM(sa.cell * sb.cell) AS ip
      FROM sa JOIN sb ON sa.j = sb.j AND sa.bucket = sb.bucket
      GROUP BY sa.j
    ),
    est AS (
      SELECT CAST(COALESCE(MIN(ip), 0) AS BIGINT) AS est_join_size FROM ip
    ),
    exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_join_size
      FROM events e JOIN orders o ON e.user_id = o.o_custkey
    )
    SELECT est_join_size, exact_join_size,
           est_join_size - exact_join_size AS overcount
    FROM est, exact
    """


@query("join_size_estimate", oracle=_join_size_oracle())
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12+: JOIN-SIZE estimation by Count-Min inner product — the
    AMS/CM statistic a cost-based optimizer consults before committing
    a many-many join plan (|events ⋈ orders| on the user/customer key
    here: both sides hold many rows per key, exactly the shape whose
    true size — Σ_k fA(k)·fB(k) — a row-count product wildly misjudges
    and a blown estimate turns into a spilled shuffle at 100 TB). Each
    input is summarized INDEPENDENTLY into the shared d x w grid (one
    bounded map-side pass + a d*w-cell aggregate each — the inputs
    never join, no key ever shuffles); est = min over rows of the
    bucket-wise product sum, >= the true size always (collisions only
    add), E[over] <= Na·Nb/w per row. The exact join count rides along
    as the validation harness (overcount >= 0 is the guarantee,
    asserted in tests with a collision-free identity check); the
    oracle rebuilds both grids and the inner product relationally, so
    the estimate is hash-compared bit-for-bit, not just bounded
    (operators/frequency.py cm_inner_product)."""
    from multichannel_commerce_data_pipeline_spark.operators.frequency import (
        cm_inner_product,
        cm_sketch,
    )
    from multichannel_commerce_data_pipeline_spark.tables import (
        parallelize_small_scan,
    )

    ev = parallelize_small_scan(spark, load(spark, sf_dir, "events")).select(
        "user_id"
    )
    orders = parallelize_small_scan(
        spark, load(spark, sf_dir, "orders")
    ).select("o_custkey")
    # ONE aggregate per input feeds both halves (r16 optimization
    # round, guide §2.3 "aggregate before you shuffle" + §1.2): the
    # per-key count histogram is materialized once per side (eager
    # localCheckpoint — ≤ |keys| rows), the exact harness is
    # Σ_k fA(k)·fB(k) over the matched histograms (= COUNT(*) of the
    # equi-join; NULL keys drop identically), and the CM grids fold
    # the SAME histograms via the weighted sketch build — a key's d
    # cells gain count(key) at the same bucket positions the raw rows
    # hashed to, so every cell (and the estimate) is bit-identical.
    # Each base table is now scanned once instead of twice. The two
    # materializations are independent jobs, so they run concurrently
    # (guide §2.6 "overlap independent jobs"): one job's stage tail
    # back-fills the idle cores the other leaves free, halving the
    # serial wall the two eager checkpoints otherwise pay.
    ca, cb = concurrently(
        spark,
        lambda: ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("__na"))
        .localCheckpoint(eager=True),
        lambda: orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("__nb"))
        .localCheckpoint(eager=True),
    )
    sa = cm_sketch(
        ca,
        F.col("user_id"),
        w=_JS_W,
        d=_JS_D,
        seed=_JS_SEED,
        weight=F.col("__na"),
    )
    sb = cm_sketch(
        cb,
        F.col("o_custkey"),
        w=_JS_W,
        d=_JS_D,
        seed=_JS_SEED,
        weight=F.col("__nb"),
    )
    est = cm_inner_product(sa, sb)
    exact = ca.join(cb, ca.user_id == cb.o_custkey).agg(
        F.coalesce(F.sum(F.col("__na") * F.col("__nb")), F.lit(0))
        .cast("long")
        .alias("exact_join_size")
    )
    # the operator returns DECIMAL(38,0) (int64-safe at petabyte
    # inputs); this bench-scale query casts to BIGINT at its output
    # boundary to match the oracle's schema
    return est.join(exact).select(
        F.col("est_join_size").cast("long").alias("est_join_size"),
        "exact_join_size",
        (F.col("est_join_size").cast("long") - F.col("exact_join_size"))
        .cast("long")
        .alias("overcount"),
    )


def _gw_ndv_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.functions import (
        oracle_dround,
        oracle_hash64,
    )

    h = oracle_hash64("CAST(user_id AS VARCHAR)", _MH_SEED)
    term = oracle_dround(
        f"CAST(min_h AS DOUBLE) / CAST({_MH_R} AS DOUBLE)", 12
    )
    s_sum = f"CAST(SUM(CAST({term} AS DECIMAL(28,12))) AS DOUBLE)"
    lumbroso = oracle_dround(
        f"CAST({_MH_M * _MH_M} AS DOUBLE) / ({s_sum}) - {_MH_M}", 6
    )
    linear = oracle_dround(
        f"-{_MH_M} * ln(CAST({_MH_M} - COUNT(*) AS DOUBLE)"
        f" / CAST({_MH_M} AS DOUBLE))",
        6,
    )
    rel = oracle_dround(
        "abs(est_distinct - exact_distinct) / exact_distinct", 6
    )
    return f"""
    WITH b AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS grp,
             CAST(h % {_MH_M} AS INT) AS bucket, h
      FROM (SELECT ts, {h} AS h FROM events)
    ),
    regs AS (
      SELECT grp, bucket, MIN(h) AS min_h FROM b GROUP BY 1, 2
    ),
    allregs AS (
      SELECT grp, bucket, min_h FROM regs
      UNION ALL
      SELECT 'ALL' AS grp, bucket, MIN(min_h) AS min_h
      FROM regs GROUP BY bucket
    ),
    est AS (
      SELECT grp,
             CAST(COUNT(*) AS BIGINT) AS n_buckets_hit,
             CASE WHEN COUNT(*) < {_MH_M} THEN {linear}
                  ELSE {lumbroso} END AS est_distinct
      FROM allregs GROUP BY grp
    ),
    ex AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS grp,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY 1
      UNION ALL
      SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
    )
    SELECT e.grp, e.n_buckets_hit, e.est_distinct,
           x.exact_distinct, {rel} AS rel_err
    FROM est e JOIN ex x ON e.grp = x.grp
    """


@query("groupwise_ndv_estimate", oracle=_gw_ndv_oracle())
def groupwise_ndv_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12+ (r16): GROUP-WISE cardinality sketching — per-day distinct
    users (the DAU panel) AND the deduplicated total, all from ONE
    scan's registers. Per (day, bucket) min-hash registers partial-
    aggregate map-side (<= m rows per day reach the exchange no
    matter the day's traffic); the 'ALL' row then FOLDS the per-day
    registers by bucket-wise MIN — the union-cardinality property
    per-group exact counts cannot give you (summing daily exacts
    double-counts returning users; re-scanning for the total is the
    second pass this sketch exists to avoid). This is the register
    family's mergeability exercised ACROSS GROUPS, the same law
    ndv_delta_merge exercises across time.

    Estimator regime split, identical rule both engines: groups that
    hit every register use the Lumbroso order-statistics form
    m^2/S - m (the n >> m regime, minhash_distinct_estimate's
    estimator); groups with empty registers use hit-bucket LINEAR
    COUNTING -m*ln((m-V)/m) (Whang et al. 1990 — the small-range
    correction HLL applies below 2.5m, where the order-statistics
    form degrades because most registers are single-key). At driver
    SFs the daily rows exercise linear counting and larger corpora
    push the ALL row across the threshold. The exact COUNT DISTINCT
    per group rides along as the accuracy harness (the sketch-family
    convention); ln enters once and is dround-quantized like the PSI
    monitor's. Cites reference scripts/warehouse/silver_to_gold.py's
    full-rescan daily marts as the replaced anti-pattern."""
    from multichannel_commerce_data_pipeline_spark.functions import (
        dround,
        portable_hash64,
    )

    ev = load(spark, sf_dir, "events")
    h = portable_hash64(F.col("user_id").cast("string"), _MH_SEED)
    base = ev.select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("grp"),
        (h % _MH_M).cast("int").alias("bucket"),
        h.alias("h"),
    )
    regs = base.groupBy("grp", "bucket").agg(F.min("h").alias("min_h"))
    allregs = regs.unionByName(
        regs.groupBy("bucket")
        .agg(F.min("min_h").alias("min_h"))
        .select(F.lit("ALL").alias("grp"), "bucket", "min_h")
    )
    term = dround(F.col("min_h").cast("double") / F.lit(float(_MH_R)), 12)
    s_sum = F.sum(term.cast("decimal(28,12)")).cast("double")
    v = F.count(F.lit(1))
    est = allregs.groupBy("grp").agg(
        v.cast("long").alias("n_buckets_hit"),
        F.when(
            v < _MH_M,
            dround(
                F.lit(float(-_MH_M))
                * F.log(
                    (v - _MH_M).cast("double") / F.lit(float(-_MH_M))
                ),
                6,
            ),
        )
        .otherwise(
            dround(F.lit(float(_MH_M * _MH_M)) / s_sum - _MH_M, 6)
        )
        .alias("est_distinct"),
    )
    ex = (
        ev.groupBy(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("grp")
        )
        .agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
        .unionByName(
            ev.agg(
                F.lit("ALL").alias("grp"),
                F.countDistinct("user_id").cast("long").alias(
                    "exact_distinct"
                ),
            )
        )
    )
    return est.join(ex, "grp").select(
        "grp",
        "n_buckets_hit",
        "est_distinct",
        "exact_distinct",
        dround(
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err"),
    )
