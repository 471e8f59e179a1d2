"""Window functions — SURVEY.md §2.5 declared surface.

The reference has no window functions; the Power BI measure
`current_week_revenue` (pbix Report/Layout) implies time-scoped
aggregation that we absorb engine-side, and the gold star schema exists
to serve ranking/trend queries. Declared surface: row_number, rank,
dense_rank, lag, lead, running aggregates over frames — all built-in and
oracle-checkable.

Scale note: every window here partitions by a key (never a global
ORDER BY over the whole relation), so state stays bounded per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.functions import dround, oracle_dround
from multichannel_commerce_data_pipeline_spark.queries import query
from multichannel_commerce_data_pipeline_spark.tables import load


@query(
    "window_rank_in_segment",
    oracle="""
    SELECT * FROM (
      SELECT
        c_mktsegment,
        c_custkey,
        c_acctbal,
        ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn,
        RANK()       OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rnk,
        DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS drnk
      FROM customer
    ) WHERE rn <= 10
    """,
)
def window_rank_in_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank: top-10 customers by balance per
    market segment (the 'revenue rank per channel' shape from SURVEY §2.5)."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.col("c_custkey"))
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 10)
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      o_orderdate,
      LAG(o_totalprice)  OVER w AS prev_price,
      LEAD(o_totalprice) OVER w AS next_price,
      ROUND(o_totalprice - COALESCE(LAG(o_totalprice) OVER w, o_totalprice), 2) AS price_delta
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag / lead: per-customer order-to-order price deltas (trend
    queries the gold schema serves)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        prev.alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.round(F.col("o_totalprice") - F.coalesce(prev, F.col("o_totalprice")), 2).alias(
            "price_delta"
        ),
    )


@query(
    "window_running_sum",
    oracle=f"""
    SELECT
      o_custkey,
      o_orderkey,
      o_orderdate,
      {oracle_dround('''SUM(o_totalprice) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''')} AS running_spend,
      {oracle_dround('''AVG(o_totalprice) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)''')} AS moving_avg_3
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec aggregates: running total and 3-row moving average per
    customer (rowsBetween). Rounded through a decimal cast
    (functions.dround): a 2-row average lands on exact half-cents
    (x/2 = .xx5) where plain double rounding diverges per engine."""
    o = load(spark, sf_dir, "orders")
    ordered = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    moving = ordered.rowsBetween(-2, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        dround(F.sum("o_totalprice").over(running)).alias("running_spend"),
        dround(F.avg("o_totalprice").over(moving)).alias("moving_avg_3"),
    )


@query(
    "current_week_revenue",
    oracle="""
    WITH anchored AS (SELECT date_trunc('week', max(o_orderdate)) AS wk FROM orders)
    SELECT
      CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
      ROUND(SUM(o_totalprice), 2)                   AS weekly_revenue,
      COUNT(DISTINCT o_orderkey)                    AS weekly_orders
    FROM orders, anchored
    WHERE date_trunc('week', o_orderdate) = anchored.wk
    GROUP BY 1
    """,
)
def current_week_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Power BI measure `current_week_revenue` (pbix Report/Layout,
    'Executive Overview' cards) absorbed engine-side: calendar-week
    filter + aggregate. Anchored on max(o_orderdate) instead of
    current_date() so the result is deterministic on static test data."""
    o = load(spark, sf_dir, "orders")
    week = F.date_trunc("week", F.col("o_orderdate"))
    anchor = o.agg(F.date_trunc("week", F.max("o_orderdate")).alias("wk"))
    return (
        o.join(F.broadcast(anchor))
        .filter(week == F.col("wk"))
        .groupBy(week.cast("date").alias("week_start"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("weekly_revenue"),
            F.countDistinct("o_orderkey").alias("weekly_orders"),
        )
    )


@query(
    "window_distribution",
    oracle="""
    SELECT
      o_orderkey,
      o_orderpriority,
      NTILE(4)       OVER w AS price_quartile,
      CAST(ROUND(CAST((PERCENT_RANK() OVER w) AS DECIMAL(38,8)), 4) AS DOUBLE)
        AS pct_rank,
      CAST(ROUND(CAST((CUME_DIST() OVER w) AS DECIMAL(38,8)), 4) AS DOUBLE)
        AS cume
    FROM orders
    WHERE o_orderkey <= 2000
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 declared surface, distribution functions: NTILE /
    PERCENT_RANK / CUME_DIST per priority segment. The orderkey
    tie-break makes frame positions — and therefore every distribution
    value — engine-deterministic."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
        dround(F.percent_rank().over(w), 4).alias("pct_rank"),
        dround(F.cume_dist().over(w), 4).alias("cume"),
    )


@query(
    "window_first_last",
    oracle="""
    SELECT
      c_custkey,
      c_mktsegment,
      FIRST_VALUE(c_acctbal) OVER (
        PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_top_bal,
      LAST_VALUE(c_acctbal) OVER (
        PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS seg_bottom_bal
    FROM customer
    WHERE c_custkey <= 1000
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 declared surface: FIRST_VALUE / LAST_VALUE with explicit
    row frames (running top / remaining bottom per segment). The
    custkey tie-break pins frame order so both engines agree row-for-
    row."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 1000)
    order = [F.desc("c_acctbal"), F.col("c_custkey")]
    top = (
        Window.partitionBy("c_mktsegment")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bottom = (
        Window.partitionBy("c_mktsegment")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.first("c_acctbal").over(top).alias("seg_top_bal"),
        F.last("c_acctbal").over(bottom).alias("seg_bottom_bal"),
    )


_RFM_QS = (0.25, 0.5, 0.75)


def _rfm_oracle() -> str:
    cuts = ", ".join(
        oracle_dround(f"quantile_cont({m}, {q!r})", 6) + f" AS {m[0]}{i}"
        for m in ("recency_days", "frequency", "monetary")
        for i, q in enumerate(_RFM_QS)
    )

    def bucket(m: str) -> str:
        return "1 + " + " + ".join(
            f"(CASE WHEN {m} > c.{m[0]}{i} THEN 1 ELSE 0 END)"
            for i in range(len(_RFM_QS))
        )

    return f"""
    WITH anchor AS (SELECT MAX(o_orderdate) AS mx FROM orders),
    base AS (
      SELECT o_custkey AS custkey,
             date_diff('day', MAX(o_orderdate), ANY_VALUE(mx)) AS recency_days,
             COUNT(*) AS frequency,
             ROUND(SUM(o_totalprice), 2) AS monetary
      FROM orders, anchor GROUP BY o_custkey
    ),
    cuts AS (SELECT {cuts} FROM base)
    SELECT custkey, recency_days, frequency, monetary,
           CAST(5 - ({bucket('recency_days')}) AS INT) AS r_quartile,
           CAST({bucket('frequency')} AS INT) AS f_quartile,
           CAST({bucket('monetary')} AS INT) AS m_quartile
    FROM base, cuts c
    """


@query("customer_rfm", oracle=_rfm_oracle())
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency/frequency/monetary per buyer with
    quartile scores; the classic commerce-marketing rollup the gold
    star schema exists to serve. The per-customer frame is NOT bounded
    (one row per customer — billions at 100 TB), so the quartiles are
    computed the equi_depth_histogram way: ONE percentile aggregate
    yields the 3 cut points per measure as a one-row frame, broadcast
    and cross-joined like ``anchor`` (no collect, so constructing the
    query runs no Spark job), and scores are map-side bucket
    arithmetic against its columns — no global NTILE sort, no
    single-partition window anywhere. Scores are value-threshold
    quartiles (score = 1 + #cuts below the value; recency inverted so
    the stalest quartile scores 1), which differ from NTILE's
    equal-count split only at exact-tie boundaries; the oracle applies
    the identical cut-point semantics. The anchor date is
    max(o_orderdate) so static test data stays deterministic."""
    o = load(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    base = (
        o.join(F.broadcast(anchor))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.datediff(F.first("mx"), F.max("o_orderdate")).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
    )
    # one array-percentile per measure (sort once each) instead of
    # 3x3 full-column buffers — the _hqe_exact_fit lesson; values
    # bit-identical
    cuts = (
        base.agg(
            *[
                F.percentile(m, F.lit(list(_RFM_QS))).alias(f"__{m[0]}")
                for m in ("recency_days", "frequency", "monetary")
            ]
        )
        .select(
            *[
                dround(F.element_at(f"__{m[0]}", i + 1), 6).alias(
                    f"{m[0]}{i}"
                )
                for m in ("recency_days", "frequency", "monetary")
                for i in range(len(_RFM_QS))
            ]
        )
    )

    def bucket(m: str):
        return 1 + sum(
            F.when(F.col(m) > F.col(f"{m[0]}{i}"), 1).otherwise(0)
            for i in range(len(_RFM_QS))
        )

    return base.join(F.broadcast(cuts)).select(
        "custkey", "recency_days", "frequency", "monetary",
        (5 - bucket("recency_days")).cast("int").alias("r_quartile"),
        bucket("frequency").cast("int").alias("f_quartile"),
        bucket("monetary").cast("int").alias("m_quartile"),
    )


@query(
    "monthly_revenue_trend",
    oracle="""
    WITH monthly AS (
      SELECT o_orderpriority AS channel,
             strftime(date_trunc('month', o_orderdate), '%Y%m') AS month_key,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1, 2
    )
    SELECT channel, month_key, revenue,
           CAST(ROUND(CAST((
             (revenue - LAG(revenue) OVER w) / LAG(revenue) OVER w * 100
           ) AS DECIMAL(38,6)), 2) AS DOUBLE) AS pct_change
    FROM monthly
    WINDOW w AS (PARTITION BY channel ORDER BY month_key)
    """,
)
def monthly_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue trend per channel (lag over the
    aggregated series — the window runs on months × channels rows, not
    the fact table). The dashboard query behind every trend tile."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("channel"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyyMM").alias(
            "month_key"
        ),
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.partitionBy("channel").orderBy("month_key")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "channel", "month_key", "revenue",
        dround((F.col("revenue") - prev) / prev * 100, 2).alias("pct_change"),
    )


@query(
    "skyline_pareto",
    oracle="""
    WITH g AS (
      SELECT p_brand, p_retailprice,
             MAX(p_size) AS mx
      FROM part GROUP BY 1, 2
    ),
    swept AS (
      SELECT p_brand, p_retailprice, mx,
             MAX(mx) OVER (PARTITION BY p_brand ORDER BY p_retailprice
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS m_lt
      FROM g
    )
    SELECT p.p_brand, p.p_partkey, p.p_retailprice,
           CAST(p.p_size AS INT) AS p_size
    FROM part p JOIN swept s
      ON p.p_brand = s.p_brand AND p.p_retailprice = s.p_retailprice
    WHERE NOT (
      (s.m_lt IS NOT NULL AND s.m_lt >= p.p_size) OR s.mx > p.p_size
    )
    """,
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 (r15): per-brand Pareto frontier (skyline) of parts on
    (retail price MIN, size MAX) — the "no strictly better trade-off
    exists" catalogue query (Borzsony/Kossmann/Stocker, ICDE 2001). A
    part is dominated when some same-brand part is no worse on both
    axes and strictly better on one; the naive formulation is a
    quadratic inequality self-join, which is exactly what a 100 TB
    catalogue cannot afford.

    For a 2-D skyline the dominance test collapses to a SWEEP: group
    to one row per (brand, price) carrying the max size at that price,
    sort each brand by price, and a part survives iff its size beats
    BOTH the running max over strictly-cheaper rows (m_lt) and any
    same-price larger twin (mx) — equal-price equal-size ties are
    mutually non-dominating and all survive, matching the strict-
    somewhere definition. Plan: one partial-agg shuffle on (brand,
    price), one per-brand ordered window over DISTINCT prices (state
    = one running max), one equi-join back to the parts (AQE
    broadcasts the swept side when small). All comparisons are on raw
    parquet values — no arithmetic, nothing for cross-engine floats
    to disagree about."""
    part = load(spark, sf_dir, "part")
    g = part.groupBy("p_brand", "p_retailprice").agg(
        F.max("p_size").alias("mx")
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    swept = g.select(
        "p_brand", "p_retailprice", "mx", F.max("mx").over(w).alias("m_lt")
    )
    j = part.join(swept, ["p_brand", "p_retailprice"])
    dominated = (
        F.col("m_lt").isNotNull() & (F.col("m_lt") >= F.col("p_size"))
    ) | (F.col("mx") > F.col("p_size"))
    return j.filter(~dominated).select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        F.col("p_size").cast("int").alias("p_size"),
    )


@query(
    "revenue_trend_slope",
    oracle=f"""
    WITH monthly AS (
      SELECT p.p_brand,
             CAST(year(l.l_shipdate) * 12 + month(l.l_shipdate) AS BIGINT)
               AS x,
             CAST({oracle_dround("SUM(l.l_extendedprice)", 2)}
               AS DECIMAL(18, 2)) AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    s AS (
      SELECT p_brand,
             CAST(COUNT(*) AS DECIMAL(38, 4)) AS n,
             CAST(SUM(x) AS DECIMAL(38, 4)) AS sx,
             SUM(y) AS sy,
             SUM(CAST(x AS DECIMAL(18, 0)) * y) AS sxy,
             CAST(SUM(x * x) AS DECIMAL(38, 4)) AS sxx
      FROM monthly GROUP BY 1
    )
    SELECT p_brand, CAST(n AS BIGINT) AS n_months,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE {oracle_dround(
                    "CAST(n * sxy - sx * sy AS DOUBLE)"
                    " / CAST(n * sxx - sx * sx AS DOUBLE)", 6)}
           END AS slope_per_month
    FROM s
    """,
)
def revenue_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 (r15): per-brand revenue trend as an OLS slope — the
    regression-aggregate surface (REGR_SLOPE) done exactly: slope =
    (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) over (month index, monthly
    revenue) pairs, with every sum accumulated in DECIMAL — month
    indices are integers and monthly revenue is 2dp, so all five
    sufficient statistics are EXACT and association-free, and the one
    floating division happens on exact operands (the engines' native
    covar/var aggregates sum doubles in engine-specific order, which
    is why the closed form is spelled out on both sides). NULL slope
    for a single-month brand (zero variance guard).

    Plan: one broadcast dim join (part onto lineitem), one keyed
    shuffle for the (brand, month) rollup with map-side partials, a
    brand-count-sized stats rollup — the fact table is touched once.
    The trend a merch dashboard draws next to monthly_revenue_trend's
    month-over-month deltas, as one number per brand."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_extendedprice",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
        .cast("bigint")
        .alias("x"),
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    monthly = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "x")
        .agg(dround(F.sum("l_extendedprice"), 2).cast("decimal(18,2)").alias("y"))
    )
    s = monthly.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("decimal(38,4)").alias("n"),
        F.sum("x").cast("decimal(38,4)").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,4)").alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "p_brand",
        F.col("n").cast("long").alias("n_months"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(dround(num.cast("double") / den.cast("double"), 6))
        .alias("slope_per_month"),
    )
