"""Time-window operators (T4) on the events table — tumbling, sliding,
and session windows. These are the batch-checkable twins of the
streaming aggregates in streaming/jobs.py: F.window / F.session_window
produce identical results on batch frames, which is what makes them
oracle-verifiable (the streaming tests then assert stream≡batch).

Scale: window aggregation is one shuffle on (window, keys); sliding
windows replicate each row windowSize/slide times at the Expand stage —
the 2d/1d slide here doubles rows pre-shuffle, which AQE coalesces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.artifacts import artifact
from multichannel_commerce_data_pipeline_spark.functions import (
    dround,
    oracle_dround,
    oracle_hash64,
)
from multichannel_commerce_data_pipeline_spark.queries import query
from multichannel_commerce_data_pipeline_spark.tables import load


def _epoch_us(ts):
    """Epoch microseconds of a timestamp column regardless of whether the
    parquet scan surfaced it as TIMESTAMP or TIMESTAMP_NTZ (Spark 4 infers
    NTZ for non-UTC-adjusted parquet). unix_micros only accepts LTZ; the
    cast interprets NTZ wall time in the session zone, which session.py
    pins to UTC — matching DuckDB's epoch_us(TIMESTAMP) exactly."""
    return F.unix_micros(ts.cast("timestamp_ltz"))


@query(
    "tumbling_daily_events",
    oracle=f"""
    SELECT
      CAST(date_trunc('day', ts) AS TIMESTAMP)                 AS window_start,
      CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS window_end,
      event_type,
      COUNT(*)                                AS n_events,
      {oracle_dround('SUM("value")')}       AS total_value
    FROM events
    GROUP BY date_trunc('day', ts), event_type
    """,
)
def tumbling_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: tumbling 1-day windows — the daily grain the reference
    imposes via date_key (silver_to_gold.py:272), as a real window
    operator (epoch-aligned, identical in streaming with a watermark)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "sliding_window_events",
    oracle=f"""
    SELECT
      date_trunc('day', ts) - k.k * INTERVAL 1 DAY                 AS window_start,
      date_trunc('day', ts) - k.k * INTERVAL 1 DAY + INTERVAL 2 DAY AS window_end,
      COUNT(*)                                                     AS n_events,
      {oracle_dround('SUM("value")')}                            AS total_value
    FROM events, (SELECT unnest([0, 1]) AS k) k
    GROUP BY 1, 2
    """,
)
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: sliding windows (2-day window, 1-day slide) — each event
    lands in exactly two windows; Spark's Expand replicates rows before
    one shuffle."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


@query(
    "session_window_events",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, "value",
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT *, SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS session_id
      FROM flagged
    )
    SELECT
      user_id,
      MIN(ts)                                  AS session_start,
      MAX(ts) + INTERVAL 30 MINUTE             AS session_end,
      COUNT(*)                                 AS n_events,
      {oracle_dround('SUM("value")')}        AS total_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4/T5: session windows (30-minute inactivity gap) per user —
    Spark's session_window merges events closer than the gap; the
    oracle reproduces it with a gaps-and-islands window SQL."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@query(
    "event_gap_detection",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_us
      FROM events
    )
    SELECT user_id, event_id, ts_us - prev_us AS gap_us
    FROM ordered
    WHERE prev_us IS NOT NULL AND ts_us - prev_us > 1800000000
    """,
)
def event_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inactivity gaps > 30 min via lag over the event-time
    window — the gap detector behind session_window_events, exposed as
    its own operator (the rows where a new session starts; strict >
    matches session_window, which merges touching windows, i.e. a gap
    of exactly the duration stays one session). Epoch microseconds
    keep the arithmetic exact-integer in both engines."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = _epoch_us(F.col("ts"))
    gapped = ev.select(
        "user_id",
        "event_id",
        us.alias("ts_us"),
        F.lag(us).over(w).alias("prev_us"),
    )
    return (
        gapped.filter(
            F.col("prev_us").isNotNull()
            & (F.col("ts_us") - F.col("prev_us") > 1_800_000_000)
        )
        .select("user_id", "event_id", (F.col("ts_us") - F.col("prev_us")).alias("gap_us"))
    )


@query(
    "event_funnel",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END)     AS first_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END)    AS first_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT
      COUNT(*) FILTER (first_view IS NOT NULL) AS viewed,
      COUNT(*) FILTER (first_view IS NOT NULL AND first_click > first_view)
        AS clicked_after_view,
      COUNT(*) FILTER (first_view IS NOT NULL AND first_click > first_view
                       AND first_purchase > first_click)
        AS purchased_after_click
    FROM per_user
    """,
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase) in ONE pass:
    conditional-min aggregates per user (no self-joins per stage — the
    naive funnel is k joins of the event table), then ordering
    predicates count stage survivors."""
    ev = load(spark, sf_dir, "events")
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    per_user = ev.groupBy("user_id").agg(
        first("view").alias("first_view"),
        first("click").alias("first_click"),
        first("purchase").alias("first_purchase"),
    )
    viewed = F.col("first_view").isNotNull()
    clicked = viewed & (F.col("first_click") > F.col("first_view"))
    purchased = clicked & (F.col("first_purchase") > F.col("first_click"))
    return per_user.agg(
        F.count(F.when(viewed, 1)).alias("viewed"),
        F.count(F.when(clicked, 1)).alias("clicked_after_view"),
        F.count(F.when(purchased, 1)).alias("purchased_after_click"),
    )


@query(
    "event_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           -- CAST: DuckDB SUM(int) yields HUGEINT, which pandas renders as
           -- float64 and breaks the cross-engine value hash vs Spark bigint.
           CAST(SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND CURRENT ROW)
                AS BIGINT) AS session_seq
    FROM flagged
    """,
)
def event_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization ASSIGNMENT (the dual of session_window_events'
    aggregate): every event gets its user-scoped session ordinal via a
    gap flag (> 30 min silence, matching session_window's merge-on-touch
    boundary) and a running sum — one window
    partitioning, two passes over it, no joins. This is the labeling
    step downstream per-session features join against."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = _epoch_us(F.col("ts"))
    gap = us - F.lag(us).over(w)
    # strict >: Spark's session_window MERGES an event exactly gap
    # minutes after its predecessor (touching session windows merge;
    # verified empirically — test_session_boundary_agreement_at_exact_gap),
    # so the dual flags a new session only when the gap EXCEEDS the
    # duration.
    new_session = F.when(
        gap.isNull() | (gap > 1_800_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    flagged = ev.select(
        "user_id", "event_id", "ts", new_session.alias("new_session")
    )
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("new_session").over(run).alias("session_seq"),
    )


@query(
    "interval_join_views_purchases",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id AS view_id, epoch_us(ts) AS vts
      FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT v.user_id, v.view_id, p.purchase_id,
           p.pts - v.vts AS gap_us
    FROM v JOIN p ON v.user_id = p.user_id
    WHERE p.pts >= v.vts AND p.pts <= v.vts + 1800000000
    """,
)
def interval_join_views_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join — the BATCH TWIN of the stream-stream
    watermarked join (streaming/jobs.py stream_orders_with_freight,
    whose stream≡batch equivalence tests/test_streaming.py asserts):
    every purchase within 30 minutes after a view by the same user. One
    equi-join on user_id with the time bound as a post-join range
    predicate; in the streaming form the same bound is what lets Spark
    expire both sides' state. Epoch-microsecond arithmetic keeps the
    gap exact-integer in both engines."""
    ev = load(spark, sf_dir, "events")
    us = _epoch_us(F.col("ts"))
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), us.alias("vts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        us.alias("pts"),
    )
    return (
        v.join(p, v.user_id == p.p_user_id)
        .filter(
            (F.col("pts") >= F.col("vts"))
            & (F.col("pts") <= F.col("vts") + F.lit(1_800_000_000))
        )
        .select(
            "user_id",
            "view_id",
            "purchase_id",
            (F.col("pts") - F.col("vts")).alias("gap_us"),
        )
    )


@query(
    "conversion_funnel",
    oracle="""
    WITH tv AS (
      SELECT user_id, MIN(ts) AS t
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    tc AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN tv ON tv.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > tv.t
      GROUP BY e.user_id
    ),
    tp AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN tc ON tc.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > tc.t
      GROUP BY e.user_id
    ),
    counts AS (
      SELECT (SELECT COUNT(*) FROM tv) AS nv,
             (SELECT COUNT(*) FROM tc) AS nc,
             (SELECT COUNT(*) FROM tp) AS np
    )
    SELECT 1 AS step, 'view' AS event_type, CAST(nv AS BIGINT) AS n_users,
           CAST(1.0 AS DOUBLE) AS pct_of_top FROM counts
    UNION ALL
    SELECT 2, 'click', CAST(nc AS BIGINT),
           CAST(ROUND(CAST(CAST(nc AS DOUBLE) / nv AS DECIMAL(38,8)), 4)
                AS DOUBLE) FROM counts
    UNION ALL
    SELECT 3, 'purchase', CAST(np AS BIGINT),
           CAST(ROUND(CAST(CAST(np AS DOUBLE) / nv AS DECIMAL(38,8)), 4)
                AS DOUBLE) FROM counts
    """,
)
def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commerce funnel analysis: users completing view → click →
    purchase IN ORDER (each later step strictly after the user's first
    completion of the previous step), with per-step conversion rates.
    Strictly stronger than `event_funnel`'s global-first-timestamps
    comparison: a user whose only-counted click happened before their
    first view still converts here if ANY later click exists — the
    re-anchored semantics real funnel tools implement. The reference's
    dashboards poll per-channel rollups; a funnel is the first thing
    an analyst asks of the same events.

    Plan: ONE shuffle of events (group-by user collecting (ts, type)
    structs — per-user event counts are bounded in practice, the
    standard sessionization assumption), then the whole ordered-step
    logic is array folds over the collected struct array: first view =
    array_min of the filtered array, first click AFTER it via a
    filtered min with the previous step's timestamp in scope
    (materialized in stacked projections), and one global aggregate for
    the three counts. The oracle computes the identical semantics with
    staged joins — same minima, same counts."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    per_user = ev.groupBy("user_id").agg(
        F.collect_list(F.struct("ts", "event_type")).alias("evs")
    )
    first_of = lambda arr, typ: F.array_min(  # noqa: E731
        F.transform(
            F.filter(arr, lambda e: e["event_type"] == typ),
            lambda e: e["ts"],
        )
    )
    after = lambda arr, typ, t0: F.array_min(  # noqa: E731
        F.transform(
            F.filter(
                arr,
                lambda e: (e["event_type"] == typ) & (e["ts"] > t0),
            ),
            lambda e: e["ts"],
        )
    )
    s1 = per_user.select(
        "evs", first_of(F.col("evs"), "view").alias("tv")
    )
    s2 = s1.select(
        "evs", "tv", after(F.col("evs"), "click", F.col("tv")).alias("tc")
    )
    s3 = s2.select(
        "tv", "tc", after(F.col("evs"), "purchase", F.col("tc")).alias("tp")
    )
    counts = s3.agg(
        F.count("tv").alias("nv"),
        F.count("tc").alias("nc"),
        F.count("tp").alias("np"),
    )
    pct = lambda n: dround(n.cast("double") / F.col("nv"), 4)  # noqa: E731
    rows = F.array(
        F.struct(
            F.lit(1).alias("step"),
            F.lit("view").alias("event_type"),
            F.col("nv").alias("n_users"),
            F.lit(1.0).alias("pct_of_top"),
        ),
        F.struct(
            F.lit(2).alias("step"),
            F.lit("click").alias("event_type"),
            F.col("nc").alias("n_users"),
            pct(F.col("nc")).alias("pct_of_top"),
        ),
        F.struct(
            F.lit(3).alias("step"),
            F.lit("purchase").alias("event_type"),
            F.col("np").alias("n_users"),
            pct(F.col("np")).alias("pct_of_top"),
        ),
    )
    return counts.select(F.explode(rows).alias("r")).select("r.*")


@query(
    "cohort_retention",
    oracle="""
    WITH wk AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    ),
    cohort AS (
      SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(date_diff('day', c.cohort_week, w.week) // 7 AS BIGINT)
             AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM cohort c JOIN wk w ON w.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commerce cohort retention: users grouped by first-active week,
    counted in each subsequent week they return — the retention
    triangle every commerce dashboard ships. Both engines truncate to
    Monday-start weeks, so offsets are exact multiples of 7 days.

    Plan: distinct (user, week) is one partial-aggregated shuffle; the
    per-user cohort week is a second keyed aggregate on the SAME
    user_id distribution (no re-exchange); the cohort⋈activity join is
    keyed on user_id too, so at 100 TB the whole triangle is one
    logical repartition by user plus the final small (cohort, offset)
    rollup. Weeks per user are bounded, never the event count."""
    ev = load(spark, sf_dir, "events")
    wk = (
        ev.select(
            "user_id",
            F.date_trunc("week", F.col("ts").cast("timestamp_ltz"))
            .cast("date")
            .alias("week"),
        )
        .distinct()
    )
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        wk.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "ab_test_purchase_rate",
    oracle=f"""
    WITH users AS (
      SELECT user_id,
             CASE WHEN {oracle_hash64("CAST(user_id AS VARCHAR)", 41)} % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             CASE WHEN COUNT(*) FILTER (event_type = 'purchase') >= 14
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY 1, 2
    ),
    arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted
      FROM users GROUP BY arm
    ),
    wide AS (
      SELECT
        (SELECT n_users FROM arms WHERE arm = 'A') AS na,
        (SELECT n_converted FROM arms WHERE arm = 'A') AS ca,
        (SELECT n_users FROM arms WHERE arm = 'B') AS nb,
        (SELECT n_converted FROM arms WHERE arm = 'B') AS cb
    )
    SELECT na AS n_a, ca AS conv_a, nb AS n_b, cb AS conv_b,
           {{rate_a}} AS rate_a, {{rate_b}} AS rate_b,
           {{z}} AS z_score
    FROM wide
    """.format(
        rate_a=oracle_dround("CAST(ca AS DOUBLE) / na", 6),
        rate_b=oracle_dround("CAST(cb AS DOUBLE) / nb", 6),
        z=oracle_dround(
            "(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)"
            " / NULLIF(sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))"
            " * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))"
            " * (1.0 / na + 1.0 / nb)), 0.0)",
            4,
        ),
    ),
)
def ab_test_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10: two-proportion z-test over a deterministic hash split — the
    experiment-analysis staple, in-engine. Users land in arm A/B by the
    portable 60-bit hash (reproducible assignment, the same property
    dataset_split relies on); conversion = at least 14 purchase
    events (the per-user median on this fixture — every user purchases
    at least once, so "any purchase" would be a degenerate 100%/100%
    split); the pooled z-score compares arm rates, NULL when pooled
    variance is zero. One keyed aggregate + one
    2-group rollup; every double expression is written identically in
    both engines and dround-quantized, so the statistic — not just the
    counts — is hash-compared."""
    from multichannel_commerce_data_pipeline_spark.functions import portable_hash64

    ev = load(spark, sf_dir, "events")
    users = ev.groupBy(
        "user_id",
        F.when(
            F.pmod(portable_hash64(F.col("user_id").cast("string"), 41), F.lit(2))
            == 0,
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("arm"),
    ).agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            >= 14,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("converted")
    )
    arms = users.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("n_converted"))).alias("ca"),
        F.max(F.when(F.col("arm") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("n_converted"))).alias("cb"),
    )
    ra = F.col("ca").cast("double") / F.col("na")
    rb = F.col("cb").cast("double") / F.col("nb")
    pooled = (F.col("ca") + F.col("cb")).cast("double") / (
        F.col("na") + F.col("nb")
    )
    se = F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
    )
    # 0% or 100% pooled conversion => zero variance: z undefined (NULL),
    # mirrored with NULLIF in the oracle
    z = F.when(se == 0, F.lit(None).cast("double")).otherwise((ra - rb) / se)
    return wide.select(
        F.col("na").alias("n_a"),
        F.col("ca").alias("conv_a"),
        F.col("nb").alias("n_b"),
        F.col("cb").alias("conv_b"),
        dround(ra, 6).alias("rate_a"),
        dround(rb, 6).alias("rate_b"),
        dround(z, 4).alias("z_score"),
    )


@query(
    "last_touch_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts, "value" FROM events
      WHERE event_type = 'purchase'
    ),
    prior AS (
      SELECT p.event_id AS pid, p."value" AS val, e.event_type AS src_type,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY e.ts DESC, e.event_id DESC) AS rk
      FROM p JOIN events e
        ON e.user_id = p.user_id
       AND e.event_type <> 'purchase'
       AND (e.ts < p.ts OR (e.ts = p.ts AND e.event_id < p.event_id))
       AND e.ts >= p.ts - INTERVAL 7 DAY
    )
    SELECT src_type,
           CAST(COUNT(*) AS BIGINT) AS n_attributed,
           CAST(ROUND(SUM(CAST(val AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS attributed_value
    FROM prior WHERE rk = 1
    GROUP BY src_type
    """,
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the
    user's most recent non-purchase event within 7 days — the
    marketing-channel question every commerce warehouse answers. The
    scale-right plan is ONE keyed shuffle: a per-user window carries
    ``max(struct(ts, event_id, type))`` over preceding non-purchase
    rows (running max — no self-join, no per-user quadratic), then the
    7-day recency filter and a partial-aggregated rollup. The oracle
    states the same semantics as the quadratic prior-event join + rank
    (fine at oracle scale); struct-max ties break on (ts, event_id) in
    both engines. Decimal sums keep the revenue rollup exact."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_src = F.max(
        F.when(
            F.col("event_type") != "purchase",
            F.struct("ts", "event_id", F.col("event_type").alias("t")),
        )
    ).over(w)
    touched = (
        ev.withColumn("last_src", last_src)
        .filter(F.col("event_type") == "purchase")
        .filter(F.col("last_src").isNotNull())
        .filter(
            F.col("last_src.ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")
        )
    )
    return touched.groupBy(
        F.col("last_src.t").alias("src_type")
    ).agg(
        F.count(F.lit(1)).alias("n_attributed"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("attributed_value"),
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    cnt AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           CAST(ROUND(CAST((CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY prev_type))
               AS DECIMAL(38,10)), 6) AS DOUBLE) AS p
    FROM cnt
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the navigation-flow /
    next-action model behind funnel diagnostics and session
    simulation. One keyed shuffle builds the lag pairs (per-user
    window), then the count and row-normalization both run over the
    TINY type x type frame (25 rows here; bounded by the square of the
    type vocabulary at any corpus size — the heavy fact table shuffles
    exactly once). Probabilities quantize through dround for
    cross-engine bit-equality; integer counts stay exact."""
    from pyspark.sql import Window

    from multichannel_commerce_data_pipeline_spark.functions import dround

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    seq = ev.withColumn(
        "prev_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    )
    cnt = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("prev_type")
    return cnt.select(
        "prev_type",
        "next_type",
        "n",
        dround(F.col("n").cast("double") / F.sum("n").over(w), 6).alias("p"),
    )


_PSI_CUTOFF = "2024-01-15"  # fixture events span Jan 2024 at every sf
_PSI_BIN_W = 25.0
_PSI_N_BINS = 20


def _psi_oracle() -> str:
    b = f"LEAST(CAST(FLOOR(value / {_PSI_BIN_W}) AS INTEGER), {_PSI_N_BINS - 1})"
    # additive smoothing keeps ln() defined on empty bins; the per-bin
    # term is decimal-quantized before the sum so the <=20-addend total
    # is order-independent, mirroring the engine.
    p_ref = f"(cr + 0.5) / (tr + {0.5 * _PSI_N_BINS})"
    p_cur = f"(cc + 0.5) / (tc + {0.5 * _PSI_N_BINS})"
    term = oracle_dround(f"(({p_cur}) - ({p_ref})) * ln(({p_cur}) / ({p_ref}))", 9)
    return f"""
    WITH binned AS (
      SELECT event_type, {b} AS bin,
             CASE WHEN ts < TIMESTAMP '{_PSI_CUTOFF}' THEN 1 ELSE 0 END AS is_ref
      FROM events
    ),
    cells AS (
      SELECT event_type, bin,
             CAST(SUM(is_ref) AS DOUBLE) AS cr,
             CAST(SUM(1 - is_ref) AS DOUBLE) AS cc
      FROM binned GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, SUM(cr) AS tr, SUM(cc) AS tc
      FROM cells GROUP BY 1
    ),
    terms AS (
      SELECT c.event_type,
             CAST({term} AS DECIMAL(28,9)) AS t,
             c.cr, c.cc
      FROM cells c JOIN tot USING (event_type)
    )
    SELECT event_type,
           CAST(SUM(cr) AS BIGINT) AS n_ref,
           CAST(SUM(cc) AS BIGINT) AS n_cur,
           CAST(SUM(t) AS DOUBLE) AS psi,
           (CAST(SUM(t) AS DOUBLE) > 0.1) AS drifted
    FROM terms GROUP BY event_type
    """


@query("psi_drift_monitor", oracle=_psi_oracle())
def psi_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ: Population Stability Index between a reference window (first
    half of the month) and the current window, per event_type over the
    value distribution — the standard production drift monitor for
    feature pipelines and model inputs (PSI > 0.1 = investigate,
    > 0.25 = act). 20 fixed-width value bins; additive smoothing keeps
    ln() defined on empty bins; each bin's PSI term is dround-quantized
    to 9 dp and summed as DECIMAL so the <=20-addend total is
    order-independent and hash-matches the oracle. Two keyed shuffles
    total — (event_type, bin) counts, then the per-type rollup — both
    partial-aggregated; the raw stream is touched once."""
    ev = load(spark, sf_dir, "events")
    binned = ev.select(
        "event_type",
        F.least(
            F.floor(F.col("value") / _PSI_BIN_W).cast("int"),
            F.lit(_PSI_N_BINS - 1),
        ).alias("bin"),
        F.when(
            F.col("ts") < F.lit(_PSI_CUTOFF).cast("timestamp"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("is_ref"),
    )
    cells = binned.groupBy("event_type", "bin").agg(
        F.sum("is_ref").cast("double").alias("cr"),
        F.sum(F.lit(1) - F.col("is_ref")).cast("double").alias("cc"),
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("cr").alias("tr"), F.sum("cc").alias("tc")
    )
    smooth = F.lit(0.5 * _PSI_N_BINS)
    p_ref = (F.col("cr") + 0.5) / (F.col("tr") + smooth)
    p_cur = (F.col("cc") + 0.5) / (F.col("tc") + smooth)
    terms = cells.join(tot, "event_type").select(
        "event_type",
        dround((p_cur - p_ref) * F.log(p_cur / p_ref), 9)
        .cast("decimal(28,9)")
        .alias("t"),
        "cr",
        "cc",
    )
    psi = F.sum("t").cast("double")
    return terms.groupBy("event_type").agg(
        F.sum("cr").cast("long").alias("n_ref"),
        F.sum("cc").cast("long").alias("n_cur"),
        psi.alias("psi"),
        (psi > 0.1).alias("drifted"),
    )


@query(
    "event_path_topn",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT event_type || '>' || t2 || '>' || t3 AS path,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE t3 IS NOT NULL GROUP BY 1
    )
    SELECT path, n, rank FROM (
      SELECT path, n, ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rank
      FROM paths
    ) WHERE rank <= 20
    """,
)
def event_path_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10: sequential path mining — the top-20 3-step behavioral paths
    (e.g. view>click>purchase) across all user journeys, the
    path-analysis staple one step past event_transition_matrix's
    first-order bigrams. One keyed lead-window shuffle per user
    timeline builds the trigrams in place (no self-joins), counts
    partial-aggregate to the type-cubed-bounded path frame, and the
    top-20 is TakeOrderedAndProject (per-partition heaps) with the
    rank window running over the ≤20 survivors — the corpus_top_terms
    lesson applied from the start, no unpartitioned window on the data
    path."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    paths = (
        seq.filter(F.col("t3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = paths.orderBy(F.desc("n"), F.asc("path")).limit(20)
    wr = Window.orderBy(F.desc("n"), F.asc("path"))
    return top.withColumn("rank", F.row_number().over(wr))


@query(
    "funnel_latency",
    oracle=f"""
    WITH signup AS (
      SELECT user_id, MIN(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
      SELECT s.user_id, s.s_ts, MIN(e.ts) AS p_ts
      FROM signup s JOIN events e
        ON e.user_id = s.user_id
       AND e.event_type = 'purchase' AND e.ts >= s.s_ts
      GROUP BY s.user_id, s.s_ts
    ),
    lat AS (
      SELECT CAST(date_trunc('week', s_ts) AS TIMESTAMP) AS cohort_week,
             (epoch_us(p_ts) - epoch_us(s_ts)) / 1000000.0 AS latency_s
      FROM conv
    )
    SELECT cohort_week,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           {oracle_dround("median(latency_s)", 2)} AS median_latency_s,
           {oracle_dround("quantile_cont(latency_s, 0.90)", 2)} AS p90_latency_s
    FROM lat GROUP BY cohort_week
    """,
)
def funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10: time-to-convert — for every user, first signup to first
    subsequent purchase, with exact median/p90 latency per signup-week
    cohort (the funnel-health trendline; conversion_funnel counts WHO
    converts, this measures HOW FAST). Latency is computed in exact
    epoch microseconds before one double division, so both engines see
    bit-identical values; percentiles are the exact interpolated form
    (F.percentile == quantile_cont, the percentile_summary precedent)
    grouped per cohort week, so each percentile state holds one
    cohort's converters — parallel across cohorts, never a single
    global sort."""
    ev = load(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts_raw")
    )
    conv = (
        signup.join(purch, "user_id")
        .filter(F.col("p_ts_raw") >= F.col("s_ts"))
        .groupBy("user_id", "s_ts")
        .agg(F.min("p_ts_raw").alias("p_ts"))
    )
    lat = conv.select(
        F.date_trunc("week", "s_ts").alias("cohort_week"),
        (
            (_epoch_us(F.col("p_ts")) - _epoch_us(F.col("s_ts")))
            / F.lit(1000000.0)
        ).alias("latency_s"),
    )
    # one array-percentile per group (sort once) — the _hqe_exact_fit
    # lesson; values bit-identical
    return (
        lat.groupBy("cohort_week")
        .agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.percentile("latency_s", F.lit([0.5, 0.90])).alias("__p"),
        )
        .select(
            "cohort_week",
            "n_converted",
            dround(F.element_at("__p", 1), 2).alias("median_latency_s"),
            dround(F.element_at("__p", 2), 2).alias("p90_latency_s"),
        )
    )


_EWMA_ALPHA = 0.3


@query(
    "ewma_forecast",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type,
             list(n ORDER BY day) AS xs,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(n) AS DOUBLE) AS total
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days,
           {oracle_dround("xs[len(xs)]", 2)} AS last_actual,
           {oracle_dround(
               "list_reduce(xs, (acc, x) -> "
               + "CAST(ROUND(CAST((" + str(_EWMA_ALPHA) + " * x + "
               + str(1 - _EWMA_ALPHA) + " * acc) AS DECIMAL(38,10)), 6) "
               + "AS DOUBLE))", 2)} AS ewma_level
    FROM series
    """,
)
def ewma_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10: exponentially-weighted moving-average level per event_type
    over the daily count series — the one-number demand forecast
    (level = next-day expectation under EWMA, alpha=0.3). A recursive
    smoother is sequentially dependent, which normally disqualifies it
    from set-oriented engines; here each series is BOUNDED (days per
    type), so the daily rollup collects one ordered array per type and
    an ``aggregate`` fold runs the recursion in-plan — identical fold
    in DuckDB's list_reduce (both engines seed with the first element:
    Spark folds slice(xs, 2, …) from element_at(xs, 1)). Each smoothing
    step is
    dround-quantized to 6 dp so the recursion is engine-portable
    bit-for-bit. One keyed shuffle for the daily counts, one for the
    per-type fold; state bounded by the day span."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "n"))),
            lambda s: s["n"],
        ).alias("xs"),
        F.count(F.lit(1)).alias("n_days"),
    )
    a = _EWMA_ALPHA
    fold = F.aggregate(
        F.slice("xs", 2, F.size("xs") - 1),
        F.element_at("xs", 1),
        lambda acc, x: dround(F.lit(a) * x + F.lit(1 - a) * acc, 6),
    )
    return series.select(
        "event_type",
        "n_days",
        dround(F.element_at("xs", -1), 2).alias("last_actual"),
        dround(fold, 2).alias("ewma_level"),
    )


@query(
    "daily_anomaly_bands",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    rolled AS (
      SELECT event_type, day, n,
             SUM(n) OVER w AS s,
             SUM(n * n) OVER w AS ss,
             COUNT(*) OVER w AS c
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, CAST(day AS TIMESTAMP) AS day, n,
           {oracle_dround("CAST(s AS DOUBLE) / c", 2)} AS mean7,
           CASE WHEN c >= 3 AND (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                  * CAST(s AS DOUBLE) / c) / (c - 1) > 0
                THEN {oracle_dround(
                    "(n - CAST(s AS DOUBLE) / c) / "
                    "sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) "
                    "* CAST(s AS DOUBLE) / c) / (c - 1))", 4)}
                ELSE NULL END AS z
    FROM rolled WHERE c >= 1
    """,
)
def daily_anomaly_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10/DQ: rolling anomaly detection — each day's event count
    z-scored against its OWN trailing 7-day window per event_type (the
    ops-dashboard "is today weird?" signal; complements mad_outliers'
    global per-type robustness with a time-local band). The rolling
    sums are integer-exact inside an ordered window frame (ROWS 7
    PRECEDING TO 1 PRECEDING — no leakage of the current day into its
    own baseline), variance from the sum-of-squares identity with the
    same guarded expression in both engines, z NULL when the window is
    too short (<3 days) or flat. One keyed shuffle on event_type;
    frames are day-count bounded."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    rolled = daily.select(
        "event_type",
        F.col("day").cast("timestamp").alias("day"),
        "n",
        F.sum("n").over(w).alias("s"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("ss"),
        F.count(F.lit(1)).over(w).alias("c"),
    ).filter(F.col("c") >= 1)
    mean = F.col("s").cast("double") / F.col("c")
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("c")
    ) / (F.col("c") - 1)
    return rolled.select(
        "event_type",
        "day",
        "n",
        dround(mean, 2).alias("mean7"),
        F.when(
            (F.col("c") >= 3) & (var > 0),
            dround((F.col("n") - mean) / F.sqrt(var), 4),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("z"),
    )


# --- CUSUM change-point detection (r15) ------------------------------
# Reference threshold = per-series MEDIAN of the rounded daily series,
# allowance h = 5x the median absolute deviation: both are percentiles
# of 2-3dp values, so they are exact midpoints in both engines. All
# accumulation then runs in DECIMAL, which makes the recursive-looking
# CUSUM statistic exact and association-free cross-engine (a running
# DOUBLE sum would depend on each engine's window-aggregation order).
_CUSUM_MAD_MULT = 5


def _cusum_oracle() -> str:
    xr = oracle_dround("SUM(o_totalprice)", 2)
    med = oracle_dround("quantile_cont(x, 0.5) OVER (PARTITION BY series)", 3)
    mad = oracle_dround(
        f"{_CUSUM_MAD_MULT} * quantile_cont(adv, 0.5)"
        " OVER (PARTITION BY series)",
        3,
    )
    return f"""
    WITH daily AS (
      SELECT o_orderpriority AS series,
             CAST(o_orderdate AS DATE) AS day,
             {xr} AS x
      FROM orders GROUP BY 1, 2
    ),
    ref AS (
      SELECT series, day, x, {med} AS med FROM daily
    ),
    dev AS (
      SELECT series, day,
             CAST(x - med AS DECIMAL(18, 3)) AS dv,
             ABS(x - med) AS adv
      FROM ref
    ),
    mad AS (
      SELECT series, day, dv, CAST({mad} AS DECIMAL(18, 3)) AS h
      FROM dev
    ),
    pre AS (
      SELECT series, day, h,
             SUM(dv) OVER (PARTITION BY series ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS p
      FROM mad
    ),
    run AS (
      SELECT series, day, h,
             p - LEAST(CAST(0 AS DECIMAL(38, 3)),
                       MIN(p) OVER (PARTITION BY series ORDER BY day
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)) AS s,
             GREATEST(CAST(0 AS DECIMAL(38, 3)),
                      MAX(p) OVER (PARTITION BY series ORDER BY day
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW)) - p AS sn
      FROM pre
    )
    SELECT series,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN s > h THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(MIN(CASE WHEN s > h THEN day END) AS TIMESTAMP)
             AS first_flag_day,
           {oracle_dround("MAX(CAST(s AS DOUBLE))", 3)} AS max_cusum,
           CAST(SUM(CASE WHEN sn > h THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged_down,
           CAST(MIN(CASE WHEN sn > h THEN day END) AS TIMESTAMP)
             AS first_flag_day_down,
           {oracle_dround("MAX(CAST(sn AS DOUBLE))", 3)} AS max_cusum_down
    FROM run GROUP BY series
    """


@query("cusum_changepoint", oracle=_cusum_oracle())
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10/DQ (r15, two-sided since r16): CUSUM change-point detection
    over each order-priority's daily revenue series — the sequential
    mean-shift monitor (Page 1954) that complements
    daily_anomaly_bands' pointwise z-band: a small persistent shift
    never trips a z-band but ACCUMULATES in the CUSUM statistic. The
    recursion S_t = max(0, S_{t-1} + x_t - k) is not a plain window
    aggregate, but its closed form is: with P_t the prefix sum of
    (x_t - k), S_t = P_t - min(0, min_{j<=t} P_j) — two
    ordered-window aggregates over one sort. The mirrored DOWNWARD
    statistic (a revenue collapse is at least as alarm-worthy as a
    ramp) symmetrizes to max(0, max_{j<=t} P_j) - P_t: the same
    prefix sum against its running MAX, so both directions cost the
    one sort. k = per-series median, threshold h = 5x the median
    absolute deviation, both percentiles of 2dp values (exact in both
    engines); every accumulated term is DECIMAL so the prefix sums are
    exact integers-at-scale-3 and the flag comparison can never sit on
    a float boundary that libm association could flip.

    Plan: one shuffle for the daily rollup (map-side partial), then
    EVERYTHING — median, MAD, and both running sums — is window
    functions over the SAME series partitioning, so the whole chain
    costs exactly one keyed exchange of the day-level rollup and the
    orders fact is scanned once (the grouped-subquery formulation
    re-scanned it per constant — the no-DataFrame-CSE lesson). At
    100 TB the series key is the partition key and each series'
    state is its day count, not its row count."""
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("series"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(dround(F.sum("o_totalprice"), 2).alias("x"))
    )
    wp = Window.partitionBy("series")
    ref = daily.select(
        "series",
        "day",
        "x",
        dround(F.percentile("x", 0.5).over(wp), 3).alias("med"),
    )
    dev = ref.select(
        "series",
        "day",
        (F.col("x") - F.col("med")).cast("decimal(18,3)").alias("dv"),
        F.abs(F.col("x") - F.col("med")).alias("adv"),
    )
    mad = dev.select(
        "series",
        "day",
        "dv",
        dround(F.lit(_CUSUM_MAD_MULT) * F.percentile("adv", 0.5).over(wp), 3)
        .cast("decimal(18,3)")
        .alias("h"),
    )
    w = (
        Window.partitionBy("series")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = mad.select("series", "day", "h", F.sum("dv").over(w).alias("p"))
    # the mirrored (downward) statistic symmetrizes the closed form:
    # S-_t = max(0, S-_{t-1} - dv) has closed form
    # max(0, max_{j<=t} P_j) - P_t — the same prefix sum read against
    # its running MAX instead of its running MIN, so both sides ride
    # the one keyed exchange (r16; a revenue collapse is at least as
    # alarm-worthy as a ramp)
    run = pre.select(
        "series",
        "day",
        "h",
        (
            F.col("p")
            - F.least(
                F.lit(0).cast("decimal(38,3)"), F.min("p").over(w)
            )
        ).alias("s"),
        (
            F.greatest(
                F.lit(0).cast("decimal(38,3)"), F.max("p").over(w)
            )
            - F.col("p")
        ).alias("sn"),
    )
    flagged = F.col("s") > F.col("h")
    flagged_dn = F.col("sn") > F.col("h")
    return run.groupBy("series").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(flagged.cast("long")).alias("n_flagged"),
        F.min(F.when(flagged, F.col("day")))
        .cast("timestamp")
        .alias("first_flag_day"),
        dround(F.max(F.col("s").cast("double")), 3).alias("max_cusum"),
        F.sum(flagged_dn.cast("long")).alias("n_flagged_down"),
        F.min(F.when(flagged_dn, F.col("day")))
        .cast("timestamp")
        .alias("first_flag_day_down"),
        dround(F.max(F.col("sn").cast("double")), 3).alias(
            "max_cusum_down"
        ),
    )


# --- streaming CUSUM monitor (r15) -----------------------------------
# Reference/monitor split for the arrival-time form: constants are fit
# on days before _CUSUM_REF_END and the stream watches everything
# after; the feed is two day-partitioned chunks split at _CUSUM_SPLIT
# so the recursion provably carries across a micro-batch (and
# checkpoint-state) boundary.
_CUSUM_REF_END = "1999-01-01"
_CUSUM_SPLIT = "2000-06-01"


def _daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("series"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(dround(F.sum("o_totalprice"), 2).alias("x"))
    )


@artifact
def _stream_cusum_run(spark: SparkSession, sf_dir: str) -> str:
    from decimal import Decimal

    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        Feed,
        stream_cusum_monitor,
    )

    daily = _daily_series(spark, sf_dir)
    ref = daily.filter(F.col("day") < F.lit(_CUSUM_REF_END).cast("date"))
    med = ref.groupBy("series").agg(
        dround(F.percentile("x", 0.5), 3).alias("med")
    )
    h = (
        ref.join(F.broadcast(med), "series")
        .groupBy("series", "med")
        .agg(
            dround(
                F.lit(_CUSUM_MAD_MULT)
                * F.percentile(F.abs(F.col("x") - F.col("med")), 0.5),
                3,
            ).alias("hh")
        )
        .collect()
    )
    consts = {
        r.series: (
            int(Decimal(str(r.med)) * 1000),
            int(Decimal(str(r.hh)) * 1000),
        )
        for r in h
    }
    feed = Feed("mcdp_cusum_", sf_dir)
    mon = daily.filter(
        F.col("day") >= F.lit(_CUSUM_REF_END).cast("date")
    ).select(
        "series",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("x").cast("decimal(18,2)") * 1000)
        .cast("long")
        .alias("x_milli"),
    )
    # day-split chunks: the feed's pinned arrival order is day order
    split = F.lit(_CUSUM_SPLIT)
    feed.push(mon.filter(F.col("day") < split))
    feed.push(mon.filter(F.col("day") >= split))
    stream_cusum_monitor(
        spark,
        feed.glob,
        "series string, day string, x_milli bigint",
        feed.out,
        feed.ckpt,
        consts,
    )
    return feed.out


def _stream_cusum_oracle() -> str:
    xr = oracle_dround("SUM(o_totalprice)", 2)
    med = oracle_dround(
        "quantile_cont(CASE WHEN day < DATE '1999-01-01' THEN x END, 0.5)", 3
    )
    mad = oracle_dround(
        f"{_CUSUM_MAD_MULT} * quantile_cont(CASE WHEN d.day <"
        " DATE '1999-01-01' THEN ABS(d.x - m.med) END, 0.5)",
        3,
    )
    return f"""
    WITH daily AS (
      SELECT o_orderpriority AS series,
             CAST(o_orderdate AS DATE) AS day,
             {xr} AS x
      FROM orders GROUP BY 1, 2
    ),
    med AS (
      SELECT series, {med} AS med FROM daily GROUP BY series
    ),
    hh AS (
      SELECT d.series,
             CAST(CAST(m.med AS DECIMAL(18, 3)) * 1000 AS BIGINT)
               AS med_milli,
             CAST(CAST({mad} AS DECIMAL(18, 3)) * 1000 AS BIGINT)
               AS h_milli
      FROM daily d JOIN med m USING (series)
      GROUP BY d.series, m.med
    ),
    mon AS (
      SELECT d.series, d.day,
             CAST(CAST(d.x AS DECIMAL(18, 2)) * 1000 AS BIGINT)
               - h.med_milli AS dv,
             h.h_milli
      FROM daily d JOIN hh h USING (series)
      -- med_milli IS NOT NULL mirrors the engine's state handler,
      -- which drops a series with monitored days but NO pre-cutover
      -- reference days (no constants -> unmonitorable); without this
      -- the oracle would still emit such a series (NULL med
      -- propagates to n_flagged=0) and a regenerated corpus
      -- containing one would redden the driver row (ADVICE r15)
      WHERE d.day >= DATE '1999-01-01' AND h.med_milli IS NOT NULL
    ),
    pre AS (
      SELECT series, day, h_milli,
             CAST(SUM(dv) OVER (PARTITION BY series ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS p
      FROM mon
    ),
    run AS (
      SELECT series, day, h_milli,
             p - LEAST(CAST(0 AS BIGINT),
                       CAST(MIN(p) OVER (PARTITION BY series ORDER BY day
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS BIGINT)) AS s,
             GREATEST(CAST(0 AS BIGINT),
                      CAST(MAX(p) OVER (PARTITION BY series ORDER BY day
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS BIGINT)) - p AS sn
      FROM pre
    )
    SELECT series,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN s > h_milli THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(MIN(CASE WHEN s > h_milli THEN day END) AS TIMESTAMP)
             AS first_flag_day,
           {oracle_dround("CAST(MAX(s) AS DOUBLE) / 1000.0", 3)} AS max_cusum,
           CAST(SUM(CASE WHEN sn > h_milli THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged_down,
           CAST(MIN(CASE WHEN sn > h_milli THEN day END) AS TIMESTAMP)
             AS first_flag_day_down,
           {oracle_dround("CAST(MAX(sn) AS DOUBLE) / 1000.0", 3)}
             AS max_cusum_down
    FROM run GROUP BY series
    """


@query("stream_cusum_rollup", oracle=_stream_cusum_oracle())
def stream_cusum_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 × T5 (r15): the STREAMING change-point monitor made
    driver-checkable — the arrival-time twin of ``cusum_changepoint``.
    Constants (per-series median and 5·MAD threshold) are fit in batch
    on the pre-1999 REFERENCE slice — the production shape: a live
    monitor cannot know its own future's median, so the batch query's
    whole-series fit is the backfill form and this is the online form.
    The post-reference days then ARRIVE as two day-partitioned
    checkpointed micro-batches (pinned mtimes, so arrival order is day
    order by construction) and ``streaming/jobs.stream_cusum_monitor``
    advances the textbook recursion S_t = max(0, S_{t-1} + dv) — and,
    since r16, its mirrored downward twin S-_t = max(0, S-_{t-1} - dv)
    in the same loop, matching the two-sided batch query — per series
    in applyInPandasWithState state: ten integers per series,
    O(series) regardless of stream length, exact int64 MILLIS
    arithmetic so there is no float accumulation to drift.

    The oracle is the batch CLOSED FORM (P_t − min(0, min P_j)) over
    the same reference-fit constants and monitored slice, so a green
    driver row proves recursion ≡ closed form AND that the running
    statistic, flag count, first flagged day, and max survived the
    micro-batch/state-store boundary at the 2000-06-01 split —
    batch≡stream in the compared values themselves (the
    stream_domain_admit convention)."""
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_latest,
    )

    out = _stream_cusum_run(spark, sf_dir)
    cur = read_latest(spark, out, "series")

    def day_or_null(col: str):
        return (
            F.when(F.col(col) != "", F.to_timestamp(col, "yyyy-MM-dd"))
            .otherwise(F.lit(None).cast("timestamp"))
        )

    return cur.select(
        "series",
        "n_days",
        "n_flagged",
        day_or_null("first_flag_day").alias("first_flag_day"),
        dround(F.col("max_cusum_milli").cast("double") / F.lit(1000.0), 3).alias(
            "max_cusum"
        ),
        "n_flagged_down",
        day_or_null("first_flag_day_down").alias("first_flag_day_down"),
        dround(
            F.col("max_cusum_down_milli").cast("double") / F.lit(1000.0), 3
        ).alias("max_cusum_down"),
    )
