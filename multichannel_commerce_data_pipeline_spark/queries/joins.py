"""Join operators — SURVEY.md §2.3.

The reference's only join is a left-outer enrichment of order rollups
with freight costs (silver_to_gold.py:512-516,603-607), with a projected
build side carrying a synthetic literal column (J2) and coalesce defaults
for misses. The star schema implies the full join surface (inner / semi /
anti / FK-dim lookups), which we expose here.

Scale notes: dimension joins broadcast the small side explicitly; the
fact-fact join relies on AQE for skew handling; all join inputs are
projected to the needed columns before the join so the shuffle carries
minimal bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.artifacts import artifact
from multichannel_commerce_data_pipeline_spark.functions import stage_filter
from multichannel_commerce_data_pipeline_spark.operators.basket import MAX_BASKET_SIZE
from multichannel_commerce_data_pipeline_spark.queries import query
from multichannel_commerce_data_pipeline_spark.tables import (
    load,
    parallelize_small_scan,
)


@query(
    "left_join_enrich",
    oracle="""
    WITH freight AS (
      SELECT l_orderkey AS order_reference,
             ROUND(SUM(l_quantity * 2.5), 2) AS freight_cost,
             'shipped' AS freight_status
      FROM lineitem
      WHERE l_returnflag = 'R'
      GROUP BY l_orderkey
    )
    SELECT
      o.o_orderkey            AS order_no,
      o.o_totalprice          AS order_total,
      COALESCE(f.freight_cost, 0.0)          AS freight_cost,
      COALESCE(f.freight_status, 'pending')  AS freight_status
    FROM orders o
    LEFT JOIN freight f ON o.o_orderkey = f.order_reference
    """,
)
def left_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2+P3: left-outer freight enrichment with projected build side,
    synthetic literal column, and coalesce defaults for misses
    (silver_to_gold.py:512-516,603-607,530-533)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    freight = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(F.col("l_orderkey").alias("order_reference"))
        .agg(F.round(F.sum(F.col("l_quantity") * 2.5), 2).alias("freight_cost"))
        .withColumn("freight_status", F.lit("shipped"))
    )
    return o.join(freight, o.o_orderkey == freight.order_reference, "left").select(
        o.o_orderkey.alias("order_no"),
        o.o_totalprice.alias("order_total"),
        F.coalesce(freight.freight_cost, F.lit(0.0)).alias("freight_cost"),
        F.coalesce(freight.freight_status, F.lit("pending")).alias("freight_status"),
    )


@query(
    "broadcast_dim_join",
    oracle="""
    SELECT
      c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK-style dim lookups (implied by the gold star schema,
    silver_to_gold.py:725-726): fact→dim joins with explicit broadcast of
    the small sides — no shuffle of the big side at any scale."""
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
    )


@query(
    "semi_join",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
    )
    """,
)
def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi join: customers having at least one large order."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "anti_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti join: customers with no orders at all."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "range_join",
    oracle="""
    SELECT
      l.l_orderkey, l.l_linenumber, p.p_partkey, p.p_size, l.l_quantity
    FROM lineitem l
    JOIN part p
      ON l.l_partkey = p.p_partkey
     AND l.l_quantity > p.p_size
    """,
)
def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + non-equi (theta) join condition — Spark evaluates the
    range predicate as a post-join filter on the hash join, keeping the
    equi key as the shuffle key (absent in the reference; declared
    surface per SURVEY.md §2.3)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return li.join(
        p, (li.l_partkey == p.p_partkey) & (li.l_quantity > p.p_size)
    ).select("l_orderkey", "l_linenumber", "p_partkey", "p_size", "l_quantity")


@query(
    "regional_supplier_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lineitems
    FROM customer c
    JOIN orders   o ON c.c_custkey  = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation   n ON c.c_nationkey = n.n_nationkey
    JOIN region   r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def regional_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic six-table local-supplier revenue query (TPC-H Q5
    shape): customer⋈orders⋈lineitem⋈supplier with the
    same-nation condition, rolled up per nation within one region for
    one year. Exercises Catalyst's join planning end-to-end: the date
    range and region filter push into the scans, region/nation/supplier
    /customer broadcast, and the only repartition-scale shuffles are
    the orders⋈lineitem equi-join and the 25-key aggregate. Revenue
    sums through DECIMAL so the result is addition-order-independent
    across engines. Declared surface SURVEY.md §2.3/§2.4."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(38,6)")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "copurchase_pairs",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    capped AS (
      SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_partkey) AS rn
        FROM items
      ) WHERE rn <= {MAX_BASKET_SIZE}
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM capped a JOIN capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM pairs GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought together in at
    least 2 orders — the counting core of association-rule / frequent-
    itemset mining (the "customers also bought" primitive). Pair
    generation is an equi self-join on the order key, so cost is
    Σ_order |items|² with |items| bounded (~7 in TPC-H, max 13 here) —
    per-basket quadratic, NEVER corpus-quadratic; at 100 TB the join
    co-partitions on l_orderkey (one shuffle each side) and the pair
    count is a partial-aggregated rollup. A deterministic
    MAX_BASKET_SIZE=64 cap (operators/basket.py, read by the
    oracle's ROW_NUMBER filter) bounds the worst basket to C(64,2)
    pairs so one pathological mega-basket can't go quadratic — a no-op
    at every test SF (max basket 13) but load-bearing at 100 TB;
    planted-mega-basket test in tests/test_operators.py."""
    from multichannel_commerce_data_pipeline_spark.operators.basket import (
        copurchase_pair_counts,
    )

    # The persisted (l_orderkey-partitioned, per-order-distinct) basket
    # index replaces the raw scan: the pair build's basket groupBy
    # reuses the cached layout, so the whole query adds ONE exchange
    # (the pair rollup) on top of a cache read — the same shared-index
    # shape the edge build and the rec model already use (r16
    # optimization round, guide §2.4). collect_set on the pre-distinct
    # input yields the same per-order sets.
    return copurchase_pair_counts(
        _basket_items(spark, sf_dir),
        "l_orderkey",
        "l_partkey",
        min_baskets=2,
    ).select(
        F.col("item_a").alias("part_a"),
        F.col("item_b").alias("part_b"),
        F.col("n_baskets").alias("n_orders"),
    )


@query(
    "decayed_popularity",
    oracle="""
    WITH scored AS (
      SELECT l_partkey,
             exp(-0.01 * date_diff('day', CAST(l_shipdate AS DATE),
                                   DATE '1998-12-01')) AS w
      FROM lineitem
    )
    SELECT l_partkey,
           CAST(COUNT(*) AS BIGINT) AS n_sales,
           CAST(ROUND(CAST(SUM(CAST(ROUND(CAST(w AS DECIMAL(38,10)), 6)
                                    AS DECIMAL(28,6))) AS DECIMAL(38,8)), 4)
                AS DOUBLE) AS decayed_score
    FROM scored GROUP BY l_partkey
    """,
)
def decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted popularity: per part, Σ exp(−λ·age_days)
    anchored at the corpus's last ship month — the freshness-aware
    ranking signal recommendation and trending feeds use instead of raw
    counts. Each row's weight quantizes to DECIMAL(28,6) BEFORE the sum
    (the model-quantization convention), so the aggregate is exact and
    order-independent in both engines; the group-by is one
    partial-aggregated shuffle over part keys."""
    li = load(spark, sf_dir, "lineitem")
    age = F.datediff(
        F.lit("1998-12-01").cast("date"), F.col("l_shipdate").cast("date")
    )
    w = F.exp(F.lit(-0.01) * age)
    wq = F.round(w.cast("decimal(38,10)"), 6).cast("decimal(28,6)")
    return (
        li.select("l_partkey", wq.alias("wq"))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_sales"),
            F.round(F.sum("wq").cast("decimal(38,8)"), 4)
            .cast("double")
            .alias("decayed_score"),
        )
    )


@query(
    "salted_skew_join",
    oracle="""
    WITH fees(l_returnflag, fee) AS (
      VALUES ('A', '0.50'), ('N', '1.25'), ('R', '2.00')
    )
    SELECT li.l_returnflag,
           CAST(ROUND(SUM(CAST(li.l_quantity AS DECIMAL(18,6))
                          * CAST(f.fee AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS handling_cost,
           COUNT(*) AS n
    FROM lineitem li JOIN fees f ON li.l_returnflag = f.l_returnflag
    GROUP BY li.l_returnflag
    """,
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe shuffle join: 3 distinct join keys over the whole fact
    table is a worst-case skewed join — a plain shuffle join lands each
    key's every fact row on ONE task regardless of cluster size. The
    salted form (:func:`replicated_salted_join`) splits each key over
    16 deterministic sub-keys and replicates the fee dim 16×, so the
    hot keys spread across 48 tasks; the result is row-identical to the
    unsalted join, which the plain-join oracle asserts. The dim carries
    a SHUFFLE_HASH hint: at this size Spark would broadcast (the right
    call — salting is then moot); the hint pins the shuffle-join shape
    the technique exists for, mirroring a dim too big to broadcast.
    Decimal sums keep the aggregate order-independent cross-engine."""
    from multichannel_commerce_data_pipeline_spark.operators.skew import (
        replicated_salted_join,
    )

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_quantity"
    )
    fees = spark.createDataFrame(
        [("A", "0.50"), ("N", "1.25"), ("R", "2.00")],
        "l_returnflag string, fee string",
    ).hint("shuffle_hash")
    joined = replicated_salted_join(
        li,
        fees,
        on=["l_returnflag"],
        salt_col=F.col("l_orderkey"),
    )
    return joined.groupBy("l_returnflag").agg(
        F.round(
            F.sum(
                F.col("l_quantity").cast("decimal(18,6)")
                * F.col("fee").cast("decimal(18,6)")
            ),
            2,
        )
        .cast("double")
        .alias("handling_cost"),
        F.count(F.lit(1)).alias("n"),
    )


def _pagerank_oracle() -> str:
    """Unrolled ``PAGERANK_ROUNDS``-round weighted PageRank in DuckDB
    over the symmetrized co-purchase graph — same decimal-quantized
    contributions as operators/graph.pagerank, so the iterative
    computation hash-matches round for round."""
    from multichannel_commerce_data_pipeline_spark.functions import oracle_dround
    from multichannel_commerce_data_pipeline_spark.operators.graph import (
        PAGERANK_ROUNDS,
    )

    blocks = [
        """items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    cp AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    ),
    edges AS (
      SELECT part_a AS src, part_b AS dst, w FROM cp
      UNION ALL
      SELECT part_b AS src, part_a AS dst, w FROM cp
    ),
    deg AS (
      SELECT src, CAST(SUM(w) AS DOUBLE) AS deg FROM edges GROUP BY src
    ),
    r0 AS (
      SELECT src AS node, CAST(1.0 AS DOUBLE) AS r FROM deg
    )"""
    ]
    contrib = oracle_dround("(r.r * e.w) / d.deg", 9)
    update = oracle_dround("0.15 + 0.85 * CAST(s AS DOUBLE)", 9)
    for i in range(PAGERANK_ROUNDS):
        blocks.append(
            f"""c{i + 1} AS (
      SELECT e.dst AS node,
             SUM(CAST({contrib} AS DECIMAL(28,9))) AS s
      FROM edges e
      JOIN r{i} r ON e.src = r.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r{i + 1} AS (
      SELECT node, {update} AS r FROM c{i + 1}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f"\n    SELECT node AS part, r AS pagerank FROM r{PAGERANK_ROUNDS}"
    )


# The per-order distinct item frame UNDER the edge index: the r8
# verdict's shared-cold-build item. _copurchase_edges and the rec
# model's train-side pair build (training_prep._rec_model) each paid
# their own lineitem scan + distinct shuffle to reach the same
# (l_orderkey, l_partkey) frame; persisting it once — hash-partitioned
# on l_orderkey — lets BOTH basket self-joins read it exchange-free
# (l_orderkey partitioning satisfies the (l_orderkey, l_partkey)
# dedup distribution as a key subset, so the distinct costs one
# shuffle total, paid once per corpus version).
@artifact
def _basket_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    n_parts = spark.sparkContext.defaultParallelism
    items = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(n_parts, "l_orderkey")
        .dropDuplicates(["l_orderkey", "l_partkey"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    items.count()
    return items


# Symmetrized co-purchase edge frames, persisted per sf_dir: the edge
# list is the graph INDEX (like the LSH signature index or the PQ
# codebooks) — built once per session, reused by every ranking query
# and every PageRank round; the per-basket-quadratic self-join is not
# re-run per iteration.
@artifact
def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    items = _basket_items(spark, sf_dir)
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    cp = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
    )
    edges = cp.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst"), "w"
    ).unionAll(
        cp.select(
            F.col("part_b").alias("src"), F.col("part_a").alias("dst"), "w"
        )
    )
    # hash-partition on src BEFORE caching: the cached layout then
    # satisfies every round's join distribution (the cached side
    # never re-shuffles; only the small rank vector moves), and the
    # union's doubled partition count collapses back to the
    # configured shuffle width.
    n_parts = spark.sparkContext.defaultParallelism
    edges = edges.repartition(n_parts, "src").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    edges.count()
    return edges


# The degree-ANNOTATED graph index for ranking queries: (ed, deg)
# where ed = edges ⋈ out-degree, persisted with the same src hash
# layout as the edge cache so every PageRank round's rank join reuses
# the cached distribution. Annotation is a pure function of the graph
# — re-deriving it per call re-ran the degree aggregate + join on
# every query construction (r16 optimization round, guide §2.4).
@artifact
def _pagerank_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    from pyspark import StorageLevel

    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.groupBy("src")
        .agg(F.sum("w").cast("double").alias("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ed = edges.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    ed.count()
    return (ed, deg)


@query("copurchase_pagerank", oracle=_pagerank_oracle())
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics over the market basket: 2 rounds of weighted
    PageRank on the symmetrized co-purchase graph (edges = part pairs
    bought together in >= 2 orders, weight = co-order count) — ranks
    the products that anchor baskets, not merely the best sellers.
    Per round: one equi-join of the rank vector onto the degree-
    annotated edge frame + one partial-aggregated group-by on dst —
    contributions quantized to DECIMAL(28,9) before the sum so the
    iteration is order-independent and the DuckDB oracle can unroll
    both rounds to a hash match. Edge build is per-basket quadratic
    (copurchase_pairs' bound), never corpus-quadratic, and the edge
    frame persists per sf_dir as the session's graph index."""
    from multichannel_commerce_data_pipeline_spark.operators.graph import (
        pagerank_annotated,
    )

    ed, deg = _pagerank_graph(spark, sf_dir)
    return pagerank_annotated(ed, deg).select(
        F.col("node").alias("part"), F.col("r").alias("pagerank")
    )


def _bloom_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.operators.bloom import (
        oracle_bloom_ctes,
    )

    ctes = oracle_bloom_ctes(
        keys_sql=(
            "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
        ),
        key_expr="c_custkey",
        fact_sql="SELECT o_orderkey, o_custkey FROM orders",
        fact_key_expr="o_custkey",
        fact_id_expr="o_orderkey",
    )
    return f"""
    WITH {ctes},
    dim AS (
      SELECT DISTINCT c_custkey FROM customer
      WHERE c_mktsegment = 'BUILDING'
    ),
    pruned AS (
      SELECT o.o_orderstatus, o.o_custkey
      FROM orders o JOIN bloom_pass bp ON o.o_orderkey = bp.fid
    )
    SELECT p.o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_bloom_pass,
           CAST(SUM(CASE WHEN d.c_custkey IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact
    FROM pruned p LEFT JOIN dim d ON p.o_custkey = d.c_custkey
    GROUP BY 1
    """


# Bloom filters are build-once artifacts like codebooks: keyed per
# sf_dir because the dim predicate and sizing are constants here.
def _bloom_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )


@artifact
def _bloom_words(spark: SparkSession, sf_dir: str) -> list:
    from multichannel_commerce_data_pipeline_spark.operators.bloom import (
        bloom_build,
    )

    return bloom_build(_bloom_dim(spark, sf_dir), "c_custkey")


@query("bloom_semi_prune", oracle=_bloom_oracle())
def bloom_semi_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: Bloom-filter semi-join pruning — the pre-shuffle fact
    filter behind Spark's runtime row-level filtering
    (spark.sql.optimizer.runtime.bloomFilter.enabled), implemented as
    an explicit engine-portable operator (operators/bloom.py) so the
    pruned row set is oracle-reproducible. A selective customer subset
    (one market segment) builds a 64 Kbit filter (bounded bit_or
    collect); the orders fact is tested MAP-SIDE inside its scan stage
    — at 100 TB only probable matches ever reach the join exchange,
    which is the entire point. The output surfaces the filter's
    quality: per order status, rows passing the bloom vs rows exactly
    matching (difference = false positives, which the downstream exact
    join removes; no false negatives by construction — asserted in
    tests/test_operators.py)."""
    from multichannel_commerce_data_pipeline_spark.operators.bloom import (
        bloom_contains,
    )

    dim = _bloom_dim(spark, sf_dir)
    words = _bloom_words(spark, sf_dir)
    # stage_filter (r17): the membership probe is one md5 per fact row
    # — a compute-heavy derived predicate, exactly the class
    # stage_filter exists for. Unpinned, Catalyst pushed it below the
    # fan-out exchange into the single-row-group scan's DataFilters,
    # so ALL the hashing ran in the one serial scan task (the r9 plan
    # audit's corpus_prepare lesson, previously accepted here as a
    # testdata artifact). Pinned, the probe fans out over the
    # exchange; at real multi-split scale the pin costs nothing — the
    # filter still runs pipelined inside the (parallel) scan stage,
    # and a derived md5 never contributed row-group pruning anyway.
    orders = parallelize_small_scan(
        spark,
        load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        ),
    )
    pruned = stage_filter(
        orders, bloom_contains(F.col("o_custkey"), words)
    )
    marked = pruned.join(
        F.broadcast(dim.withColumn("_hit", F.lit(1))),
        pruned["o_custkey"] == F.col("c_custkey"),
        "left",
    )
    return marked.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n_bloom_pass"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_exact"),
    )


# Shared DuckDB CTE: the symmetrized co-purchase graph, identical text
# to _pagerank_oracle's edge build so every graph oracle sees the same
# graph the cached _copurchase_edges frame holds.
_CP_EDGES_CTE = """items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    cp AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    ),
    edges AS (
      SELECT part_a AS src, part_b AS dst, w FROM cp
      UNION ALL
      SELECT part_b AS src, part_a AS dst, w FROM cp
    )"""


def _triangles_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.functions import oracle_dround

    lcc = oracle_dround(
        "2.0 * CAST(COALESCE(pn.tri, 0) AS DOUBLE) / (d.deg * (d.deg - 1))", 6
    )
    return f"""
    WITH {_CP_EDGES_CTE},
    und AS (SELECT part_a AS src, part_b AS dst FROM cp),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT src AS node FROM und UNION ALL SELECT dst FROM und
      ) GROUP BY node
    ),
    oriented AS (
      SELECT
        CASE WHEN (ds.deg < dd.deg) OR (ds.deg = dd.deg AND u.src < u.dst)
             THEN u.src ELSE u.dst END AS u,
        CASE WHEN (ds.deg < dd.deg) OR (ds.deg = dd.deg AND u.src < u.dst)
             THEN u.dst ELSE u.src END AS v,
        CASE WHEN (ds.deg < dd.deg) OR (ds.deg = dd.deg AND u.src < u.dst)
             THEN dd.deg ELSE ds.deg END AS v_deg
      FROM und u
      JOIN deg ds ON u.src = ds.node
      JOIN deg dd ON u.dst = dd.node
    ),
    wedges AS (
      SELECT a.u, a.v AS v1, b.v AS v2
      FROM oriented a JOIN oriented b ON a.u = b.u
      WHERE (a.v_deg < b.v_deg) OR (a.v_deg = b.v_deg AND a.v < b.v)
    ),
    tris AS (
      SELECT w.u, w.v1, w.v2
      FROM wedges w JOIN oriented o ON w.v1 = o.u AND w.v2 = o.v
    ),
    pn AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM (
        SELECT u AS node FROM tris
        UNION ALL SELECT v1 FROM tris
        UNION ALL SELECT v2 FROM tris
      ) GROUP BY node
    )
    SELECT d.node AS part,
           d.deg AS degree,
           CAST(COALESCE(pn.tri, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.deg >= 2 THEN {lcc} ELSE 0.0 END AS clustering
    FROM deg d LEFT JOIN pn ON d.node = pn.node
    """


# The degree orientation is a graph-layout artifact (it changes only
# when the edge set does): persisted per corpus version like the edge
# index itself, so motif queries pay the orient joins once per session.
@artifact
def _oriented_copurchase(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    from pyspark import StorageLevel

    from multichannel_commerce_data_pipeline_spark.operators.graph import (
        orient_edges,
    )

    oriented, deg = orient_edges(_copurchase_edges(spark, sf_dir))
    n_parts = spark.sparkContext.defaultParallelism
    # apex-partitioned BEFORE persist: the cached layout satisfies
    # the wedge self-join's distribution on both sides.
    oriented = oriented.repartition(n_parts, "u").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    oriented.count()
    deg = deg.persist(StorageLevel.MEMORY_AND_DISK)
    deg.count()
    return oriented, deg


@query("copurchase_triangles", oracle=_triangles_oracle())
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11: triangle counting + local clustering coefficient over the
    co-purchase graph — "is this product bought inside a tight cluster
    of companions or as a hub between unrelated baskets?", the
    structural signal behind bundle detection (high lcc = cohesive
    bundle; high degree + low lcc = a staple that bridges categories).
    Degree orientation bounds the wedge self-join — the only
    super-linear step — to O(m^1.5) candidates regardless of hub skew
    (a 10^6-degree hub contributes zero wedges from its high-rank
    side), which is what makes triangle counting feasible on a
    100 TB co-occurrence graph; everything else is equi-joins and
    partial-aggregated group-bys on the cached per-sf edge index."""
    from multichannel_commerce_data_pipeline_spark.operators.graph import (
        oriented_triangle_counts,
    )

    oriented, deg = _oriented_copurchase(spark, sf_dir)
    t = oriented_triangle_counts(oriented, deg, pre_partitioned=True)
    return t.select(
        F.col("node").alias("part"),
        F.col("deg").alias("degree"),
        F.col("tri").alias("n_triangles"),
        F.col("lcc").alias("clustering"),
    )


def _lpa_oracle(n_iters: int) -> str:
    blocks = [
        _CP_EDGES_CTE,
        """l0 AS (
      SELECT DISTINCT src AS node, src AS label FROM edges
    )""",
    ]
    for i in range(n_iters):
        blocks.append(
            f"""s{i + 1} AS (
      SELECT e.dst AS node, l.label, SUM(e.w) AS s
      FROM edges e JOIN l{i} l ON e.src = l.node
      GROUP BY 1, 2
    ),
    l{i + 1} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY s DESC, label ASC) AS rn
        FROM s{i + 1}
      ) WHERE rn = 1
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f"\n    SELECT node AS part, label AS community FROM l{n_iters}"
    )


@query("copurchase_communities", oracle=_lpa_oracle(2))
def copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11: label-propagation community detection on the co-purchase
    graph — 2 synchronous rounds, each node adopting the neighbor label
    with the greatest total incident weight (ties toward the smallest
    label, so the iteration is deterministic and the DuckDB oracle can
    unroll it). Communities = merchandising categories discovered from
    behavior, no taxonomy required. Per round: the label vector joins
    the src-partitioned cached edge frame (only labels move), then two
    partial-aggregated group-bys — (node, label) weight sums, then a
    max-struct argmax that collapses map-side like ivf_assign's; the
    exchange carries one row per (node, distinct neighbor label). Edge
    weights are integral co-order counts: sums are exact, no
    float-order divergence."""
    from multichannel_commerce_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    edges = _copurchase_edges(spark, sf_dir)
    lab = label_propagation(edges, n_iters=2)
    return lab.select(
        F.col("node").alias("part"), F.col("label").alias("community")
    )


# n_baskets is a corpus-level scalar (one bounded collect per sf_dir,
# cached as a plain int like the BM25 corpus stats) — embedding it as a
# literal keeps the rules computation join-free on the global total.
@artifact
def _n_baskets(spark: SparkSession, sf_dir: str) -> int:
    return (
        load(spark, sf_dir, "lineitem").select("l_orderkey").distinct().count()
    )


def _rules_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.functions import oracle_dround

    nb = "(SELECT COUNT(DISTINCT l_orderkey) FROM lineitem)"
    support = oracle_dround("CAST(e.w AS DOUBLE) / nb.n", 6)
    confidence = oracle_dround("CAST(e.w AS DOUBLE) / ia.n_item", 6)
    lift = oracle_dround(
        "(CAST(e.w AS DOUBLE) / ia.n_item) / (CAST(ic.n_item AS DOUBLE) / nb.n)",
        6,
    )
    return f"""
    WITH {_CP_EDGES_CTE},
    item_n AS (
      SELECT l_partkey AS part, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
             AS n_item
      FROM lineitem GROUP BY 1
    ),
    nb AS (SELECT {nb} AS n)
    SELECT e.src AS antecedent,
           e.dst AS consequent,
           e.w AS pair_orders,
           {support} AS support,
           {confidence} AS confidence,
           {lift} AS lift
    FROM edges e
    JOIN item_n ia ON e.src = ia.part
    JOIN item_n ic ON e.dst = ic.part
    CROSS JOIN nb
    """


@query("basket_association_rules", oracle=_rules_oracle())
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10: association rules over the market basket — every directed
    rule A→B with co-order support >= 2, scored with the classic
    support / confidence / lift triple (lift > 1 = genuine affinity,
    not popularity; the ranking signal behind "frequently bought
    together" that raw pair counts get wrong for best-sellers). The
    pair counts come straight from the cached symmetrized co-purchase
    edge index (already both directions), so the only new work is two
    equi-joins onto per-item basket counts and map-side arithmetic;
    n_baskets is a corpus scalar collected once per sf_dir. Ratios are
    dround-quantized so the statistics hash-match the oracle."""
    nb = _n_baskets(spark, sf_dir)
    edges = _copurchase_edges(spark, sf_dir)
    # Per-item basket counts from the persisted basket index instead
    # of a fresh scan + distinct exchange (identical distinct set);
    # materialized once per run (eager localCheckpoint, ≤ |parts|
    # rows) because BOTH the antecedent and consequent joins consume
    # it and Spark has no DataFrame-level CSE (r16 optimization round,
    # guide §2.4).
    item_n = (
        _basket_items(spark, sf_dir)
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(F.count(F.lit(1)).alias("n_item"))
        .localCheckpoint(eager=True)
    )
    ia = item_n.select(F.col("part").alias("src"), F.col("n_item").alias("n_ante"))
    ic = item_n.select(F.col("part").alias("dst"), F.col("n_item").alias("n_cons"))
    r = edges.join(ia, "src").join(ic, "dst")
    from multichannel_commerce_data_pipeline_spark.functions import dround

    w_d = F.col("w").cast("double")
    return r.select(
        F.col("src").alias("antecedent"),
        F.col("dst").alias("consequent"),
        F.col("w").alias("pair_orders"),
        dround(w_d / F.lit(nb), 6).alias("support"),
        dround(w_d / F.col("n_ante"), 6).alias("confidence"),
        dround(
            (w_d / F.col("n_ante"))
            / (F.col("n_cons").cast("double") / F.lit(nb)),
            6,
        ).alias("lift"),
    )
