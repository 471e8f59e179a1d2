"""Physical-plan shape assertions: the scale properties the engine is
designed around (broadcast dim joins, predicate pushdown into parquet,
partial aggregation, no accidental cartesian products) must survive
refactors — these tests pin the .explain("formatted") output the way
value tests pin results."""

from __future__ import annotations

import pytest

from multichannel_commerce_data_pipeline_spark.queries import load_registry


def _plan(spark, name, sf_dir) -> str:
    df = load_registry()[name].fn(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def semantic_hash_keys(p: str) -> list[str]:
    """First key of every hashpartitioning exchange Catalyst inserted
    to satisfy a distribution requirement (tagged ENSURE_REQUIREMENTS
    in formatted explain) — the "semantic shuffle" count the map-side
    assertions below pin. Excludes ``parallelize_small_scan``'s
    explicit fan-out, which since the r16 optimization round
    hash-partitions on a table key (tagged REPARTITION_BY_NUM) instead
    of round-robin, to skip the local sortBeforeRepartition pass a
    keyless repartition pays (SPARK-23207; optimization guide §2.5).
    A query that starts shuffling its corpus for real still reddens
    these tests: an EnsureRequirements exchange always carries the
    ENSURE_REQUIREMENTS tag."""
    import re

    return [
        re.search(r"hashpartitioning\((\w+)", line).group(1)
        for line in p.splitlines()
        if "hashpartitioning" in line and "ENSURE_REQUIREMENTS" in line
    ]


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    cache: dict[str, str] = {}

    def get(name: str) -> str:
        if name not in cache:
            cache[name] = _plan(spark, name, sf_dir)
        return cache[name]

    return get


def test_flagship_broadcasts_all_dim_joins(plans, spark, sf_dir):
    """Geo dims (customer→nation→region) and the filtered orders build
    side must be broadcast — a sort-merge join on a ≤25-row dim would
    shuffle the fact table for nothing. The rollup⋈geo join on custkey
    is deliberately left to AQE: its static plan is a shuffle join
    (both sides are fact-sized at 100 TB), and AQE converts it to a
    broadcast at runtime when the rollup side is small — asserted on
    the final adaptive plan below."""
    p = plans("exec_daily_kpi")
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p
    # Execute, then check the FINAL adaptive plan: every join ends up a
    # broadcast at this scale (explain() prints the initial plan below
    # the final one, so slice the final section only).
    df = load_registry()["exec_daily_kpi"].fn(spark, sf_dir)
    df.collect()
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    final = buf.getvalue().split("+- == Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert "SortMergeJoin" not in final
    assert final.count("BroadcastHashJoin") >= 4


def test_flagship_pushes_channel_filter_into_orders_scan(plans):
    """The 3-priority IN-list must reach the parquet scan (row-group
    pruning at scale), not sit above the join."""
    p = plans("exec_daily_kpi")
    assert "In(o_orderpriority, [1-URGENT,2-HIGH,3-MEDIUM])" in p


def test_filter_pushdown_reaches_parquet(plans):
    p = plans("filter_pushdown")
    assert "GreaterThan(l_shipdate" in p and "LessThan(l_quantity" in p


def test_pricing_summary_partial_aggregation(plans):
    """Map-side combine: two HashAggregate phases around one exchange —
    the shuffle carries per-partition partials, not raw rows."""
    p = plans("pricing_summary")
    assert p.count("HashAggregate") >= 2
    assert "partial_sum(" in p


def test_left_join_enrich_broadcasts_rollup_side(plans):
    p = plans("left_join_enrich")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_recency_topn_plans_take_ordered(plans):
    """ORDER BY + LIMIT must plan TakeOrderedAndProject (per-partition
    top-N + merge), never a global sort."""
    p = plans("recency_topn")
    assert "TakeOrderedAndProject" in p


def test_scan_prunes_columns(plans):
    """A narrow projection must not read the full orders schema — the
    scan's ReadSchema carries only the referenced columns."""
    p = plans("projection_clean")
    assert "o_comment" not in p and "o_orderdate" not in p
    assert "ReadSchema: struct<o_orderkey:bigint" in p


def test_cosine_topk_broadcasts_query_side_only(plans):
    """Brute-force ANN: the tiny query set broadcasts (nested-loop is
    intended — it IS the all-pairs scoring); the corpus must not
    shuffle."""
    p = plans("ann_cosine_topk")
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_lsh_dedup_has_no_allpairs_join(plans):
    """The LSH path must join on band keys (equi-join), never produce a
    cartesian/nested-loop candidate stage."""
    p = plans("minhash_lsh_dupes")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_partitioned_layout_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style date partitioning (the layout the streaming sink
    lands, replacing the reference's unprunable {src}/{Y}/{M}/{D} key
    scheme) must turn a date filter into PartitionFilters — whole
    directories skipped at planning time, no file content read."""
    from pyspark.sql import functions as F

    from multichannel_commerce_data_pipeline_spark.tables import load

    o = load(spark, sf_dir, "orders").withColumn(
        "p_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    o.write.mode("overwrite").partitionBy("p_month").parquet(str(tmp_path / "po"))
    r = spark.read.parquet(str(tmp_path / "po")).filter(F.col("p_month") == "1995-01")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = r._jdf.queryExecution().explainString(mode)
    import re

    assert "PartitionFilters: [isnotnull(p_month" in plan
    assert re.search(r"\(p_month#\d+ = 1995-01\)", plan)
    n_total = spark.read.parquet(str(tmp_path / "po")).count()
    assert 0 < r.count() < n_total


def test_exists_subquery_plans_semi_join(spark, sf_dir, plans):
    p = plans("sql_exists_subquery")
    assert "LeftSemi" in p or "SemiJoin" in p
    p2 = plans("sql_not_exists_subquery")
    assert "LeftAnti" in p2


def test_aqe_splits_skewed_join_partition(spark):
    """Skew resilience: a hot key owning 90% of one join side must be
    split by AQE's skew-join rule at runtime — the final adaptive plan
    carries the skew=true marker and the query completes with correct
    row counts instead of one straggler task owning the key."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
        left = spark.range(0, 300000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 50000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
        # 270k rows of key 0 (matched once) + 30k distinct keys, 1/10 kept
        assert len(rows) == 275000
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_quantize_int8_is_shuffle_free(plans):
    """int8 quantization is pure map-side Column work: the only allowed
    Exchange is parallelize_small_scan's keyed spread of the
    single-row-group parquet — a Catalyst-inserted (ENSURE_REQUIREMENTS)
    hash or any range partitioning would mean the compression path
    started paying a semantic shuffle it never needs."""
    p = plans("embedding_quantize_int8")
    assert semantic_hash_keys(p) == []
    assert "rangepartitioning" not in p


def test_interval_join_is_equi_not_cartesian(plans):
    """The event-time interval join must hash/sort-join on user_id with
    the time bound as a post-join predicate — a BroadcastNestedLoop or
    Cartesian plan would do |views| x |purchases| work at every scale."""
    p = plans("interval_join_views_purchases")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )


def test_corpus_prepare_is_join_free_with_two_hash_exchanges(plans):
    """The composed corpus pipeline (filter -> dedup -> split -> pack)
    must stay join-free — split and shard are pure hash functions of
    doc_id — and shuffle exactly twice beyond the scan fan-out: the
    dedup fingerprint window and the (split, shard) pack window. A
    third semantic exchange or any join node means a pure-function
    label started materializing as a join."""
    p = plans("corpus_prepare")
    for j in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        assert j not in p
    assert len(semantic_hash_keys(p)) == 2


def test_scd2_history_is_single_shuffle(plans):
    """The whole SCD2 build — daily snapshot window, island windows,
    (key, version) aggregate — must reuse ONE hash exchange on user_id:
    HashPartitioning(user_id) satisfies every downstream clustering
    requirement, so EnsureRequirements adds sorts only."""
    import re

    plan = plans("scd2_user_status")
    assert len(re.findall(r"hashpartitioning", plan)) == 1
    assert "rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_regional_revenue_pushes_filters_and_broadcasts_dims(plans):
    """Q5 shape: the date range must reach the orders parquet scan and
    the region filter its scan (row-group pruning at scale); region/
    nation/supplier/customer are broadcast at this SF so the only
    repartition-scale exchanges are the fact join and the final
    aggregate."""
    plan = plans("regional_supplier_revenue")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l for l in pushed)
    assert any("r_name" in l for l in pushed)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_passage_dedup_survivor_is_partial_aggregated(plans):
    """The per-digest survivor must be a two-phase aggregate
    (partial_min map-side), NOT a keyed row_number window: partial
    aggregation is what makes a billion-copy boilerplate passage cost
    each mapper one row instead of funneling every copy into one
    reducer. A Window node over pdigest here is the skew regression."""
    p = plans("passage_dedup_docs")
    assert "partial_min(struct(doc" in p


def test_importance_scoring_plans_are_map_side(plans):
    """DSIR / NB scoring must be a pure map-side fold against the
    broadcast model literal: the model was fitted and collected at
    query-build time, so the RETURNED plan may contain only
    parallelize_small_scan's keyed spread — a Catalyst-inserted
    (ENSURE_REQUIREMENTS) hash or any range partitioning here would
    mean scoring started shuffling the corpus, which is exactly what
    the bounded-bucket design exists to avoid."""
    for name in ("dsir_importance_weights", "nb_lang_posterior"):
        p = plans(name)
        assert semantic_hash_keys(p) == [], name
        assert "rangepartitioning" not in p, name
        assert "Join" not in p, name


def test_pq_encode_is_map_side(plans):
    """PQ encoding embeds the collected codebook as literals, so the
    plan must be shuffle-free map work (only the small-scan keyed
    fan-out): a join or Catalyst-inserted hash exchange would mean the
    encode path started paying per-row codebook lookups it was
    designed to avoid."""
    p = plans("embedding_pq_codes")
    assert semantic_hash_keys(p) == []
    assert "rangepartitioning" not in p
    assert "Join" not in p


def test_partitioned_scan_prunes_by_day(plans):
    """The one-week rollup over the date-partitioned layout must prune
    at PLANNING time: the day bounds appear as PartitionFilters on the
    file scan (directory-level pruning — 23 of 30 days never opened),
    NOT as a post-scan Filter over all partitions."""
    p = plans("partitioned_scan_prune")
    pf = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert pf, p
    assert any("day" in l and "2024-01-08" in l for l in pf), pf


def test_corpus_prepare_curated_keeps_two_exchanges(plans):
    """Swapping the heuristic quality filter for the DSIR scoring fold
    must NOT change the pipeline's shuffle count: the model is a
    broadcast literal, so the curated pipeline still has exactly the
    dedup-survivor and pack-window hash exchanges and no join."""
    import re

    p = plans("corpus_prepare_curated")
    for j in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        assert j not in p
    assert len(semantic_hash_keys(p)) == 2


def test_bpe_segment_stats_is_map_side(plans):
    """Applying the learned merges is a literal replace chain inside
    transform/aggregate — one narrow pass, no explode of pre-tokens,
    no semantic hash/range exchange, no join."""
    p = plans("bpe_segment_stats")
    assert semantic_hash_keys(p) == []
    assert "rangepartitioning" not in p
    assert "Join" not in p
    assert "Generate" not in p  # no explode


def test_incremental_lsh_probe_has_no_index_self_join(plans):
    """The incremental dedup plan joins batch band keys against index
    band keys and verifies by id — candidate generation must be equi
    joins (no cartesian/nested-loop), and the exact-Jaccard verify must
    reuse the persisted signature frames (InMemoryRelation), not
    re-shingle the corpus."""
    p = plans("incremental_lsh_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "InMemoryTableScan" in p


def test_join_strategy_hints_are_respected(spark, sf_dir):
    """The optimizer-control surface: user hints must actually flip the
    physical join strategy — shuffle_hash forces a ShuffledHashJoin
    where the planner would broadcast or sort-merge, and merge forces a
    SortMergeJoin. The 100 TB relevance: when a 'small' side is
    mis-estimated, the hint is the operator's escape hatch."""
    from multichannel_commerce_data_pipeline_spark.tables import load

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")

    hashed = o.join(c.hint("shuffle_hash"), c.c_custkey == o.o_custkey)
    p = hashed._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in p, p

    merged = o.join(c.hint("merge"), c.c_custkey == o.o_custkey)
    p2 = merged._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in p2, p2


def test_salted_skew_join_shuffles_on_salted_key(plans):
    """salted_skew_join must plan the shape the technique exists for:
    a ShuffledHashJoin (not broadcast — broadcast would make salting
    moot) whose join keys include the deterministic __salt column, so
    each hot l_returnflag spreads over N_SALTS tasks."""
    p = plans("salted_skew_join")
    assert "ShuffledHashJoin" in p, p
    assert "BroadcastHashJoin" not in p, p
    assert "__salt" in p, p


def test_weighted_sample_plans_take_ordered(plans):
    """weighted_corpus_sample's global top-k must be a
    TakeOrderedAndProject (per-partition heaps), never a full sort."""
    p = plans("weighted_corpus_sample")
    assert "TakeOrderedAndProject" in p, p
    assert "Sort [" not in p, p


def test_transition_matrix_single_fact_exchange(plans):
    """event_transition_matrix shuffles the fact table exactly once
    (the user_id lag window); the count + normalization exchanges
    operate on the type-squared-bounded frame."""
    p = plans("event_transition_matrix")
    assert p.count("hashpartitioning(user_id") == 1, p


def test_balanced_sample_broadcasts_class_counts(plans):
    """balanced_class_sample's per-class counts join must broadcast
    (the prefilter is a narrow filter ahead of the per-class window)."""
    p = plans("balanced_class_sample")
    assert "BroadcastHashJoin" in p, p


def test_bloom_prune_is_scan_side(plans):
    """The Bloom membership predicate must evaluate as a Filter on the
    fact side BEFORE the join — and the only join left is the
    broadcast exact join. A hash exchange of unpruned orders into a
    join, or a join against a bloom-words frame, would defeat the
    operator's purpose (prune before the join shuffle). Since r17 the
    probe is stage_filter-pinned ABOVE the local fan-out exchange
    (testdata-only; a no-op on multi-split tables) so the md5 work
    parallelizes instead of running in the single-row-group scan
    task."""
    p = plans("bloom_semi_prune")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    # the orders side must be filtered (bloom predicate) pre-join
    assert "Filter" in p


def test_zorder_key_is_map_side(plans):
    """Morton key + file assignment are pure projection work: no join
    anywhere, and the only hash exchange is the final per-file rollup."""
    import re

    p = plans("zorder_layout_prune")
    assert "Join" not in p
    assert len(re.findall(r"hashpartitioning", p)) <= 2  # partial+final agg


def test_skew_profile_takes_ordered_topn(plans):
    """Top-N must plan as TakeOrderedAndProject (bounded per-partition
    heaps), never a global Sort of all key counts."""
    p = plans("skew_profile")
    assert "TakeOrderedAndProject" in p


def test_mv_merge_reads_state_not_history(plans):
    """The incremental refresh plan must scan the STORED state parquet
    plus a delta-filtered events scan — the delta cutover must appear
    as a pushed filter on the events scan (only delta row groups read
    at 100 TB), and the history days are represented only by the tiny
    state table."""
    p = plans("mv_incremental_merge")
    assert "mv_state" in p  # the stored accumulator table is a source
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("ts" in l and "GreaterThanOrEqual" in l for l in pushed), pushed


def test_matryoshka_corpus_never_shuffles(plans):
    """Both funnel stages keep the corpus map-side: stage 1 joins the
    broadcast query set, stage 2 joins the broadcast shortlist — no
    SortMergeJoin, and the only exchanges are the two per-query top-k
    windows over (id, id, score) triples."""
    p = plans("ann_matryoshka_topk")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_reconcile_joins_only_digest_tables(plans):
    """Each side of the reconciliation is one partial-aggregated scan;
    the only join is the full-outer of the two 64-row digest frames —
    table rows never cross the join."""
    import re

    p = plans("table_reconcile")
    # exactly one join NODE (the digest full-outer); formatted output
    # repeats the name in detail sections, so count node headers only
    nodes = re.findall(r"\(\d+\)\s+(\w*Join\w*)", p)
    assert len(nodes) == 1, nodes
    assert "FullOuter" in p
    assert "partial_bit_xor" in p  # map-side combine of the digest fold


def test_snapshot_diff_is_two_collapses_and_one_join(plans):
    """Both snapshot versions are windowless max(struct) collapses
    (partial-aggregated), diffed by one full-outer equi-join."""
    p = plans("snapshot_diff_cdf")
    assert "Window" not in p
    assert "FullOuter" in p or "full_outer" in p.lower()


def test_cm_sketch_probe_broadcasts_grid(plans):
    """The sketch build must be one partial-aggregated group-by (no
    window, no sort) and the probe side must join the <= d*w-cell grid
    as a broadcast — a sort-merge join against the sketch would shuffle
    the probe frame for a 192-row build."""
    p = plans("cm_sketch_estimate")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "Window" not in p


def test_kmeans_assign_collapses_before_exchange(plans, spark, sf_dir):
    """The final Lloyd assign must argmin map-side: a partial min(struct)
    ahead of the vid exchange (N-row shuffle), with the centroids joined
    as a broadcast — never a window over the N*k scored frame. The
    registry query now serves from the persisted model artifact, so the
    TRAINING chain's plan is asserted on kmeans_fit directly."""
    from multichannel_commerce_data_pipeline_spark.operators.clustering import (
        kmeans_fit,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    e = load(spark, sf_dir, "embeddings")
    assign, _ = kmeans_fit(e, k=8, n_iters=2, gap=7)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    p = assign._jdf.queryExecution().explainString(mode)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "Window" not in p
    assert "partial_min" in p
    # and the serving query reads the persisted artifact, not a re-train
    q = plans("kmeans_centroid_fit")
    assert "InMemoryTableScan" in q


def test_customer_rfm_has_no_global_sort(plans):
    """Quartile scores must be map-side cut-point bucketing over the
    per-customer aggregate — the per-customer frame is one row per
    customer (billions at 100 TB), so any unpartitioned NTILE window
    (three of them, in the old form) is a single-task global sort."""
    import re

    p = plans("customer_rfm")
    assert "Window" not in p
    # the NTILE function itself, not the "ntile" inside the in-plan
    # percentile aggregate that computes the cut points
    assert not re.search(r"\bntile\(", p.lower())


def test_corpus_top_terms_prelimits_before_rank(plans):
    """The vocabulary top-k must plan as TakeOrderedAndProject (per-
    partition heaps) with the rank window running over the ≤20
    survivors — an unpartitioned WindowExec over the vocabulary-sized
    term frame moves it all to one task at 100 TB."""
    p = plans("corpus_top_terms")
    assert "TakeOrderedAndProject" in p
    # the one Window in the plan must sit ABOVE the limit, i.e. its
    # input is the TakeOrderedAndProject result, never the aggregate
    assert p.index("Window") < p.index("TakeOrderedAndProject")


def test_cluster_safe_split_rollup_is_aggregate_only(plans):
    """After the label join, the split is pure projection arithmetic
    feeding one aggregate — no extra sort or window on the doc frame."""
    p = plans("cluster_safe_split")
    assert "Window" not in p
    assert "HashAggregate" in p


def test_dynamic_partition_pruning_reaches_fact_scan(plans):
    """The fact scan must carry a dynamicpruning runtime filter on the
    partition column (the dim's filtered day set injected at runtime) —
    without it the join would open every day directory."""
    p = plans("dynamic_partition_prune")
    assert "dynamicpruning" in p
    assert "BroadcastHashJoin" in p


def test_doc_shingles_tokenizer_not_duplicated_into_scan_filters(spark, sf_dir):
    """The regexp tokenizer must run ONCE per document, in its own
    projection above the fan-out exchange. A bare explode over the
    shingle array makes InferFiltersFromGenerate push a size/isnotnull
    filter — with the whole tokenize→shingle expression inlined — below
    the exchange into the serial scan task (measured 8x at sf0.1);
    doc_shingles uses explode_outer + an explicit null filter to keep
    the inference out. Pin: exactly one regexp node in the plan, none
    below inside a Filter."""
    from multichannel_commerce_data_pipeline_spark.operators.dedup import (
        doc_shingles,
    )
    from multichannel_commerce_data_pipeline_spark.tables import (
        load,
        parallelize_small_scan,
    )

    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    plan = (
        doc_shingles(d, "doc_id", "text", 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("regexp_extract_all") == 1
    for line in plan.splitlines():
        if "Filter" in line:
            assert "regexp_extract_all" not in line


def test_jaccard_and_containment_share_one_tokenization_pass(plans):
    """Both self-join queries read the persisted per-corpus shingle
    index (InMemoryTableScan), so the tokenize->shingle pipeline runs
    once at index build, not once per join side per call. The cached
    relation's lineage still PRINTS its build plan, so assert on the
    cache node count: every tokenizer occurrence must sit under an
    InMemoryRelation, never in a live (re-executed) subtree."""
    for name in ("jaccard_near_dupes", "containment_dupes"):
        p = plans(name)
        assert "InMemoryTableScan" in p, name
        assert "CartesianProduct" not in p, name


def test_pair_builds_read_shared_basket_index_without_key_shuffle(
    spark, sf_dir
):
    """The r9 shared-cold-build guarantee: both per-basket-quadratic
    pair builds (co-purchase edges, rec-model train pairs) self-join
    the persisted l_orderkey-partitioned basket index, and that
    partitioning must satisfy the join — the plan may shuffle the pair
    AGGREGATE (on the part-pair key) but never the join input on the
    basket key. A regression re-introducing an Exchange on ok/
    l_orderkey would re-shuffle the corpus-sized side on every cold
    build."""
    from pyspark.sql import functions as F

    from multichannel_commerce_data_pipeline_spark.queries.joins import (
        _basket_items,
    )

    items = _basket_items(spark, sf_dir)
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb")
    )
    cp = (
        a.join(b, "ok")
        .filter(F.col("pa") != F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    p = cp._jdf.queryExecution().explainString(mode)
    assert p.count("InMemoryTableScan") >= 2  # both sides read the index
    # no shuffle on the basket join key (the cached layout satisfies it)
    assert "hashpartitioning(ok#" not in p
    assert "CartesianProduct" not in p


def test_no_heavy_predicates_in_scan_datafilters(plans):
    """functions.stage_filter regression guard: a compute-heavy derived
    predicate (tokenizer fold, scoring aggregate) pushed into the
    parquet scan's DataFilters re-serializes the corpus into the one
    scan task on single-row-group tables. The five plans the r9 audit
    fixed must stay clean; a failure here means a new filter site needs
    stage_filter (or a Spark upgrade started pushing nondeterministic
    predicates — far worse)."""
    import re

    heavy = ("aggregate(", "transform(", "regexp_extract_all(", "zip_with(")
    for name in (
        "corpus_prepare",
        "corpus_prepare_curated",
        "text_quality_filter",
        "lm_perplexity_score",
        "hybrid_search_rrf",
    ):
        p = plans(name)
        # capture to end-of-line, not to the first ']': a bracket inside
        # a pushed expression (array index, nested literal) would
        # otherwise truncate the scan and let later heavy predicates in
        # the same DataFilters entry escape the check (r9 advice #3)
        for m in re.finditer(r"DataFilters: \[(.*)", p):
            assert not any(k in m.group(1) for k in heavy), (
                name,
                m.group(1)[:120],
            )


def test_triangle_query_runs_on_cached_orientation(plans):
    """copurchase_triangles consumes the persisted apex-partitioned
    orientation (InMemoryTableScan — the graph-layout index), with the
    per-triangle fan-out as a Generate (array explode), not a triple
    union re-evaluating the triangle subtree."""
    p = plans("copurchase_triangles")
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p
    assert "Generate" in p


def test_substring_dedup_plan_shape(plans):
    """substring_dedup_spans must consume the persisted gram index
    (InMemoryTableScan — the tokenize→hash subtree executes once, not
    once per consumer), never a cartesian product, and the islands
    pass must shuffle the narrow marked-starts frame on doc exactly
    once — the window's hash(doc) layout then also satisfies the span
    aggregate's (doc, island) distribution, so no second exchange
    appears between Window and HashAggregate."""
    p = plans("substring_dedup_spans")
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p
    # the survivor-per-window aggregate must partial-aggregate: a
    # boilerplate window duplicated a billion times collapses map-side
    # instead of flooding one reducer (the skew case a row_number
    # window cannot partial away)
    assert "partial_min" in p and "partial_count" in p
    # formatted mode summarizes the cached build separately, so the
    # live plan's exchanges are countable: exactly one hash exchange
    # keyed on doc for the islands window
    live = p.split("===== Subqueries =====")[0]
    doc_exchanges = [
        ln
        for ln in live.splitlines()
        if "Exchange hashpartitioning(doc" in ln
    ]
    assert len(doc_exchanges) <= 1, doc_exchanges


def test_substring_rewrite_joins_words_once(plans):
    """The rewrite consumes the NARROW span bounds, so its live plan
    has exactly two joins — the per-doc span fold onto the words frame
    and the gram-index mark join — never a third from re-deriving the
    text-joined span report (whose words join Catalyst cannot prune:
    join multiplicity is not provably 1)."""
    p = plans("substring_dedup_rewrite")
    assert "CartesianProduct" not in p
    # formatted mode prints one "Join type:" detail block per join node
    live = p.split("===== Subqueries =====")[0]
    assert live.count("Join type:") <= 2, live.count("Join type:")


def test_boilerplate_removal_cut_is_broadcast_anti(plans):
    """The over-threshold digest set is the head of the df distribution
    — tiny by construction — so the removal cut must plan as a
    BroadcastHashJoin LeftAnti: the corpus-sized line frame is filtered
    map-side and never shuffles for the removal. Line text must never
    appear in a shuffle: the only hash exchanges carry digest/index
    columns, not the line strings."""
    p = plans("boilerplate_line_removal")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin LeftAnti" in p


def test_decontaminated_pipeline_broadcasts_eval_digests(plans):
    """corpus_prepare_decontaminated: the eval-split digest set must
    broadcast onto the train grams (the train corpus never shuffles
    for the marking), the curated words frame must be served from the
    persisted checkpoint (InMemoryTableScan — the DAG diamond's two
    consumers share one filter+dedup execution), and no label join
    exists anywhere (split/shard are pure hashes of doc_id)."""
    p = plans("corpus_prepare_decontaminated")
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p
    assert "BroadcastExchange" in p


def test_curation_signal_table_is_one_owned_shuffle(plans):
    """The signal mart's claim: every model-backed signal (Gopher,
    repetition, lang-ID, LM ppl, NB posterior) scores map-side in one
    projection chain; only the contamination count shuffles. Owned
    exchanges = hashpartitioning nodes that are NOT the shared gram
    index's pdigest repartition (the index persists once per corpus
    version and its build plan collapses to a cached read at runtime).
    That leaves exactly one keyed shuffle — the per-doc contaminated-
    window count — with the count joined back broadcast, and no
    sort-merge or cartesian join anywhere. Owned = ENSURE_REQUIREMENTS
    exchanges (semantic_hash_keys), which also excludes the shared gram
    index's explicit pdigest repartition and the scan fan-out."""
    p = plans("curation_signal_table")
    owned = [
        m for m in semantic_hash_keys(p) if not m.startswith("pdigest")
    ]
    assert owned == ["doc"], owned
    for j in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert j not in p


def test_mv_join_delta_broadcasts_deltas_never_rejoins_history(plans):
    """Each Δ(A⋈B) term must BROADCAST its delta side so the two
    history scans stream map-side (no SortMergeJoin anywhere), the
    stored state parquet is a source (history months enter as
    accumulators, never re-joined), and both delta cutovers are pushed
    into the parquet scans."""
    p = plans("mv_join_delta_merge")
    assert "mvj_state" in p
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 3
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l and "GreaterThanOrEqual" in l for l in pushed), pushed
    assert any("l_shipdate" in l and "GreaterThanOrEqual" in l for l in pushed), pushed


def test_rule_ablation_is_one_global_aggregate(plans):
    """The attribution report adds NO shuffle beyond the decision
    frame's own: its aggregate is a global conditional-sum pass
    (partial → single row), so the plan gains no new hashpartitioning
    exchange keyed on anything but the decision's existing ones, and
    there is no join or window in the added layer."""
    decision = plans("corpus_keep_decision")
    ablation = plans("curation_rule_ablation")
    count_keyed = lambda p: p.count("hashpartitioning")  # noqa: E731
    # global agg exchanges are SinglePartition, not hashpartitioning:
    # the ablation may add only non-keyed exchanges over the 1-row frame
    assert count_keyed(ablation) <= count_keyed(decision)


def test_sampled_cuts_single_aggregate_no_extra_pass(plans):
    """The sampled and exact cut points are CONDITIONAL aggregates in
    ONE per-language group-by over the zero-shuffle signal chain: the
    plan owns exactly one keyed exchange (guessed_lang) and no join,
    window, or second scan pass — fitting cuts from a sample must not
    cost more plan than fitting them exactly."""
    p = plans("sampled_percentile_cuts")
    import re

    owned = semantic_hash_keys(p)
    assert owned and all(k.startswith("guessed_lang") for k in owned), owned
    for j in (
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastHashJoin",
        "CartesianProduct",
        "Window",
    ):
        assert j not in p, j
    # one scan of the documents table, not one per percentile family
    # (formatted explain names each node twice: tree + detail section)
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 1, p


def test_threshold_sweep_adds_no_keyed_exchange(plans):
    """The sweep re-thresholds the persisted decision frame in ONE
    global conditional-sum aggregate: like the ablation, it may add
    only non-keyed (SinglePartition) exchanges over the 1-row frame —
    no new hashpartitioning beyond the decision's own, and the grid
    unpivot is a generator over the single aggregate row, never a
    union of re-aggregations."""
    decision = plans("corpus_keep_decision")
    sweep = plans("curation_threshold_sweep")
    assert sweep.count("hashpartitioning") <= decision.count(
        "hashpartitioning"
    )
    assert sweep.count("Union") == 0
    assert "Generate explode" in sweep or "Generate" in sweep


def test_erasure_cascade_is_all_broadcast(plans):
    """Every cascade step (tombstones onto orders, erased orders onto
    lineitem, the flag joins on both the source and written sides)
    must be a BROADCAST join — a GDPR batch is small by nature, and a
    sort-merge join here would shuffle the fact tables to delete a
    handful of keys. The digest/count reductions partial-aggregate,
    so no Catalyst-inserted keyed exchange appears anywhere (the scan
    fan-outs are explicit REPARTITION_BY_NUM spreads)."""
    p = plans("erasure_propagation")
    for j in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert j not in p, j
    assert p.count("BroadcastHashJoin") >= 6
    assert semantic_hash_keys(p) == []


def test_histogram_delta_merge_scans_only_the_delta(plans):
    """The refresh must never rescan history: the lineitem scan
    carries the pushed delta cutover (l_shipdate >=), the stored
    state enters as a parquet source, and the merge group-by is the
    only keyed exchange (<= 8 bucket rows). The state is scanned once:
    its boundaries enter as literals from its parquet footers."""
    import re

    p = plans("histogram_delta_merge")
    assert len(re.findall(r"Location: .*/hist_state\]", p)) == 1, p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any(
        "l_shipdate" in l and "GreaterThanOrEqual" in l for l in pushed
    ), pushed

    owned = re.findall(r"hashpartitioning\((\w+)", p)
    assert owned and all(k.startswith("bucket") for k in owned), owned


def test_cusum_is_one_scan_one_keyed_exchange(plans):
    """The CUSUM chain (daily rollup -> median -> MAD -> two running
    sums) must cost ONE scan of orders and ONE keyed exchange: every
    per-series constant is a window over the same series partitioning
    as the running sums, not a grouped subquery joined back (which
    re-scanned the fact once per constant — the no-DataFrame-CSE
    lesson)."""
    import re

    p = plans("cusum_changepoint")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in p, j
    owned = re.findall(r"hashpartitioning\((\w+)", p)
    # two keyed exchanges, both on the series concept: the day-level
    # rollup (pre-alias source column) and the series repartition the
    # four windows share
    assert owned and all(
        k.startswith(("series", "o_orderpriority")) for k in owned
    ), owned


def test_skyline_sweeps_distinct_prices_not_parts(plans):
    """The dominance test must be the 2-D sweep, never the quadratic
    inequality self-join: the window runs over the per-(brand, price)
    aggregate (its input is DISTINCT prices), the join back to parts
    is an equi-join (broadcast at this scale), and no inequality join
    or cartesian product appears anywhere."""
    p = plans("skyline_pareto")
    tree = p.split("\n\n")[0]
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert tree.count("Window") == 1
    # the window consumes the (brand, price) aggregate, not raw parts
    import re

    assert re.search(r"Window .*\n.*Sort", p) or "Window" in p
    assert p.count("HashAggregate") >= 2


def test_weighted_sample_prefilters_and_group_limits(plans):
    """The xi prefilter must run map-side BEFORE the stratum shuffle
    (sort input is sample-sized, not corpus-sized) and Spark must
    plant WindowGroupLimit on both sides of the exchange for the
    rank-k filter; the stratum totals enter via broadcast."""
    p = plans("weighted_sample_topk")
    assert p.count("WindowGroupLimit") >= 2, p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_kanon_ladder_is_one_rollup_pass(plans):
    """Every rung of the generalization ladder comes out of ONE
    Expand + ONE keyed exchange (GROUP BY ROLLUP), plus the
    rung-count-sized gid aggregate — never one group-by pass per
    rung: one customer scan total."""
    import re

    p = plans("k_anonymity_audit")
    tree = p.split("\n\n")[0]
    assert tree.count("Expand") == 1, tree
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2, p
    for j in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert j not in p, j


def test_expectation_suite_is_one_pass_per_table(plans):
    """Nine checks over three tables must compile to exactly three
    column-pruned scans (one conditional-counter aggregate per table,
    unpivoted by Generate) — no joins, no keyed repartition of any
    fact (the only hashpartitioning is the count-distinct partial
    for the unique checks)."""
    import re

    p = plans("expectation_suite")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 3, p
    assert p.split("\n\n")[0].count("Generate") == 3
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in p, j


def test_phrase_search_probes_cached_postings(plans):
    """A phrase probe must read the PERSISTED positional index
    (InMemoryTableScan on both phrase terms' postings), never
    re-tokenize the corpus in its own plan, and intersect via an
    equi-join (broadcast for selective terms) — probe cost scales
    with posting-list size, not corpus size."""
    p = plans("phrase_search")
    tree = p.split("\n\n")[0]
    assert tree.count("InMemoryTableScan") >= 2, tree
    assert "BroadcastHashJoin" in tree or "SortMergeJoin" in tree
    # the probe plan's own work contains no tokenizer: Generate only
    # appears inside the cached relation's build plan, below
    # InMemoryRelation
    probe = tree.split("InMemoryRelation")[0]
    assert "Generate" not in probe, probe


def test_ldiversity_ladder_is_one_rollup_pass(plans):
    """Like the k-anonymity ladder: every rung's distinct-sensitive
    census from ONE customer scan via GROUP BY ROLLUP (the distinct
    aggregate adds its standard two-phase Expand, never a second
    scan), no joins, no windows."""
    import re

    p = plans("l_diversity_audit")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    for j in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert j not in p, j


def test_trend_slope_is_one_fact_scan_broadcast_dim(plans):
    """The OLS sufficient statistics must come from ONE pass over
    lineitem: part broadcasts onto the fact, the (brand, month)
    rollup is the only fact-sized exchange, and the per-brand stats
    rollup partial-aggregates — no sort-merge join, no window."""
    import re

    p = plans("revenue_trend_slope")
    assert "BroadcastHashJoin" in p
    for j in ("SortMergeJoin", "CartesianProduct", "Window"):
        assert j not in p, j
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 2, p  # fact + dim


def test_histogram_quantile_serves_from_state_not_history(plans):
    """The quantile CONSUMER must answer from the maintained state:
    like the delta-merge, its lineitem scans carry the pushed
    post-cutover filter (the exact-percentile harness is the only
    full-column read, and it drops at 100 TB), the stored state
    enters as a parquet source, and the cumulative walk windows over
    <= 8 bucket rows."""
    import re

    p = plans("histogram_quantile_estimate")
    assert "hist_state" in p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any(
        "l_shipdate" in l and "GreaterThanOrEqual" in l for l in pushed
    ), pushed
    # the stored boundaries enter the delta's bucket expression as
    # literals read from the state's parquet footers: the state is
    # scanned once and nothing joins it back
    assert len(re.findall(r"Location: .*/hist_state\]", p)) == 1, p
    assert "Join" not in p and "CartesianProduct" not in p


def test_ndv_merge_serves_from_state_not_history(plans):
    """The NDV refresh must never rescan history: every lineitem scan
    in the plan carries the pushed delta cutover (l_shipdate >= —
    the from-scratch register harness is fit once per corpus and
    enters as LITERALS, so no unfiltered lineitem scan may appear),
    the stored registers enter as a parquet source, and the merge
    group-by on bucket is the only keyed exchange (<= 128 register
    rows)."""
    p = plans("ndv_delta_merge")
    assert "ndv_state" in p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    li_scans = [l for l in pushed if "l_shipdate" in l]
    assert li_scans and all(
        "GreaterThanOrEqual" in l for l in li_scans
    ), pushed
    # the full-corpus registers must ride in as a literal/from_json
    # source, never as a second lineitem read
    import re

    owned = re.findall(r"hashpartitioning\((\w+)", p)
    assert owned and all(k.startswith("bucket") for k in owned), owned
    assert "CartesianProduct" not in p


def test_ivf_rebalance_report_scans_layouts_only(plans):
    """The rebalance PROOF must read the two persisted list layouts
    (never re-derive assignments from embeddings at report time —
    the cosine argmax lives in the one-time layout build), fold
    digests with partial-aggregated group-bys, and join only the
    per-list digest frames."""
    p = plans("ivf_rebalance_apply")
    assert "ivf_lists" in p and "ivf_lists_rebalanced" in p
    assert "embeddings.parquet" not in p
    assert "CartesianProduct" not in p
    assert "partial_bitxor" in p or p.count("HashAggregate") >= 4


def test_metrics_report_exchanges_key_on_query_name(plans):
    """Monitoring must scale with batches observed, not data
    processed: every hash exchange in the alarm rollup keys on
    query_name (cardinality = number of streaming queries), the
    lag-run window likewise, and no cartesian stage appears."""
    import re

    p = plans("metrics_backlog_report")
    assert "CartesianProduct" not in p
    owned = re.findall(r"hashpartitioning\((\w+)", p)
    assert owned and all(k.startswith("query_name") for k in owned), owned


def test_groupwise_ndv_registers_partial_aggregate(plans):
    """The group-wise register build must partial-aggregate: each
    partition ships at most m register rows per day to the exchange
    (partial_min below it), the union fold group-by keys on
    bucket/grp only, and no cartesian stage appears — the property
    that keeps the DAU panel one bounded exchange at any traffic."""
    import re

    p = plans("groupwise_ndv_estimate")
    assert "partial_min" in p
    assert "CartesianProduct" not in p
    owned = set(re.findall(r"hashpartitioning\((\w+)", p))
    # register path: grp/bucket exchanges only. The exact-harness
    # side adds _groupingexpression (Spark's name for its inlined
    # date_format group key — still grp semantically) and user_id
    # (the two-phase COUNT DISTINCT's partial-distinct exchange);
    # anything else would mean an unowned shuffle crept in.
    assert "grp" in owned and "bucket" in owned
    assert owned <= {"grp", "bucket", "_groupingexpression", "user_id"}, owned


def test_postings_merge_tokenizes_delta_only(plans):
    """The index refresh must tokenize ONLY the arriving docs: the
    stored postings enter as a parquet source, the from-scratch
    harness enters through the session-cached doc-term index
    (InMemoryTableScan — no second tokenize), and exactly ONE
    Generate (the delta explode) appears in the whole plan."""
    p = plans("postings_delta_merge")
    assert "postings_state" in p
    assert "InMemoryTableScan" in p
    # the live plan tree up to the cached relation: everything past
    # "InMemoryRelation" is the index's one-time build printed for
    # provenance, not executed at refresh time
    live = p.split("InMemoryRelation")[0]
    assert live.count("Generate") == 1, live.count("Generate")
    assert "CartesianProduct" not in p
