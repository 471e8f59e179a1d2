"""Training-set preparation operators: the last mile between a cleaned
corpus and a token stream the trainer reads (reference has no
counterpart — this is the LLM-data extension surface, same family as
operators/dedup.py and operators/text.py).

All operators are pure Column expressions (no Python in the row path)
and oracle-reproducible (hashes via functions.portable_hash64 so DuckDB
computes bit-identical values). The core five:

- ``assign_packs``: greedy token-budget packing of documents into
  fixed-size training sequences ("packs"), SHARDED so no global sort
  exists: docs hash into ``n_shards`` independent streams, each stream
  is packed by a window cumulative sum, and pack boundaries fall at
  budget multiples of the EXCLUSIVE running total (a doc that straddles
  a boundary belongs to the pack where it started — deterministic,
  one-pass, no bin-packing iteration). One shuffle (hash by shard +
  sort by doc id inside); n_shards scales with the cluster, each
  window partition is ~corpus/n_shards.

- ``split_assign``: deterministic train/val/test labels from a hash
  bucket in [0,100) — reproducible membership with exact expected
  proportions, no sampling state, stable under corpus growth (a doc's
  split never depends on other docs).

- ``epoch_expand``: source-level oversampling (mixture weighting by
  integer epochs): each doc is replicated ``epochs(source)`` times with
  an epoch index, via broadcast-joining the tiny weights table and
  exploding a sequence — map-side row generation, no shuffle of the
  corpus at all.

- ``shard_layout``: the deterministic "global shuffle" trainers
  consume: a hash order key scatters ids uniformly, docs are
  hash-partitioned into output shards and position-numbered within
  shard by the key. Deliberately NOT a global row_number (a single
  total-order window serializes onto one reducer); shard files +
  in-shard order is exactly the layout data loaders read.

Plus the edges of the surface: ``split_long_docs`` (over-budget
document segmentation ahead of packing, map-side explode) and
``write_training_shards`` (materializes a layout as one sorted file
per shard directory — the on-disk contract loaders actually read).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.functions import portable_hash64


def _pmod(col: Column, m: int) -> Column:
    return F.pmod(col, F.lit(m))


def assign_packs(
    docs: DataFrame,
    token_count: Column,
    budget: int = 256,
    n_shards: int = 8,
    extra_partition_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, *extra, n_tokens, shard, pack_id, pack_offset): greedy
    packing of documents into ~``budget``-token training sequences
    within ``n_shards`` independent hash shards.

    ``pack_id`` = floor(exclusive-cumsum / budget) over the shard's
    doc-id order; ``pack_offset`` is the doc's token start inside its
    pack. Exactly one exchange (hashpartitioning on shard); the window
    sort is per-shard, so at 100 TB each partition holds corpus/n_shards
    rows and n_shards is sized to the cluster.

    ``extra_partition_cols`` scope packing to finer streams (e.g. the
    train/val/test split label, so no pack ever mixes splits — the
    contamination guarantee a packed eval set needs)."""
    extra = list(extra_partition_cols)
    base = docs.select(
        "doc_id", *extra, token_count.cast("long").alias("n_tokens")
    ).withColumn("shard", _pmod(portable_hash64(F.col("doc_id").cast("string"), 7), n_shards))
    w = (
        Window.partitionBy(*extra, "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # exclusive running total = inclusive window sum minus the row itself
    # (one window pass; lag-based exclusive frames need a second sort).
    cum_excl = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("cum_excl")
    return (
        base.select("doc_id", *extra, "n_tokens", "shard", cum_excl)
        .select(
            "doc_id",
            *extra,
            "n_tokens",
            "shard",
            F.floor(F.col("cum_excl") / budget).alias("pack_id"),
            _pmod(F.col("cum_excl"), budget).alias("pack_offset"),
        )
    )


def assign_packs_bfd(
    docs: DataFrame,
    token_count: Column,
    budget: int = 256,
    n_shards: int = 8,
) -> DataFrame:
    """(doc_id, n_tokens, shard, pack_id, pack_offset): BEST-FIT-
    DECREASING packing — the standard upgrade over :func:`assign_packs`
    first-fit when packing efficiency is tokens-per-dollar at training
    time: within each hash shard, docs are placed largest-first into
    the open pack with the LEAST remaining room that still fits (ties
    to the lowest pack id), opening a new pack when none fits. A doc
    larger than the budget gets a pack of its own (overfull) — BFD
    packs are ATOMIC sequences, unlike assign_packs' continuous
    stream where a doc may straddle a pack boundary. ``pack_offset``
    is the doc's token start inside its pack (its pack's load at
    insertion time).

    BFD is inherently SEQUENTIAL within a packing unit — no window
    trick linearizes "which earlier choice filled which bin". The
    distributable form makes the shard the unit: one exchange groups
    each shard's (doc, tokens) pairs into a sorted array, and the
    whole placement loop runs as ONE in-plan ``aggregate`` fold over
    that array (the ewma_forecast idiom) — no driver collect, no
    per-step shuffle, shards fold in parallel. Each fold step
    evaluates its candidate scan once (the chosen pack id binds
    through a one-element transform, so the argmin subtree is not
    re-evaluated per consumer). Per-shard cost: the candidate scan is
    O(open_packs), but each step also REBUILDS both accumulator
    arrays (concat on the placements, transform on the loads) — the
    fold is O(docs_in_shard^2) copying overall, not
    O(docs x open_packs); array-append is copy-on-write inside an
    aggregate expression. At 100 TB that quadratic term, not executor
    memory, is what sizes n_shards: pick it so docs_in_shard^2 struct
    copies stay cheap (tens of thousands of docs per shard, not
    millions) — a tighter bound than the fit-in-one-executor floor,
    and the reason assign_packs (a pure window) remains the default
    at extreme scale."""
    base = docs.select(
        "doc_id", token_count.cast("long").alias("n_tokens")
    ).withColumn(
        "shard",
        _pmod(portable_hash64(F.col("doc_id").cast("string"), 7), n_shards),
    )
    # decreasing tokens, increasing doc: sort asc on (-tokens, doc)
    per_shard = base.groupBy("shard").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("n_tokens")).alias("negt"),
                    F.col("doc_id").alias("doc"),
                    F.col("n_tokens").alias("nt"),
                )
            )
        ).alias("__docs")
    )
    # the accumulator's doc_id type follows the INPUT id column (string
    # ids pack as well as bigints — the assign_packs contract), so the
    # fold's appended struct and the init cast can never mismatch
    id_t = dict(base.dtypes)["doc_id"]
    out_t = (
        f"array<struct<doc_id:{id_t},n_tokens:bigint,"
        "pack_id:bigint,pack_offset:bigint>>"
    )
    init = F.struct(
        F.array().cast("array<bigint>").alias("loads"),
        F.array().cast(out_t).alias("out"),
    )

    def place(acc, e):
        n = e["nt"]
        cands = F.filter(
            F.transform(
                acc["loads"],
                lambda l, i: F.struct(
                    (F.lit(budget) - l - n).alias("rem"), i.alias("i")
                ),
            ),
            lambda c: c["rem"] >= 0,
        )
        pid = F.coalesce(F.array_min(cands)["i"], F.size(acc["loads"]))
        return F.element_at(
            F.transform(
                F.array(pid),
                lambda p: F.struct(
                    F.when(
                        p == F.size(acc["loads"]),
                        F.concat(acc["loads"], F.array(n)),
                    )
                    .otherwise(
                        F.transform(
                            acc["loads"],
                            lambda l, i: F.when(i == p, l + n).otherwise(l),
                        )
                    )
                    .alias("loads"),
                    F.concat(
                        acc["out"],
                        F.array(
                            F.struct(
                                e["doc"].alias("doc_id"),
                                n.alias("n_tokens"),
                                p.cast("long").alias("pack_id"),
                                F.coalesce(
                                    # try_: a NEW pack's index is one
                                    # past the end — null, offset 0
                                    F.try_element_at(
                                        acc["loads"], (p + 1).cast("int")
                                    ),
                                    F.lit(0).cast("long"),
                                ).alias("pack_offset"),
                            )
                        ),
                    ).alias("out"),
                ),
            ),
            1,
        )

    folded = per_shard.select(
        "shard", F.aggregate("__docs", init, place)["out"].alias("__out")
    )
    return folded.select("shard", F.explode("__out").alias("a")).select(
        F.col("a.doc_id").alias("doc_id"),
        F.col("a.n_tokens").alias("n_tokens"),
        "shard",
        F.col("a.pack_id").alias("pack_id"),
        F.col("a.pack_offset").alias("pack_offset"),
    )


def pack_stats(assignments: DataFrame) -> DataFrame:
    """Per-(shard, pack) utilization rollup over :func:`assign_packs`
    output: doc count and token total. One additional partial-agg
    shuffle on the (shard, pack_id) key."""
    return assignments.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


def mixture_quota_sample(
    docs: DataFrame,
    class_col: str,
    shares: dict[str, float],
) -> DataFrame:
    """Target-mixture sampling — the Pile/Dolma-style mixing step:
    given target domain SHARES, keep the largest corpus whose class
    composition matches them exactly, without oversampling any class.
    T = min over classes of floor(count/share) is the largest feasible
    total; each class keeps its floor(share*T) smallest-hash members
    (deterministic, stable under corpus growth — the same reason the
    dataset split hashes). Classes absent from ``shares`` are dropped
    (share zero).

    Entirely in-plan, no driver collect: class counts are a bounded
    aggregate, the share table and the 1-row T aggregate broadcast,
    and the per-class top-``n_target`` uses the hash PREFILTER +
    bounded window idiom (keep fraction ~8*n_target/count before the
    shuffle), so the per-class sort input is bounded by
    sample size, not corpus size. The oracle applies the identical
    prefilter, so cross-engine equality is exact by construction.

    Returns (doc_id, class_col, n_target) for the kept rows."""
    spark = docs.sparkSession
    share_df = spark.createDataFrame(
        sorted(shares.items()), f"{class_col} string, share double"
    )
    return _quota_sample(docs, class_col, share_df)


def temperature_mix_sample(docs: DataFrame, class_col: str) -> DataFrame:
    """Temperature-smoothed mixture sampling — the multilingual
    rebalancing rule (XLM-R / mT5 style): target share of each class
    proportional to sqrt(count) (temperature alpha = 0.5), so head
    classes are downweighted and tail classes upweighted WITHOUT the
    hard equality of balanced sampling. Shares are derived from the data IN-PLAN (no
    share spec to maintain), then the same largest-feasible-quota
    machinery as :func:`mixture_quota_sample` applies.

    Cross-engine portability: ``sqrt`` is correctly rounded in IEEE
    754, bit-identical in Spark and DuckDB; the weight is still
    dround(6)-quantized before the share division, and the share
    itself too. The share denominator sums DECIMAL-quantized addends
    (exact, order-independent — the gold-rollup idiom)."""
    from multichannel_commerce_data_pipeline_spark.functions import dround

    counts = docs.groupBy(class_col).agg(F.count(F.lit(1)).alias("cnt"))
    weighted = counts.select(
        class_col,
        "cnt",
        dround(F.sqrt(F.col("cnt")), 6).cast("decimal(28,6)").alias("__w"),
    )
    tot = weighted.agg(F.sum("__w").alias("__tot"))
    share_df = weighted.join(F.broadcast(tot)).select(
        class_col,
        "cnt",
        dround(
            F.col("__w").cast("double") / F.col("__tot").cast("double"), 6
        ).alias("share"),
    )
    # share_df carries cnt so the quota tail does not re-aggregate the
    # corpus (no DataFrame CSE: a second groupBy would be a second scan)
    return _quota_sample(docs, class_col, share_df)


def _quota_sample(docs: DataFrame, class_col: str, share_df: DataFrame) -> DataFrame:
    """Shared quota-sampling tail: feasible total T = min
    floor(count/share), per-class quota floor(share*T), smallest-hash
    membership behind the prefilter-bounded window (see
    :func:`mixture_quota_sample` for the full scale argument).
    ``share_df`` is (class, share) or (class, cnt, share) — the class
    counts are joined in when not already supplied. Membership hashes
    ``doc_id`` with seed 29 behind an 8x prefilter."""
    if "cnt" in share_df.columns:
        cs = share_df
    else:
        counts = docs.groupBy(class_col).agg(F.count(F.lit(1)).alias("cnt"))
        cs = counts.join(F.broadcast(share_df), class_col)
    # share-0 classes leave the feasibility aggregate BEFORE the
    # division: under heavy skew an extreme-tail class's dround(6)-
    # quantized share rounds to exactly 0.0, and floor(cnt/0) is an
    # engine-divergent Infinity (Spark saturates the long cast, DuckDB
    # errors on CAST(inf AS BIGINT) — ADVICE r11). A share-0 class
    # contributes quota floor(0*T) = 0 anyway, so dropping it changes
    # no output row; the oracles apply the identical filter.
    cs = cs.filter(F.col("share") > 0)
    t = cs.agg(
        F.min(F.floor(F.col("cnt") / F.col("share")))
        .cast("long")
        .alias("t_max")
    )
    quota = cs.join(F.broadcast(t)).select(
        class_col,
        "cnt",
        F.floor(F.col("share") * F.col("t_max")).cast("long").alias("n_target"),
    )
    keyed = docs.select("doc_id", class_col).join(F.broadcast(quota), class_col)
    return smallest_hash_topn(keyed, class_col, "doc_id", 29, 8).select(
        "doc_id", class_col, "n_target"
    )


def smallest_hash_topn(
    keyed: DataFrame,
    class_col: str,
    id_col: str,
    seed: int,
    oversample: int,
) -> DataFrame:
    """The shared tail of every deterministic smallest-hash sampler
    (balanced / quota-mixture / domain-cap — one idiom, one
    implementation): ``keyed`` carries (id, class, ``cnt`` = class
    size, ``n_target`` = rows to keep, ...). A map-side hash prefilter
    keeps fraction min(1, oversample*n_target/cnt) of each class
    BEFORE the shuffle — the expected window input is ~oversample*
    n_target rows per class regardless of class size — then the
    per-class (hash, id) window keeps the ``n_target`` smallest.
    Single-sourced so the 2^60 hash normalization and the (h, id)
    tie-break can never drift between the samplers; every caller's
    oracle applies the identical prefilter, so cross-engine equality
    is exact by construction. Returns the surviving rows with the
    helper's temp columns dropped."""
    h = portable_hash64(F.col(id_col).cast("string"), seed)
    kept = keyed.withColumn("__h", h).filter(
        F.col("__h") / F.lit(float(1 << 60))
        < F.least(
            F.lit(1.0),
            (F.lit(float(oversample)) * F.col("n_target")) / F.col("cnt"),
        )
    )
    w = Window.partitionBy(class_col).orderBy("__h", id_col)
    return (
        kept.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("n_target"))
        .drop("__h", "__rk")
    )


def domain_cap_sample(
    docs: DataFrame,
    domain_col: str,
    cap: int,
) -> DataFrame:
    """Per-domain document cap — the C4/RefinedWeb-style URL-level
    curation pass applied between dedup and mixing: keep at MOST
    ``cap`` documents per registered domain, chosen deterministically
    as the domain's smallest-hash members (stable under corpus growth
    — a kept doc stays kept when the crawl grows, the same reason the
    dataset split hashes). Distinct from both sampling siblings:
    :func:`mixture_quota_sample` fills proportional quotas and
    balanced sampling fills an EQUAL quota, but a cap is one-sided —
    domains under the cap pass through whole (never oversampled,
    never trimmed), only the head of the domain distribution (link
    farms, mirrors, mass-produced subdomains) is flattened.

    Scale shape — the hash-prefilter bounded-window idiom: per-domain
    counts are one bounded aggregate (broadcast back), a map-side
    prefilter keeps fraction ``min(1, 8*cap/count)`` of each domain
    BEFORE the shuffle (``doc_id`` hashed with seed 43), so the
    per-domain window sorts an expected ``8*cap`` rows regardless of
    domain size — the million-page mirror never funnels through one
    sort. The oracle
    applies the identical prefilter, so cross-engine equality is
    exact by construction (the Binomial shortfall tail at 8x
    oversampling is shared, not approximated away).

    Returns (doc_id, domain_col, domain_docs) for the kept rows —
    ``domain_docs`` is the domain's pre-cap size, so the caller can
    report how much the cap actually cut."""
    counts = docs.groupBy(domain_col).agg(F.count(F.lit(1)).alias("domain_docs"))
    keyed = (
        docs.select("doc_id", domain_col)
        .join(F.broadcast(counts), domain_col)
        .withColumn("cnt", F.col("domain_docs"))
        .withColumn("n_target", F.lit(cap))
    )
    return smallest_hash_topn(keyed, domain_col, "doc_id", 43, 8).select(
        "doc_id", domain_col, "domain_docs"
    )


def split_assign(docs: DataFrame) -> DataFrame:
    """(doc_id, bucket, split): deterministic 80/10/10 dataset split.
    The hash bucket is uniform in [0,100); labels are train/val/test by
    percentile cutoffs. Membership is a pure function of (id, seed 13)
    — re-running on a grown corpus never reassigns an old doc."""
    bucket = _pmod(portable_hash64(F.col("doc_id").cast("string"), 13), 100)
    return docs.select("doc_id").select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def epoch_expand(docs: DataFrame, epochs: dict[str, int]) -> DataFrame:
    """(doc_id, source, epoch): mixture oversampling — replicate each
    doc ``epochs[source]`` times (once for unlisted sources) with a
    1-based epoch index. The weights table is a literal
    broadcast join and the replication is explode(sequence(..)), so the
    expansion happens map-side inside the scan stage: zero shuffles,
    output rows = sum over sources of n_docs x epochs."""
    spark = docs.sparkSession
    wt = F.broadcast(
        spark.createDataFrame(
            [(s, int(e)) for s, e in sorted(epochs.items())], "source string, __epochs int"
        )
    )
    return (
        docs.select("doc_id", "source")
        .join(wt, "source", "left")
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(F.lit(1), F.coalesce(F.col("__epochs"), F.lit(1)))
            ).alias("epoch"),
        )
    )


def shard_layout(
    docs: DataFrame,
    n_shards: int = 16,
) -> DataFrame:
    """(doc_id, shard, pos): deterministic training-order shuffle. The
    md5-derived order key scatters ids uniformly; docs land in
    ``n_shards`` output shards (hash of the order key, so shards are
    also uniform) and are position-numbered within the shard by key
    order. One exchange + per-shard sort; no single-reducer global
    window. Trainers read shards round-robin to see a uniform random
    permutation."""
    key = portable_hash64(F.col("doc_id").cast("string"), 29)
    base = docs.select("doc_id", key.alias("__key")).withColumn(
        "shard", _pmod(F.col("__key"), n_shards)
    )
    w = Window.partitionBy("shard").orderBy("__key", "doc_id")
    # long, not int: a shard's row count at 100 TB legitimately exceeds 2^31
    return base.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("pos")
    )


def split_long_docs(docs: DataFrame, token_count: Column) -> DataFrame:
    """(doc_id, seg_id, seg_tokens): documents longer than the 256-token
    pack budget split into ceil(n/256) segments — every segment but the
    last carries exactly 256 tokens, the last carries the
    remainder (zero-token docs keep one empty segment so no document
    silently vanishes). This is the step real pretraining pipelines run
    BEFORE packing: without it a 100k-token document either truncates
    or forces a pack larger than the context window.

    explode(sequence(...)) generates segments map-side inside the scan
    stage — zero shuffles, and the downstream packer sees only
    bounded-size rows."""
    base = docs.select("doc_id", token_count.cast("long").alias("n_tokens"))
    n_segs = F.greatest(F.ceil(F.col("n_tokens") / F.lit(256.0)), F.lit(1))
    seg = F.explode(F.sequence(F.lit(0).cast("long"), n_segs - 1)).alias("seg_id")
    return base.select("doc_id", "n_tokens", seg).select(
        "doc_id",
        "seg_id",
        F.least(
            F.lit(256).cast("long"),
            F.col("n_tokens") - F.col("seg_id") * 256,
        ).alias("seg_tokens"),
    )


def write_training_shards(layout: DataFrame, out_dir: str) -> None:
    """Materialize a :func:`shard_layout` (or :func:`assign_packs`)
    frame as the directory layout data loaders read: one partition
    directory per shard, rows sorted by their in-shard position within
    each file. ``partitionBy`` routes rows to shard directories;
    ``sortWithinPartitions("shard", pos)`` orders them before the
    writer streams, so a loader doing a straight sequential read of a
    shard file sees training order without any sort of its own.
    repartition on shard first so each shard directory is written by
    exactly one task — one file per shard, the layout contract.

    The sort leads with the partition column because a dynamic-partition
    writer REQUIRES its input ordered on the partition columns and
    inserts its own Sort above any input that is not: sorting by pos
    alone would leave the in-file-order contract riding on that
    inserted sort being stable, an implementation detail (spill merges
    need not preserve it). Leading with shard satisfies the writer's
    required ordering directly — no extra sort is inserted and
    (shard, pos) order is explicit in the plan."""
    sort_col = "pos" if "pos" in layout.columns else "pack_id"
    (
        layout.repartition("shard")
        .sortWithinPartitions("shard", sort_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )


def bpe_train(
    words: DataFrame,
    word_col: str,
    cnt_col: str,
    n_merges: int,
) -> list[tuple[int, str, str]]:
    """Train ``n_merges`` BPE merges (Sennrich et al. 2016) over a
    (word, count) vocabulary frame, entirely in-engine: each round
    counts adjacent symbol pairs weighted by word frequency (one
    bounded aggregate — pair keys are vocabulary-sized, fully
    partial-aggregated), takes the most frequent pair (ties broken
    lexicographically), and applies the merge greedily left-to-right
    to every word. Returns the learned merge list
    ``[(step, "a b", "ab"), …]`` — the model, like IVF centroids, is
    driver-sized by construction.

    Scale shape: the corpus is reduced ONCE to the distinct-pre-token
    frequency table (the standard trainer state — bounded by
    vocabulary, not corpus size), so each merge round costs one
    aggregate over ~vocab rows regardless of corpus bytes. Words are
    represented as DOUBLE-space-separated symbol strings
    (``"  l  o  w  "``) and a merge is a single literal
    ``replace(" a  b " → " ab ")``: the pattern consumes only the
    INNER half of each two-space boundary and the replacement restores
    it, so consecutive overlapping occurrences (``a a a a`` under merge
    ``(a, a)``) keep their shared boundary and the engine's
    left-to-right non-overlapping replace IS greedy BPE application —
    identical in any SQL engine, so every round is
    oracle-reproducible. (A single-space form is NOT greedy: the match
    consumes the shared space, so ``a a a a`` became ``aa a a`` —
    caught by the hypothesis test against the pure-Python trainer.)

    Each round's state is re-persisted and the previous round's cache
    dropped: the plan on top of the cache stays one replace deep, so
    round cost is flat (the dedup_clusters plan-growth lesson)."""
    from pyspark import StorageLevel

    sep = F.concat(
        F.lit("  "),
        F.concat_ws(
            "  ", F.regexp_extract_all(F.col(word_col), F.lit("."), 0)
        ),
        F.lit("  "),
    )
    state = words.select(sep.alias("ws"), F.col(cnt_col).alias("cnt")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    state.count()
    merges: list[tuple[int, str, str]] = []
    try:
        for step in range(n_merges):
            syms = state.select(
                F.split(F.trim("ws"), "  ").alias("sy"), "cnt"
            )
            n1 = F.greatest(F.size("sy") - F.lit(1), F.lit(0))
            pairs = syms.select(
                F.explode(
                    F.zip_with(
                        F.slice("sy", 1, n1),
                        F.slice("sy", 2, n1),
                        lambda a, b: F.concat(a, F.lit(" "), b),
                    )
                ).alias("pr"),
                "cnt",
            )
            best = (
                pairs.groupBy("pr")
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.desc("c"), F.col("pr"))
                .limit(1)
                .collect()
            )
            if not best:
                break
            pair = best[0]["pr"]
            merged = pair.replace(" ", "")
            merges.append((step, pair, merged))
            pat = " " + pair.replace(" ", "  ") + " "
            nxt = state.select(
                F.replace(
                    F.col("ws"), F.lit(pat), F.lit(f" {merged} ")
                ).alias("ws"),
                "cnt",
            ).persist(StorageLevel.MEMORY_AND_DISK)
            nxt.count()
            state.unpersist()
            state = nxt
    finally:
        state.unpersist()
    return merges


def token_budget_select(scored: DataFrame, budget: int) -> DataFrame:
    """Quality-ranked corpus selection under a token budget — keep the
    highest-quality documents whose cumulative token count fits in
    ``budget`` (the FineWeb-style "train on the best X tokens" gate,
    with the budget expressed in tokens rather than a doc percentile).
    Semantics: order docs by (quality DESC, doc ASC) and keep the
    maximal prefix whose inclusive token sum is <= budget.

    The naive form is a GLOBAL running sum — one total-order window,
    every row through one reducer, dead at corpus scale. This is the
    two-phase threshold-selection shape instead:

      1. docs histogram into quality buckets (floor(q*1000): bucketing
         is Spark-internal, so only monotonicity in q matters, and the
         bucket count is bounded by the score's codomain, not the
         corpus); the per-bucket token totals are a bounded aggregate
         (partial-merged map-side) collected like any fitted model.
      2. walking the histogram best-first on the driver yields the
         THRESHOLD bucket: everything above it is kept by a map-side
         filter (no shuffle, no ordering), everything below dropped,
         and only the one boundary bucket — ~1/buckets of the corpus —
         pays an exact (q DESC, doc) running-sum window for the
         residual budget. At extreme scale the fit RECURSES on the
         boundary bucket with 1000x-finer buckets (up to
         ``max_levels``), so the windowed remainder shrinks
         geometrically — each level's histogram is still a bounded
         partial-merged aggregate, never a sort. Recursion stops early
         when the boundary bucket's rows all share ONE score (exact
         min == max probe riding the same histogram pass — identical
         scores are unrankable except by doc, the irreducible worst
         case; a single bucket at the current scale alone would not
         prove that).

    Ties at the budget edge resolve identically to the oracle's
    ORDER BY q DESC, doc: the boundary window orders by exactly that.
    Returns the kept (doc, q, n_tokens) rows; column names preserved.
    """
    return token_budget_apply(scored, token_budget_fit(scored, budget))


_Q_SCALE = 1000  # buckets per fit level; each level refines 1000x

# fit = ((scale, threshold_bucket) per level, residual_tokens) or None
BudgetFit = tuple[tuple[tuple[int, int], ...], int] | None


def token_budget_fit(
    scored: DataFrame,
    budget: int,
    max_levels: int = 2,
    recurse_min_tokens: int = 1_000_000,
) -> BudgetFit:
    """Phase 1: the fitted threshold chain — walk the bounded
    quality-bucket histogram best-first; while the boundary bucket is
    ambiguous and levels remain, re-histogram ONLY the boundary
    bucket's rows at 1000x finer buckets against the residual budget.
    Returns ``((scale, threshold) per level, residual)`` or None when
    the whole corpus fits. A corpus statistic like the BM25
    (N, avgdl, df) triple: it depends only on (corpus version,
    budget), so callers cache it per sf_dir and warm invocations skip
    the histogram scans entirely.

    ``recurse_min_tokens`` gates the recursion on the boundary
    bucket's token mass: each extra level costs one more pass of the
    scoring subtree (filtered to the boundary bucket — persist
    ``scored`` first at real scale), which only pays off when the
    bucket is big enough that a single-partition window over it would
    hurt. Below the gate, one sorted partition of < a million tokens
    is trivially cheap and the fit stops at level 1."""
    levels: list[tuple[int, int]] = []
    frame = scored
    scale = _Q_SCALE
    residual = budget
    for _ in range(max_levels):
        hist = (
            frame.select(
                _q_bucket(scale).alias("__qb"), F.col("q"), F.col("n_tokens")
            )
            .groupBy("__qb")
            .agg(
                F.sum("n_tokens").alias("__toks"),
                F.min("q").alias("__qmin"),
                F.max("q").alias("__qmax"),
            )
            .collect()
        )
        acc = 0
        boundary = None
        for row in sorted(hist, key=lambda r: -r["__qb"]):
            if acc + row["__toks"] <= residual:
                acc += row["__toks"]
            else:
                boundary = row
                break
        if boundary is None:
            # only reachable at level 0 (a deeper level's frame is a
            # boundary bucket, whose total exceeds its residual by
            # definition): the whole corpus fits the budget
            return None
        levels.append((scale, boundary["__qb"]))
        residual -= acc
        if boundary["__qmin"] == boundary["__qmax"]:
            # every boundary row carries the SAME score — unrankable
            # except by doc, so no depth of recursion can split the
            # bucket. min/max ride the same partial-merged histogram
            # pass for free; a single bucket at the current scale
            # alone would NOT prove this (scores differing by less
            # than 1/scale still split one level deeper — ADVICE r11)
            break
        if boundary["__toks"] <= recurse_min_tokens:
            break  # boundary bucket small enough to window directly
        frame = frame.filter(_q_bucket(scale) == boundary["__qb"])
        scale *= _Q_SCALE
    return tuple(levels), residual


def token_budget_apply(scored: DataFrame, fit: BudgetFit) -> DataFrame:
    """Phase 2: apply a fitted threshold chain in ONE pass — a
    map-side filter drops everything strictly below the chain (the
    corpus majority never shuffles), then a window PARTITIONED BY the
    full bucket chain computes within-bucket running sums and the
    final predicate keeps above-chain buckets whole and truncates the
    innermost boundary bucket at the residual budget. Each extra fit
    level makes the window partitioning strictly FINER, so recursion
    only ever shrinks the largest sorted partition. No union (a union
    would re-execute the scoring subtree once per branch — Spark has
    no DataFrame-level CSE), no unpartitioned window."""
    if fit is None:
        return scored  # whole corpus fits: no boundary work
    levels, residual = fit
    doc_col = [c for c in scored.columns if c not in ("q", "n_tokens")][0]
    frame = scored
    bcols: list[str] = []
    prefix_eq = F.lit(True)  # all outer levels sit AT their threshold
    cand = F.lit(True)
    for i, (scale, thr) in enumerate(levels):
        b = f"__qb{i}"
        frame = frame.withColumn(b, _q_bucket(scale))
        # at each level, rows on the boundary of every outer level must
        # meet this level's threshold; rows above some outer threshold
        # are already decided (kept) and skip the inner conditions
        cand = cand & (~prefix_eq | (F.col(b) >= F.lit(thr)))
        prefix_eq = prefix_eq & (F.col(b) == F.lit(thr))
        bcols.append(b)
    candidates = frame.filter(cand)
    w = Window.partitionBy(*bcols).orderBy(F.desc("q"), doc_col)
    return (
        candidates.withColumn("__cum", F.sum("n_tokens").over(w))
        .filter(~prefix_eq | (F.col("__cum") <= residual))
        .select(*scored.columns)
    )


def _q_bucket(scale: int):
    """floor(q*scale): Spark-internal bucketing — only monotonicity in
    q matters (the oracle never buckets), and the bucket count is
    bounded by the score's codomain times the level's scale, not the
    corpus."""
    return F.floor(F.col("q") * scale).cast("long")


def weighted_sample_topn(
    keyed: DataFrame,
    stratum_col: str,
    id_col: str,
    seed: int,
    oversample: int,
    check_fill: bool = True,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement per stratum
    — sequential Poisson sampling (Ohlsson 1998, the approximation of
    strict probability-proportional-to-size sampling used by official
    statistics): each row draws a uniform u from the portable 60-bit
    md5 hash of its id and ranks by xi = u / weight; the ``n_target``
    SMALLEST xi per stratum are the sample. Heavier rows draw
    stochastically smaller keys, so inclusion probability is
    ~proportional to weight, membership is stable under corpus growth
    (a new row changes nothing about existing keys), and — unlike the
    classic Efraimidis-Spirakis exponential key -ln(u)/w — xi is ONE
    IEEE division of two deterministic doubles, so both engines
    compute it bit-identically (no libm transcendental whose last ulp
    could flip a rank).

    Scale shape mirrors smallest_hash_topn: ``keyed`` carries
    ``weight`` (exact DECIMAL so the stratum total is association-
    free) and ``wsum``/``n_target``/``n_rows`` from a broadcast
    per-stratum agg; a map-side prefilter keeps only
    xi < oversample*n_target/wsum — expected pass count is
    oversample*n_target per stratum (sum of min(1, c*w_i) <= c*wsum)
    — so the per-stratum sort sees sample-sized input, not
    corpus-sized. A stratum with n_rows <= n_target bypasses the
    prefilter entirely (ADVICE r15): its correct without-replacement
    sample is the WHOLE stratum, and for such tiny strata no finite
    oversample can guarantee every light row passes the cut (the cut
    scales with 1/wsum, which one heavy row can collapse). Callers'
    oracles apply the identical prefilter + bypass: cross-engine
    equality is exact by construction."""
    u = portable_hash64(F.col(id_col).cast("string"), seed) / F.lit(
        float(1 << 60)
    )
    xi = u / F.col("weight").cast("double")
    cut = (F.lit(float(oversample)) * F.col("n_target")) / F.col(
        "wsum"
    ).cast("double")
    kept = keyed.withColumn("__xi", xi).filter(
        (F.col("__xi") < cut) | (F.col("n_rows") <= F.col("n_target"))
    )
    w = Window.partitionBy(stratum_col).orderBy("__xi", id_col)
    res = (
        kept.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("n_target"))
        .withColumnRenamed("__xi", "xi")
        .withColumnRenamed("__rk", "sample_rank")
    )
    if check_fill:
        # Underfill tripwire (ADVICE r15): the xi prefilter only
        # GUARANTEES ~oversample*n_target expected survivors; if the
        # stratum's weight mass concentrates on few rows, fewer than
        # min(n_target, stratum size) rows can pass the cut and the
        # sample comes back silently short — and since callers'
        # oracles apply the identical prefilter, the driver row stays
        # green on a short sample. Fail loudly instead: compare
        # per-stratum kept counts against min(n_target, stratum
        # rows). Cost is one column-pruned audit scan of ``keyed``
        # (stratum + n_target only) plus a recount of the
        # sample-sized result, collected bounded by the stratum
        # cardinality; pass check_fill=False on hot paths that have
        # already proven fill for this corpus. The fix for a tripped
        # stratum is a larger ``oversample`` — raising it only
        # loosens the cut, so refilling never changes kept members'
        # ranks (membership stability property, tested).
        expect = keyed.groupBy(stratum_col).agg(
            F.count("*").alias("__n_rows"),
            F.max("n_target").alias("__n_target"),
        )
        got = res.groupBy(stratum_col).agg(F.count("*").alias("__kept"))
        short = [
            (r[stratum_col], int(r["__kept"] or 0), min(int(r["__n_rows"]), int(r["__n_target"])))
            for r in expect.join(got, stratum_col, "left").collect()
            if int(r["__kept"] or 0) < min(int(r["__n_rows"]), int(r["__n_target"]))
        ]
        if short:
            raise RuntimeError(
                "weighted_sample_topn underfilled strata (kept < "
                "min(n_target, stratum size)) — raise `oversample`: "
                f"{short}"
            )
    return res
