"""Deduplication operators — exact, n-gram Jaccard, MinHash+LSH,
SimHash (SURVEY.md §2.10 X1/X2; BASELINE north star).

Design for 100 TB:
  - exact dedup: hash group-by on the fingerprint — one shuffle, fully
    partial-aggregated.
  - near-dup: never all-pairs. The LSH path explodes each doc into a few
    (band, band_hash) keys and self-joins on those keys, so candidate
    generation scales with collision count, not n². The exact Jaccard
    verification runs only on candidates.
  - hashes are pure Column expressions; the portable variants use
    md5-derived integers so a DuckDB oracle reproduces them exactly,
    while the fast path uses xxhash64 (JVM intrinsic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.functions import (
    dround,
    memo_cols,
    portable_hash64,
)
from multichannel_commerce_data_pipeline_spark.operators.text import tokens

# Signature shapes the DuckDB oracles (queries/dedup.py) render too:
# MinHash keeps 16 slots in 8 bands of 2; SimHash is 16 bits in 4 bands
# of 4, and a Hamming bound below the band count guarantees (pigeonhole)
# that every pair within it shares a band.
MINHASH_K, MINHASH_BANDS = 16, 8
SIMHASH_BITS, SIMHASH_BANDS, SIMHASH_MAX_HAMMING = 16, 4, 3


def exact_dedup(df: DataFrame, keys: list[str], tiebreak: str) -> DataFrame:
    """Keep exactly one row per key combination — the row with the
    smallest ``tiebreak`` value (ties broken by the remaining columns,
    lexicographically), so the choice is deterministic — unlike
    dropDuplicates, whose survivor depends on physical order.

    Survivor selection is ``min(struct(tiebreak, rest))`` through a
    two-phase hash aggregate, not a keyed row_number window: partial
    aggregation collapses every mapper's copies of a key to ONE
    candidate before the shuffle, so the 100 TB worst case — one
    boilerplate document duplicated a billion times, all copies
    hashing to a single reducer — dies map-side. Same exchange count
    as the window form (one hash partitioning on the keys), pinned for
    the composed pipeline in tests/test_plans.py."""
    others = [c for c in df.columns if c not in keys and c != tiebreak]
    packed = F.struct(tiebreak, *others)
    surv = df.groupBy(*keys).agg(F.min(packed).alias("__s"))
    return surv.select(
        *[
            F.col(f"__s.{c}").alias(c) if c not in keys else F.col(c)
            for c in df.columns
        ]
    )


def passage_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Passage-level exact dedup — the distributable form of
    exact-substring training-data dedup (Lee et al. 2022,
    arXiv:2107.06499, which uses a suffix array; suffix arrays don't
    shard, fixed-width passages do). Each document is cut into
    non-overlapping 10-word passages; only the globally
    FIRST occurrence of each distinct passage (min ``id_col``, then min
    position) survives, and every document is rebuilt from its
    surviving passages. Removes the boilerplate/mirror passages that
    doc-level dedup can never see.

    100 TB shape — the duplicate decision never shuffles text:
      1. a narrow ``(doc, pidx, md5(passage))`` frame is projected
         map-side (the passage string itself stays in the scan stage);
      2. the survivor per digest is ``min(struct(doc, pidx))`` via a
         hash aggregate, NOT a row_number window: partial aggregation
         reduces every mapper's copies of a digest to ONE candidate
         before the shuffle, so a boilerplate passage repeated a
         billion times costs each mapper one row instead of sending
         all copies to a single straggler reducer (the skew case a
         keyed window cannot partial-aggregate away), and the shuffle
         carries ~40-byte rows, not kilobyte passages;
      3. surviving indices fold per doc (second narrow shuffle) and
         join back to the original row on the id, where the cleaned
         text is rebuilt map-side by re-slicing the word array.
    md5 stands in for the passage string (collision odds ~2^-128 per
    pair); the DuckDB oracle partitions on the passage string itself —
    identical semantics absent a collision (struct comparison is
    lexicographic, so min(struct) picks exactly row_number's first).
    A document whose every passage first appeared elsewhere survives
    with empty text, so the operator is total over the corpus.

    Returns (id_col, n_passages, n_kept, n_dropped, clean_text).
    """
    w_words = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col).alias("doc"), w_words.alias("__ws"))
    n_passages = F.ceil(F.size("__ws") / F.lit(10)).cast("long")

    def passage_at(k):
        return F.concat_ws(" ", F.slice(F.col("__ws"), k * 10 + 1, 10))

    narrow = base.select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_passages.cast("int") - 1),
                lambda k: F.md5(passage_at(k)),
            )
        ).alias("pidx", "pdigest"),
    )
    survivors = narrow.groupBy("pdigest").agg(
        F.min(F.struct("doc", "pidx")).alias("__s")
    )
    kept_idx = (
        survivors.select(F.col("__s.doc").alias("doc"), F.col("__s.pidx").alias("pidx"))
        .groupBy("doc")
        .agg(F.sort_array(F.collect_list("pidx")).alias("__kept"))
    )
    kept = F.coalesce(F.col("__kept"), F.array().cast("array<int>"))
    return (
        base.join(kept_idx, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            n_passages.alias("n_passages"),
            F.size(kept).cast("long").alias("n_kept"),
            (n_passages - F.size(kept)).cast("long").alias("n_dropped"),
            F.array_join(
                F.transform(kept, passage_at), " "
            ).alias("clean_text"),
        )
    )


def boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    line_words: int = 10,
    df_threshold: int = 2,
) -> DataFrame:
    """Corpus-frequency line-level boilerplate removal — the C4 /
    CCNet-style curation pass (Raffel et al. 2020 §2.2; Wenzek et al.
    2020 §4.1): a line that recurs verbatim across MANY documents (nav
    bars, cookie banners, boilerplate headers) is removed from EVERY
    document once its corpus-wide document frequency exceeds
    ``df_threshold``. Distinct from all three dedup forms already in
    the family: the unit is the line, the signal is document frequency
    (each document counts once no matter how often it repeats the line
    internally), and there is NO first-occurrence survivor — over the
    threshold, the line dies everywhere.

    Lines here are non-overlapping ``line_words``-word chunks — the
    same synthetic-corpus convention :func:`passage_dedup` established
    (the driver's documents carry no newline structure); on real text
    split on ``\\n`` first and the rest of the pipeline is unchanged.

    100 TB shape — the same digests-not-text discipline as
    :func:`substring_grams`:
      1. a narrow ``(doc, lidx, ldigest)`` frame is projected map-side
         (``posexplode_outer`` + null filter — never a bare explode,
         whose InferFiltersFromGenerate inlining re-evaluates the
         window expression serially inside the scan; the r7 lesson);
         line TEXT never leaves the scan stage, only its md5 (~40-byte
         shuffle rows).
      2. document frequency needs NO distinct exchange: a document is
         ONE input row, so within-doc dedup is ``array_distinct`` over
         its digest array BEFORE the explode — each doc votes once per
         distinct line entirely map-side (a nav bar repeated on every
         page of one doc collapses before anything shuffles), and df
         is then a single partial-merged ``count`` per digest.
      3. the over-threshold digest set is tiny by construction
         (boilerplate is the head of the df distribution), so the
         removal join is a LEFT ANTI that AQE converts to a broadcast
         hash anti-join: the corpus-sized line frame is cut map-side
         and never shuffles for the removal.
      4. surviving line indices fold per doc (one narrow shuffle) and
         join back to the words frame on the id, where clean text is
         rebuilt map-side by re-slicing the word array — line text
         never shuffles at any stage.

    Returns (id_col, n_lines, n_kept, n_removed, clean_text); total
    over the corpus — a document whose every line is boilerplate
    survives with empty text (dropped words, never dropped rows).

    The split+md5 subtree feeds THREE consumers (the index frame, the
    df votes, the final text rebuild) in separate lineages, and Spark
    has no DataFrame-level CSE — that is an accepted 2x map-side
    digest recompute plus one extra scan: every repeat stays inside
    its own scan stage and never shuffles, and at corpus scale caching
    the text-plus-word-arrays frame usually costs more memory than the
    repeated narrow scan costs CPU.
    """
    base = df.select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("__ws")
    )
    n_lines = F.ceil(F.size("__ws") / F.lit(line_words)).cast("long")

    def line_at(k):
        return F.concat_ws(
            " ", F.slice(F.col("__ws"), k * line_words + 1, line_words)
        )

    base = base.withColumn(
        "__digs",
        F.when(
            n_lines > 0,
            F.transform(
                F.sequence(F.lit(0), (n_lines - 1).cast("int")),
                lambda k: F.md5(line_at(k)),
            ),
        ),
    )
    narrow = (
        base.select(
            "doc", F.posexplode_outer("__digs").alias("lidx", "ldigest")
        )
        .filter(F.col("ldigest").isNotNull())
    )
    doc_votes = (
        base.select(
            F.explode_outer(F.array_distinct("__digs")).alias("ldigest")
        )
        .filter(F.col("ldigest").isNotNull())
    )
    dfreq = doc_votes.groupBy("ldigest").agg(F.count(F.lit(1)).alias("__df"))
    hot = dfreq.filter(F.col("__df") > df_threshold).select("ldigest")
    kept_idx = (
        narrow.join(hot, "ldigest", "left_anti")
        .groupBy("doc")
        .agg(F.sort_array(F.collect_list("lidx")).alias("__kept"))
    )
    kept = F.coalesce(F.col("__kept"), F.array().cast("array<int>"))
    return base.join(kept_idx, "doc", "left").select(
        F.col("doc").alias(id_col),
        n_lines.alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        (n_lines - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(F.transform(kept, line_at), " ").alias("clean_text"),
    )


def boilerplate_cut_with_sketch(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cells: list[int],
    w: int = 64,
    d: int = 3,
    seed: int = 131,
) -> DataFrame:
    """The APPLY half of sketch-backed boilerplate removal: cut every
    10-word line whose ESTIMATED corpus document-frequency (a Count-Min
    grid, e.g. the one ``streaming.jobs.stream_line_df_sketch``
    maintains) exceeds 2 — the same kill-everywhere semantics as
    :func:`boilerplate_lines`, but thresholding the sketch estimate
    instead of an exact df, so the decision needs only the d*w-cell
    grid, never a corpus-wide aggregate. est >= exact always, so the
    cut is CONSERVATIVE: it may remove a few extra cold lines that
    collide with hot ones, and never misses a hot line at the same
    threshold — the safe direction for boilerplate.

    ``cells`` is the grid flattened to a plain list indexed
    ``j*w + bucket`` (missing cells 0) — a bounded model collect, like
    a fitted codebook. It enters the plan as ONE foldable
    ``from_json`` literal (one py4j call, one literal node — the
    bloom.py lesson), so the whole operator is a single map-side
    projection: per line, one md5 + d Kirsch-Mitzenmacher probes into
    the broadcast-free literal, then the doc is rebuilt from its
    surviving lines. ZERO shuffles at any scale — exactly what a
    per-micro-batch streaming apply wants. The digest binds once per
    line through a one-element-array ``exists`` so the md5 is not
    re-evaluated per probe.

    Returns (id_col, n_lines, n_kept, n_removed, clean_text), total
    over the input — same contract as :func:`boilerplate_lines`."""
    import json

    from multichannel_commerce_data_pipeline_spark.operators.bloom import (
        _positions,
    )

    cells_lit = F.from_json(
        F.lit(json.dumps([int(c) for c in cells])), "array<bigint>"
    )
    base = df.select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("__ws")
    )
    n_lines = F.ceil(F.size("__ws") / F.lit(10)).cast("long")

    def line_at(k):
        return F.concat_ws(" ", F.slice(F.col("__ws"), k * 10 + 1, 10))

    def est_df(dig):
        pos = _positions(dig, w, d, seed)
        return F.least(
            *[
                F.element_at(cells_lit, (F.lit(j * w) + p + 1).cast("int"))
                for j, p in enumerate(pos)
            ]
        )

    def line_survives(k):
        return F.exists(
            F.array(F.md5(line_at(k))),
            lambda dig: F.coalesce(est_df(dig), F.lit(0)) <= F.lit(2),
        )

    kept = F.when(
        n_lines > 0,
        F.filter(
            F.sequence(F.lit(0), (n_lines - 1).cast("int")), line_survives
        ),
    ).otherwise(F.array().cast("array<int>"))
    return base.select(
        F.col("doc").alias(id_col),
        n_lines.alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        (n_lines - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(F.transform(kept, line_at), " ").alias("clean_text"),
    )


def shingles(toks_col, n: int = 3):
    """Distinct word n-gram shingles from a *materialized* token-array
    column.

    Takes a column reference (not the raw text) on purpose: embedding
    the ``regexp_extract_all`` tokenizer expression here would splice it
    into the ``transform`` lambda and the ``when`` guard, and Spark
    re-evaluates it at every reference — measured ~2× slower at sf0.1.
    Callers project ``tokens(text)`` into its own column first;
    CollapseProject keeps multi-referenced non-cheap expressions
    un-inlined, so the regex runs once per row.

    Guarded for short documents: ``F.sequence(1, 0)`` yields the
    *descending* array [1, 0] in Spark (not an empty one), which would
    make ``slice(toks, 0, n)`` throw — so docs with fewer than ``n``
    tokens explicitly produce an empty shingle set.
    """
    return F.when(
        F.size(toks_col) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks_col) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks_col, i, n)),
            )
        ),
    ).otherwise(F.slice(toks_col, 1, 0))


def doc_shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(doc, n_sh, sh: array<string>) — one row per document, built in
    two stacked projections (tokens, then shingles) so the tokenizer
    regex evaluates once per row. Fully map-side: no shuffle."""
    with_toks = df.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("toks")
    )
    return with_toks.select(
        "doc", shingles(F.col("toks"), n).alias("sh")
    ).withColumn("n_sh", F.size("sh"))


def doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) exploded pairs plus per-doc shingle counts.

    ``explode_outer`` + an explicit null filter, NOT plain ``explode``:
    for a bare explode the optimizer infers ``size(sh) > 0 AND
    isnotnull(sh)`` (InferFiltersFromGenerate) and pushes it below the
    fan-out exchange with the whole shingle expression INLINED — the
    tokenize→shingle pipeline then re-evaluates several times per
    document inside the single pre-repartition scan task (measured 8x:
    0.38 s → 3.16 s at sf0.1). The outer variant infers no filter; the
    post-generate ``shingle IS NOT NULL`` drops the one placeholder row
    an empty shingle set produces, which is exactly explode semantics.
    """
    return (
        doc_shingle_arrays(df, id_col, text_col, n)
        .select("doc", "n_sh", F.explode_outer("sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    df_cap: int | None = None,
    shingle_frame: DataFrame | None = None,
) -> DataFrame:
    """Exact word 3-gram Jaccard near-duplicate pairs above a threshold.

    Candidate pairs come from an equi-join on shared shingles, so cost is
    Σ_shingle df(shingle)². ``df_cap`` drops shingles appearing in more
    than that many documents before the self-join (standard
    document-frequency cap): one boilerplate shingle shared by 10⁶ docs
    would otherwise put 10¹² candidate pairs in a single partition. With
    a cap this is scale-safe for heavy-tailed corpora; pairs whose *only*
    overlap is capped boilerplate are treated as non-duplicates, which is
    the standard trade. The sub-quadratic path is
    :func:`minhash_lsh_pairs`.

    Note: ``n_sh`` (the per-doc shingle-set size used in the Jaccard
    denominator) is computed before capping, so reported similarity for
    surviving pairs is slightly conservative, never inflated.

    ``shingle_frame``: a pre-built (ideally persisted) capped
    (doc, n_sh, shingle) frame — the self-join reads the shingle
    pipeline from BOTH sides (plus the df-cap aggregate), so callers
    running repeated dedup passes cache it per corpus version
    (queries/dedup.py) instead of re-tokenizing per side per call.
    """
    sh = (
        shingle_frame
        if shingle_frame is not None
        else _capped_shingles(df, id_col, text_col, df_cap)
    )
    left = sh.select(
        F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"), "shingle"
    )
    right = sh.select(
        F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"), "shingle"
    )
    shared = (
        left.join(right, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        shared.withColumn("jaccard", dround(jac, 4))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _capped_shingles(
    df: DataFrame, id_col: str, text_col: str, df_cap: int | None
) -> DataFrame:
    """Exploded (doc, n_sh, 3-gram shingle) rows, df-capped, hash-partitioned
    on shingle BEFORE any consumer: the tokenize→shingle→explode
    pipeline is the expensive subtree here, and the self-join that
    follows reads it twice (three times with the df-cap aggregate).
    Repartitioning once on the join key makes every consumer's
    exchange canonically identical, so ReuseExchange materializes the
    tokenization ONCE and the df-cap aggregate + both join sides reuse
    it — measured ~2x on the containment/jaccard family at sf0.1 —
    while also satisfying the hash(shingle) distribution the join and
    the cap aggregate both require (no second exchange)."""
    sh = doc_shingles(df, id_col, text_col, 3)
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    sh = sh.repartition(n_parts, "shingle")
    if df_cap is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= df_cap)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    return sh


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    df_cap: int | None = None,
    shingle_frame: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric shingle-containment pairs: ``containment(a in b) =
    |sh(a) ∩ sh(b)| / |sh(a)|`` — the sub-document duplication signal
    Jaccard structurally misses. A 200-token quote fully embedded in a
    20k-token article has Jaccard ≈ 0.01 (invisible at any sane
    threshold) but containment 1.0; for training-data curation this is
    the difference between catching wrapper pages / quote farms /
    aggregators and shipping them as "novel" text.

    Same candidate generation as :func:`jaccard_pairs` (equi-join on
    shared shingles with a document-frequency cap bounding boilerplate
    fan-out), and the same conservative denominator note: ``n_sh`` is
    pre-cap, so containment is never inflated by the cap. One shared
    count per unordered pair then fans out to BOTH directed readings
    map-side — no second join — and each direction filters on its own
    denominator. Emits ``(doc, container, containment)`` rows where
    ``doc``'s shingles are ≥ threshold contained in ``container``'s.
    ``shingle_frame`` as in :func:`jaccard_pairs`.
    """
    sh = (
        shingle_frame
        if shingle_frame is not None
        else _capped_shingles(df, id_col, text_col, df_cap)
    )
    left = sh.select(
        F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"), "shingle"
    )
    right = sh.select(
        F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"), "shingle"
    )
    shared = (
        left.join(right, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # both directed readings fan out of ONE evaluation of the shared
    # frame (a union of two selects would re-run the join+aggregate
    # per branch — Spark has no DataFrame-level CSE)
    both = shared.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc"),
                    F.col("doc_b").alias("container"),
                    (F.col("shared") / F.col("n_a")).alias("__c"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc"),
                    F.col("doc_a").alias("container"),
                    (F.col("shared") / F.col("n_b")).alias("__c"),
                ),
            )
        ).alias("p")
    )
    return (
        both.filter(F.col("p.__c") >= threshold)
        .select(
            F.col("p.doc").alias("doc"),
            F.col("p.container").alias("container"),
            dround(F.col("p.__c"), 4).alias("containment"),
        )
    )


_md5_hash64 = portable_hash64


def _km_hash_arrays(sh_frame: DataFrame) -> DataFrame:
    """Add Kirsch-Mitzenmacher hash arrays to a (doc, n_sh, sh) frame:
    one md5 per shingle sliced into h1 (60 bits) and h2 (32 bits),
    computed inside ``transform`` over the shingle array — entirely
    map-side, no explode, no shuffle. Bit-identical to
    ``md5(concat('1:', shingle))`` slicing in any SQL engine."""
    hx = lambda s: F.md5(F.concat(F.lit("1:"), s))  # noqa: E731
    # constant expression trees (functions.memo_cols): built once per
    # process, ~40 ms of higher-order-function bridge calls per reuse
    cols = memo_cols(
        ("km_hash_arrays",),
        lambda: [
            F.transform(
                "sh",
                lambda s: F.conv(F.substring(hx(s), 1, 15), 16, 10).cast("long"),
            ).alias("h1a"),
            F.transform(
                "sh",
                lambda s: F.conv(F.substring(hx(s), 17, 8), 16, 10).cast("long"),
            ).alias("h2a"),
        ],
    )
    return sh_frame.select("doc", "n_sh", *cols)


def _mh_slot_cols(k: int):
    """k memoized Kirsch-Mitzenmacher signature slots
    ``array_min(zip_with(h1a, h2a, x + j*y))`` — each zip_with costs a
    ~20 ms py4j lambda round trip, so the k=16 list is ~0.35 s of pure
    plan-build per call without the memo."""
    return memo_cols(
        ("mh_slots", k),
        lambda: [
            F.array_min(
                F.zip_with("h1a", "h2a", lambda x, y: x + F.lit(j) * y)
            ).alias(f"mh_{j}")
            for j in range(k)
        ],
    )


def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs over word 3-gram shingles,
    verified with exact Jaccard.

    ``MINHASH_K`` hashes split into ``MINHASH_BANDS`` bands of k/bands
    rows (Kirsch-Mitzenmacher double hashing ``h_j = h1 + j*h2``: two
    md5 slices per shingle instead of k); docs colliding on any full
    band become candidates (P[collide] = 1-(1-s^r)^b), then candidates
    are verified with exact shingle Jaccard. Only candidates
    are ever paired — no all-pairs stage, scale-safe.

    The whole pipeline is two shuffles:

      1. one map-side pass computes, per document, the shingle-hash
         arrays and the k signature slots (``array_min(zip_with(...))``
         — no explode, no group-by); banding explodes k/bands keys per
         doc and self-joins on them (shuffle #1);
      2. verification joins the candidate pairs back to the compact
         per-doc ``(n_sh, h1a)`` frame and computes the shared-shingle
         count as ``size(array_intersect(h1a_a, h1a_b))`` (shuffle #2) —
         no second shingling pass, no explode-join-groupBy.

    The compact per-doc frame is persisted: a few longs per shingle
    plus k slots — orders of magnitude smaller than the corpus;
    MEMORY_AND_DISK so a 100 TB run degrades to disk instead of
    recomputing the md5 pass for the verification branch.

    Two distinct shingles colliding on the 60-bit h1 within one doc
    would perturb the intersection count (~2⁻⁶⁰ per pair); the oracle
    computes the same md5-derived h1, so both engines see identical
    counts regardless.
    """
    from pyspark import StorageLevel

    hashed = _km_hash_arrays(doc_shingle_arrays(df, id_col, text_col, 3))
    sig = hashed.select("doc", "n_sh", "h1a", *_mh_slot_cols(MINHASH_K)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Band key = the r raw minhash values (array<long>), not a re-hash of
    # them: equality of values is exactly band collision, so the result
    # is oracle-reproducible in any SQL engine. The shuffle key is a few
    # longs instead of one — negligible vs. xxhash64 bucketing, and it
    # removes the (tiny) false-merge probability of 64-bit re-hashing.
    keyed = _band_keys(sig)
    cand = (
        keyed.alias("x")
        .join(keyed.alias("y"), ["band", "bh"])
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .distinct()
    )
    docs = sig.select("doc", "n_sh", "h1a")
    a = docs.select(
        F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"), F.col("h1a").alias("ha")
    )
    b = docs.select(
        F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"), F.col("h1a").alias("hb")
    )
    shared = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("shared", F.size(F.array_intersect("ha", "hb")))
    )
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        shared.withColumn("jaccard", dround(jac, 4))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, n_sh, h1a, mh_0..mh_{k-1}) — the per-document MinHash
    signature frame an incremental dedup deployment PERSISTS as its
    index table (partitioned/bucketed so each ingest batch's band join
    prunes to the buckets it touches). Entirely map-side to compute;
    identical signature math to :func:`minhash_lsh_pairs`."""
    hashed = _km_hash_arrays(doc_shingle_arrays(df, id_col, text_col, 3))
    return hashed.select("doc", "n_sh", "h1a", *_mh_slot_cols(MINHASH_K))


def _band_keys(sig: DataFrame) -> DataFrame:
    """(doc, band, bh) band keys exploded from a signature frame — the
    LSH join key: bh is the raw r-tuple of minhash values (value
    equality IS band collision, oracle-reproducible)."""
    rows = MINHASH_K // MINHASH_BANDS
    band_cols = memo_cols(
        ("mh_band_cols", MINHASH_K, MINHASH_BANDS),
        lambda: [
            F.struct(
                F.lit(b).alias("band"),
                F.array(
                    *[F.col(f"mh_{b * rows + r}") for r in range(rows)]
                ).alias("bh"),
            )
            for b in range(MINHASH_BANDS)
        ],
    )
    return sig.select("doc", F.explode(F.array(*band_cols)).alias("bk")).select(
        "doc", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )


def minhash_lsh_probe(
    index_sig: DataFrame, batch_sig: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Incremental near-dup detection: probe a NEW batch of documents
    against an existing signature index WITHOUT re-pairing the corpus.

    This is the shape that makes continuous ingest tractable at 100 TB:
    the corpus index is computed once (``minhash_lsh_index``, persisted
    and bucketed by band key at deployment), and each arriving batch
    pays only |batch| signature work + a band-key join that touches the
    index buckets the batch collides with — never an index self-join,
    never a corpus rescan. With the index table bucketed on (band, bh)
    only the batch side shuffles.

    Candidates are (new_doc, index_doc) band collisions, verified with
    the exact shingle-hash Jaccard (``array_intersect`` on the compact
    h1a arrays — same verification as :func:`minhash_lsh_pairs`).
    Returns (new_doc, dup_of, jaccard) for every pair ≥ threshold.

    Within-batch duplicates are deliberately out of scope here: a full
    ingest step runs :func:`minhash_lsh_pairs` over the (small) batch
    for those, then appends the batch's signatures to the index.
    """
    bk_new = _band_keys(batch_sig).withColumnRenamed("doc", "new_doc")
    bk_idx = _band_keys(index_sig).withColumnRenamed("doc", "idx_doc")
    cand = (
        bk_new.join(bk_idx, ["band", "bh"])
        .select("new_doc", "idx_doc")
        .distinct()
    )
    a = batch_sig.select(
        F.col("doc").alias("new_doc"),
        F.col("n_sh").alias("n_a"),
        F.col("h1a").alias("ha"),
    )
    b = index_sig.select(
        F.col("doc").alias("idx_doc"),
        F.col("n_sh").alias("n_b"),
        F.col("h1a").alias("hb"),
    )
    shared = (
        cand.join(a, "new_doc")
        .join(b, "idx_doc")
        .withColumn("shared", F.size(F.array_intersect("ha", "hb")))
    )
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        shared.withColumn("jaccard", dround(jac, 4))
        .filter(jac >= threshold)
        .select(F.col("new_doc"), F.col("idx_doc").alias("dup_of"), "jaccard")
    )


def dedup_clusters(
    pairs: DataFrame, max_iter: int = 20, stats: dict | None = None
) -> DataFrame:
    """Connected components over near-duplicate pairs: every document in
    a transitive duplicate group gets the group's minimum doc id as
    ``cluster_id`` — the keep-one-per-cluster step that turns pairwise
    near-dup output into an actual dedup decision.

    Iterative min-label propagation: each round, every vertex takes the
    min of its own label and its neighbors' labels (one join + one
    group-by per round), converging in O(graph diameter) rounds — dup
    clusters are near-cliques, so diameter is tiny. Each round ends in
    ``localCheckpoint(eager=True)``: the round's plan references the
    previous labels frame TWICE (directly and through the neighbor-min
    join), so without truncation the logical plan doubles per round and
    Catalyst re-analysis goes exponential — persist alone caches data
    but not the plan (measured: round 7 of a chain took 110 s persisted,
    ~1 s checkpointed). On a cluster, swap localCheckpoint for reliable
    ``checkpoint`` if executor loss during the loop must be survivable.
    If a component's diameter exceeds ``max_iter`` (labels still moving
    after the loop), the remainder is finished automatically by
    :func:`star_contract` on the contracted label graph — O(log^2 n)
    rounds independent of diameter — with a RuntimeWarning.

    Returns (doc, cluster_id) for every doc appearing in ``pairs``.
    ``stats``, when given, is filled with {"rounds", "fallback"} —
    rounds-to-convergence observability for scale probes and production
    monitoring (a rounds spike means the duplicate graph grew chains).
    """
    e = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    edges = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("u").alias("doc")).distinct().withColumn(
        "lbl", F.col("doc")
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nbr_min = (
            edges.join(labels, edges.u == labels.doc)
            .groupBy(F.col("v").alias("ndoc"))
            .agg(F.min("lbl").alias("nbl"))
        )
        proposed = (
            labels.join(nbr_min, labels.doc == nbr_min.ndoc, "left")
            .select(
                "doc",
                "lbl",
                F.least(F.col("lbl"), F.coalesce("nbl", "lbl")).alias("new_lbl"),
            )
            # eager materialization + lineage truncation in one step:
            # the convergence aggregate below reads the checkpointed
            # data, and next round's plan starts flat from it
            .localCheckpoint(eager=True)
        )
        changed = (
            proposed.agg(
                F.sum((F.col("new_lbl") < F.col("lbl")).cast("int")).alias("c")
            ).first()[0]
            or 0
        )
        labels = proposed.select("doc", F.col("new_lbl").alias("lbl"))
        if changed == 0:
            break
    else:
        # Exhausted max_iter with labels still moving: a component's
        # diameter exceeds max_iter (chain-shaped graph). Finish on the
        # RESIDUE with the large-star/small-star contraction, which
        # needs O(log^2 n) rounds regardless of diameter: contract the
        # edge set to label-space (every label is already the min of a
        # radius-max_iter ball, so this graph is tiny relative to the
        # input), star-contract it, and compose doc -> label -> root.
        import warnings

        warnings.warn(
            f"dedup_clusters: min-label propagation did not converge in "
            f"{max_iter} rounds ({changed} labels still moving) — a "
            f"component has diameter > {max_iter}; finishing with "
            "large-star/small-star contraction on the label residue.",
            RuntimeWarning,
            stacklevel=2,
        )
        lu = labels.select(F.col("doc").alias("u"), F.col("lbl").alias("lu"))
        lv = labels.select(F.col("doc").alias("v"), F.col("lbl").alias("lv"))
        lbl_edges = (
            edges.join(lu, "u")
            .join(lv, "v")
            .filter(F.col("lu") != F.col("lv"))
            .select(F.col("lu").alias("doc_a"), F.col("lv").alias("doc_b"))
        )
        star_stats: dict = {}
        roots = star_contract(lbl_edges, stats=star_stats).select(
            F.col("doc").alias("lbl"), F.col("cluster_id").alias("root")
        )
        if stats is not None:
            stats.update(
                rounds=rounds, fallback=True,
                star_rounds=star_stats.get("rounds"),
            )
        return (
            labels.join(roots, "lbl", "left")
            .select("doc", F.coalesce("root", "lbl").alias("cluster_id"))
        )
    if stats is not None:
        stats.update(rounds=rounds, fallback=False)
    return labels.select("doc", F.col("lbl").alias("cluster_id"))


def star_contract(pairs: DataFrame, stats: dict | None = None) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond"): converges in O(log^2 n) ROUNDS INDEPENDENT OF GRAPH
    DIAMETER — the planet-scale path :func:`dedup_clusters` falls back
    to, and the right default when duplicate chains can be long (e.g.
    boilerplate gradients where A~B~C~... without A~C).

    Per round, two star operations, each one self-contained shuffle
    pair (group-by min + join back):

    * large-star: every node connects its LARGER neighbors to the
      minimum of its closed neighborhood — long chains fold toward
      local minima from every node at once;
    * small-star: every node connects its smaller-or-equal neighbors
      (and itself) to its minimum neighbor — stars flatten so the next
      large-star sees them as single hops.

    Both operations strictly shrink the edge partial order and never
    introduce a node below the component minimum, so the fixpoint is a
    star forest centered at each component's min id — identical labels
    to min-label propagation. Rounds end in localCheckpoint (same
    lineage-truncation discipline as :func:`dedup_clusters`; swap for
    reliable ``checkpoint`` on a cluster when executor loss during the
    loop must be survivable).

    Returns (doc, cluster_id) for every doc appearing in ``pairs``.
    ``stats``, when given, is filled with {"rounds"} used to reach the
    fixpoint.
    """
    lo, hi = F.least("a", "b"), F.greatest("a", "b")
    E = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(lo.alias("a"), hi.alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(30):
        rounds += 1
        # large-star over the bidirectional neighbor view
        D = E.union(E.select(F.col("b").alias("a"), F.col("a").alias("b")))
        m = (
            D.groupBy("a")
            .agg(F.min("b").alias("mn"))
            .select("a", F.least("mn", F.col("a")).alias("m"))
        )
        ls = (
            D.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star over the larger-to-smaller orientation
        Dd = ls.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        m2 = Dd.groupBy("u").agg(F.min("v").alias("m"))
        E2 = (
            Dd.join(m2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(m2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(lo.alias("a"), hi.alias("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # fixpoint when the canonical edge SET is unchanged (both are
        # distinct frames, so count + one-sided difference suffices)
        if E2.count() == E.count() and E2.exceptAll(E).limit(1).count() == 0:
            E = E2
            break
        E = E2
    if stats is not None:
        stats.update(rounds=rounds)
    # fixpoint: a star forest with each root = component min (root < leaf)
    return (
        E.select(F.col("b").alias("doc"), F.col("a").alias("cluster_id"))
        .union(E.select(F.col("a").alias("doc"), F.col("a").alias("cluster_id")))
        .distinct()
    )


def simhash_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """SimHash near-duplicate pairs via banded Hamming search.

    The ``SIMHASH_BITS``-bit fingerprint is cut into ``SIMHASH_BANDS``
    equal bands; two fingerprints within Hamming distance
    ``SIMHASH_MAX_HAMMING`` < ``SIMHASH_BANDS`` must agree on at least one full band (pigeonhole), so candidates are
    exactly the pairs colliding on any (band, band-bits) key — an
    equi-join, never all-pairs — and recall at the distance bound is 1.
    Candidates are then filtered with the exact popcount of the XOR.
    The band join ships only (doc, fingerprint) longs; at corpus scale
    the candidate count tracks band-bucket occupancy, the same
    collision-bounded shape as :func:`minhash_lsh_pairs`."""
    rows = SIMHASH_BITS // SIMHASH_BANDS
    sims = simhash(df, id_col, text_col)
    mask = (1 << rows) - 1
    band_keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * rows)
                .bitwiseAND(F.lit(mask))
                .alias("bk"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    keyed = sims.select(
        "doc", "simhash", F.explode(band_keys).alias("k")
    ).select("doc", "simhash", F.col("k.band").alias("band"), F.col("k.bk").alias("bk"))
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        keyed.alias("x")
        .join(keyed.alias("y"), ["band", "bk"])
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("y.doc").alias("doc_b"),
            F.col("x.simhash").alias("sim_a"),
            F.col("y.simhash").alias("sim_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def blocked_levenshtein_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    prefix_len: int,
    max_dist: int,
) -> DataFrame:
    """Fuzzy string matching (the cheap near-dup path for short fields
    like buyer/customer names): candidate pairs share the blocking key
    (``block_cols`` + a ``prefix_len`` name prefix), then exact
    Levenshtein filters at ``max_dist``.

    Blocking turns the O(n²) all-pairs edit-distance scan into per-block
    quadratic cost — the standard entity-resolution trade: a pair whose
    names diverge within the prefix is assumed distinct. Block sizing is
    the scale knob; the edit-distance evaluation stays JVM-side."""
    base = df.select(
        F.col(id_col).alias("rid"),
        F.col(name_col).alias("nm"),
        *[F.col(c) for c in block_cols],
        F.substring(F.col(name_col), 1, prefix_len).alias("__pfx"),
    )
    keys = [*block_cols, "__pfx"]
    a = base.select(
        F.col("rid").alias("id_a"), F.col("nm").alias("name_a"), *keys
    )
    b = base.select(
        F.col("rid").alias("id_b"), F.col("nm").alias("name_b"), *keys
    )
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("name_a", "name_b").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= max_dist)
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``SIMHASH_BITS``-bit SimHash fingerprint (Charikar 2002) from
    token hashes.

    Each token votes ±1 per bit of its (portable) hash; the sign of each
    bit-sum becomes the fingerprint bit. Near-duplicates have small
    Hamming distance.

    Entirely map-side: the token-hash array is materialized once per
    row (one md5 per token) and each bit's vote sum is an ``aggregate``
    fold over that array — no token explode, no (doc, bit) group-by
    shuffle. Measured 10.5s → ~2s at sf0.1 local[32] vs the
    explode+groupBy formulation, identical values (token multiplicity
    is preserved by the array)."""
    wt = df.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("toks"))
    wh = wt.select(
        "doc", F.transform("toks", lambda t: _md5_hash64(t, 0)).alias("ha")
    )
    votes = [
        F.aggregate(
            "ha",
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        ).alias(f"v_{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = wh.select("doc", *votes)
    fp = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v_{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select("doc", fp.cast("long").alias("simhash"))


def decontaminate_flags(
    train: DataFrame, benchmark: DataFrame, n: int = 6
) -> DataFrame:
    """Benchmark decontamination — flag every training document sharing
    at least one n-gram with a held-out evaluation set (the hygiene pass
    run before any pre-training job; n=8..13 word-grams in practice,
    parameterized here).

    Scale shape: the benchmark side reduces to DISTINCT n-gram strings —
    tiny (|bench docs| × tokens) — and is broadcast, so the 100 TB train
    side is one narrow pass: shingle map-side, explode, broadcast-semi-
    join, per-doc count. The train corpus never shuffles; the only wide
    op is the final per-doc aggregate of the (rare) contaminated hits.

    Returns (doc, n_contaminated_ngrams) for flagged docs only.
    """
    bench_grams = (
        doc_shingles(benchmark, "doc_id", "text", n)
        .select(F.col("shingle"))
        .distinct()
    )
    train_grams = doc_shingles(train, "doc_id", "text", n)
    hits = train_grams.join(F.broadcast(bench_grams), "shingle")
    return hits.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_contaminated_ngrams")
    )


def ngram_multiset(toks, n: int):
    """Word n-grams WITH repeats (:func:`shingles` deduplicates; the
    repetition metrics below need the multiset). Same short-doc guard."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.slice(toks, 1, 0))


def dup_ngram_fraction(grams):
    """Fraction of within-document n-gram occurrences that are repeats:
    1 - distinct/total over the doc's n-gram multiset (Gopher's
    duplicate-n-gram rule). Takes a MATERIALIZED multiset column
    (project :func:`ngram_multiset` into its own column first — it is
    referenced three times here, and Spark re-evaluates non-trivial
    expressions per reference). Pure array math: no shuffle, no UDF."""
    total = F.size(grams)
    return F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(grams)) / total,
    ).otherwise(F.lit(0.0))


def doc_words(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, words) — the space-split word array per document, the
    shared tokenization both halves of the substring-dedup pipeline
    derive from (the gram index hashes windows of it; the span emitter
    re-slices it). Pure map-side projection."""
    return df.select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("words")
    )


def substring_grams(words: DataFrame, min_words: int = 8) -> DataFrame:
    """Sliding-window gram index for exact-substring dedup: one narrow
    ``(doc, pos, pdigest)`` row per word position that starts a
    ``min_words``-word window (1-based ``pos``, matching SQL array
    indexing) of a :func:`doc_words` frame. The gram TEXT never leaves
    the map side — only its md5 crosses the wire, so a shuffled row is
    ~40 bytes regardless of document size. Docs shorter than
    ``min_words`` contribute no rows.

    Built with ``posexplode_outer`` + an explicit null filter on the
    generator OUTPUT (never a bare ``explode``): the optimizer's
    InferFiltersFromGenerate would otherwise inline the whole window
    expression into the scan filter and re-evaluate it per reference
    inside the serial scan task (the r7 shingle lesson)."""
    n_starts = F.greatest(F.size("words") - (min_words - 1), F.lit(0))
    grams = F.when(
        n_starts > 0,
        F.transform(
            F.sequence(F.lit(1), n_starts),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("words"), i, min_words))),
        ),
    )
    return (
        words.select("doc", F.posexplode_outer(grams).alias("__k", "pdigest"))
        .filter(F.col("pdigest").isNotNull())
        .select("doc", (F.col("__k") + 1).cast("long").alias("pos"), "pdigest")
    )


def _span_report(spans: DataFrame, words: DataFrame) -> DataFrame:
    """Shared span-report projection: join the narrow (doc, span_start,
    span_end) bounds to the words frame and emit the public
    (doc, span_start, span_end, span_words, span_text) shape — the
    text re-slice happens map-side after the co-partitioned join, in
    exactly one place so the dedup and decontamination reports cannot
    drift."""
    return spans.join(words, "doc").select(
        "doc",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        (F.col("span_end") - F.col("span_start") + 1)
        .cast("long")
        .alias("span_words"),
        F.array_join(
            F.slice(
                F.col("words"),
                F.col("span_start").cast("int"),
                (F.col("span_end") - F.col("span_start") + 1).cast("int"),
            ),
            " ",
        ).alias("span_text"),
    )


def _coalesce_start_islands(starts: DataFrame, min_words: int) -> DataFrame:
    """Shared gaps-and-islands pass: marked window-start positions
    whose ``min_words``-word intervals overlap or touch merge into one
    maximal (doc, span_start, span_end) interval. One narrow shuffle
    on doc; the window's hash(doc) layout also satisfies the span
    aggregate's (doc, island) distribution, so no second exchange."""
    w = Window.partitionBy("doc").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= min_words, F.lit(0)).otherwise(
        F.lit(1)
    )
    islands = starts.withColumn("__brk", brk).withColumn(
        "__isl", F.sum("__brk").over(w)
    )
    return islands.groupBy("doc", "__isl").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (min_words - 1)).alias("span_end"),
    ).drop("__isl")


def substring_span_bounds(grams: DataFrame, min_words: int = 8) -> DataFrame:
    """The narrow half of ExactSubstr dedup: maximal removable
    (doc, span_start, span_end) intervals, with NO text attached —
    consumers that only need boundaries (the rewrite's per-doc span
    fold, removal accounting) use this directly and skip the
    words-frame join entirely. See :func:`substring_dedup_spans` for
    the semantics and the 100 TB shape of each stage."""
    surv = grams.groupBy("pdigest").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min(F.struct("doc", "pos")).alias("__first"),
    )
    dup = surv.filter(F.col("__c") >= 2).select("pdigest", "__first")
    starts = (
        grams.join(dup, "pdigest")
        .filter(
            ~(
                (F.col("doc") == F.col("__first.doc"))
                & (F.col("pos") == F.col("__first.pos"))
            )
        )
        .select("doc", "pos")
    )
    return _coalesce_start_islands(starts, min_words)


def contamination_spans(
    train_grams: DataFrame,
    eval_grams: DataFrame,
    words: DataFrame,
    min_words: int = 8,
) -> DataFrame:
    """Substring-level benchmark decontamination — the Lee et al. 2022
    use case the doc-level flag pass (:func:`decontaminate_flags`)
    cannot localize: every maximal span of a TRAINING document that
    reproduces >= ``min_words`` consecutive words appearing ANYWHERE
    in the held-out evaluation set, with its exact word boundaries, so
    the remover can cut the leaked span instead of dropping (or
    worse, keeping) the whole document.

    Marking rule differs from dedup: there is no survivor — every
    train occurrence of an eval window is contaminated (the eval set
    is ground truth to protect, not a corpus member to dedup against).

    100 TB shape: the eval side reduces to DISTINCT window digests —
    |eval docs| x tokens, tiny by definition — and broadcasts onto the
    train gram index, so the train corpus never shuffles for the
    marking; coalescing is the shared per-document gaps-and-islands
    pass; span text re-slices map-side after a co-partitioned join on
    doc (duplicated text never shuffles)."""
    return _span_report(
        contamination_span_bounds(train_grams, eval_grams, min_words), words
    )


def eval_overlap_counts(
    train_grams: DataFrame, eval_grams: DataFrame
) -> DataFrame:
    """Benchmark-integrity counts — the REVERSE direction of
    :func:`contamination_spans`: for each EVAL document, how many of
    its sliding windows are reproducible from the training corpus
    (n_windows, n_contaminated per doc). Decontamination cuts the
    train side; this measures how compromised each benchmark document
    already is — the report that decides whether an eval set is still
    worth scoring against (GPT-3 appendix C / Lee et al. 2022 §6 both
    publish exactly this per-benchmark overlap statistic).

    100 TB shape: the train corpus never shuffles — the tiny eval
    digest set broadcasts onto the train gram index, the matched
    digests reduce through a partial-aggregated distinct (bounded by
    |eval digests|, not |train|), and the per-eval-doc rollup joins
    that small matched set back broadcast. Docs shorter than the
    window length have no grams and no row (nothing to measure)."""
    eval_digests = eval_grams.select("pdigest").distinct()
    matched = (
        train_grams.join(F.broadcast(eval_digests), "pdigest")
        .select("pdigest")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    flagged = eval_grams.join(F.broadcast(matched), "pdigest", "left")
    return flagged.groupBy("doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
        .cast("long")
        .alias("n_contaminated"),
    )


def contamination_span_bounds(
    train_grams: DataFrame, eval_grams: DataFrame, min_words: int = 8
) -> DataFrame:
    """The narrow half of :func:`contamination_spans` — maximal
    contaminated (doc, span_start, span_end) intervals with no text
    attached, for consumers that CUT rather than report (the composed
    prep pipeline feeds these straight into
    :func:`substring_dedup_rewrite`). Same 100 TB shape: the eval side
    reduces to a broadcast distinct-digest set, the train corpus never
    shuffles for the marking, coalescing is the shared per-document
    gaps-and-islands pass."""
    eval_digests = eval_grams.select("pdigest").distinct()
    starts = train_grams.join(F.broadcast(eval_digests), "pdigest").select(
        "doc", "pos"
    )
    return _coalesce_start_islands(starts, min_words)


def substring_dedup_spans(
    grams: DataFrame, words: DataFrame, min_words: int = 8
) -> DataFrame:
    """Exact-substring dedup at arbitrary granularity — the actual
    Lee et al. 2022 (arXiv:2107.06499) ExactSubstr semantics, where
    every duplicated substring of >= ``min_words`` words is removed at
    all but its globally-first occurrence. ``passage_dedup`` is the
    fixed-boundary approximation (a shared span straddling a passage
    boundary is invisible to it); this operator is boundary-free: a
    substring of length >= L duplicates somewhere iff every one of its
    length-L windows duplicates, so marking duplicated non-survivor
    window STARTS and coalescing overlapping/adjacent start intervals
    recovers exactly the maximal removable spans.

    The reference algorithm builds one suffix array over the corpus —
    a global sort that does not shard. The distributable form never
    sorts suffixes: window identity is a hash group-by, and span
    coalescing is a per-document gaps-and-islands pass.

    100 TB shape:
      1. ``grams`` is the narrow (doc, pos, md5) index — hash-partition
         it on ``pdigest`` and persist before calling (the caller owns
         the storage-investment decision): the survivor aggregate and
         the mark join then both run exchange-free on that layout.
      2. survivor per window = ``min(struct(doc, pos))`` through a
         hash aggregate with map-side partial aggregation — a
         boilerplate window duplicated a billion times collapses to
         one candidate per mapper instead of flooding one reducer
         (the skew case a row_number window cannot partial-away).
      3. non-survivor marks = grams joined to the duplicated-window
         survivors on ``pdigest`` (co-partitioned; AQE broadcasts the
         survivor side when it is small, which it is by construction:
         |duplicated distinct windows| << |window occurrences|).
      4. islands: marked starts shuffle ONCE more, on ``doc``; two
         start positions merge iff their L-word intervals overlap or
         touch (``pos - prev <= L``), a lag + running-sum pass whose
         window partitioning also satisfies the span aggregate's
         distribution (no further exchange).
      5. span text is re-sliced map-side from the document's own word
         array after a co-partitioned join on ``doc`` — duplicated
         text still never shuffles.

    Returns (doc, span_start, span_end, span_words, span_text): the
    spans a remover would cut. Emitting spans rather than rewritten
    documents keeps the operator composable (audit, cut, or weight) —
    and a doc with no removable span simply has no row.
    """
    return _span_report(substring_span_bounds(grams, min_words), words)


def substring_dedup_rewrite(spans: DataFrame, words: DataFrame) -> DataFrame:
    """The remove step of ExactSubstr dedup: cut every removable span
    (from :func:`substring_span_bounds` — the narrow boundaries frame,
    NOT the text-joined report, whose words-join would otherwise be
    executed once here and once in the report) out of its document and
    rebuild the text from the surviving words. Total over the corpus —
    a document with no removable span passes through unchanged, and a
    document that was entirely duplicated elsewhere survives with
    empty text (dropped words, never dropped rows).

    100 TB shape: the spans fold to one small per-doc array (hash
    aggregate, partial-merged), join to the words frame co-partitioned
    on doc, and the rewrite is pure map-side array math — an indexed
    ``filter`` keeps each word iff no span covers its position, so the
    cost is O(words x spans-per-doc) with no per-word explode and no
    extra shuffle."""
    per_doc = spans.groupBy("doc").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__sp")
    )
    joined = words.join(per_doc, "doc", "left")
    sp = F.coalesce(
        F.col("__sp"),
        F.array().cast("array<struct<span_start:long,span_end:long>>"),
    )
    kept = F.filter(
        F.col("words"),
        lambda w, i: ~F.exists(
            sp,
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        ),
    )
    return joined.select(
        "doc",
        F.size("words").cast("long").alias("n_words"),
        (F.size("words") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )
