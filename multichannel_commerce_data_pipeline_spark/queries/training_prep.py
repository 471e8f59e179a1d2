r"""Training-set preparation queries over `documents`, oracle-checked:
sequence packing, dataset split, mixture oversampling, shard layout
(operators/training_prep.py bound to the driver's corpus).

All hashes go through functions.portable_hash64 (md5-derived) so the
DuckDB oracles compute bit-identical buckets/keys/order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.artifacts import (
    artifact,
    concurrently,
)
from multichannel_commerce_data_pipeline_spark.functions import (
    dround,
    oracle_dround,
    oracle_hash64,
    portable_hash64,
    stage_filter,
)
from multichannel_commerce_data_pipeline_spark.operators import text as T
from multichannel_commerce_data_pipeline_spark.operators import training_prep as TP
from multichannel_commerce_data_pipeline_spark.queries import query
from multichannel_commerce_data_pipeline_spark.tables import (
    load,
    parallelize_small_scan,
)

# oracle fragment: the same 60-bit md5 hash of the doc id each operator
# uses, parameterized by seed (matches portable_hash64(doc_id, seed))
_ID_HASH = lambda seed: oracle_hash64("CAST(doc_id AS VARCHAR)", seed)  # noqa: E731

_PACK_BASE = rf"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT) AS n_tokens,
             {_ID_HASH(7)} % 8 AS shard
      FROM documents
    ),
    cum AS (
      -- CAST: DuckDB's SUM(BIGINT) window yields HUGEINT, which pandas
      -- renders as float64 and breaks the driver hash vs Spark's bigint.
      SELECT doc_id, n_tokens, shard,
             CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS BIGINT) AS cum_excl
      FROM base
    ),
    packed AS (
      SELECT doc_id, n_tokens, shard,
             CAST(FLOOR(cum_excl / 256) AS BIGINT) AS pack_id,
             cum_excl % 256 AS pack_offset
      FROM cum
    )
"""


@query(
    "pack_sequences",
    oracle=_PACK_BASE + "SELECT doc_id, n_tokens, shard, pack_id, pack_offset FROM packed",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (256-token packs, 8 hash shards):
    each doc's pack and token offset inside it. Greedy one-pass packing
    via a per-shard window cumulative sum — one exchange, no global
    sort, no bin-packing iteration (operators/training_prep.py
    assign_packs)."""
    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    return TP.assign_packs(d, F.size(T.tokens(F.col("text"))), budget=256, n_shards=8)


@query(
    "pack_utilization",
    oracle=_PACK_BASE
    + """
    SELECT shard, pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY shard, pack_id
    """,
)
def pack_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pack fill rollup over pack_sequences: docs per pack and token
    totals (the number the trainer's throughput depends on — packs much
    under budget waste context length)."""
    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    packs = TP.assign_packs(d, F.size(T.tokens(F.col("text"))), budget=256, n_shards=8)
    return TP.pack_stats(packs)


_BFD_ORACLE = rf"""
    WITH RECURSIVE base AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT)
               AS n_tokens,
             {_ID_HASH(7)} % 8 AS shard
      FROM documents
    ),
    ordered AS (
      SELECT doc_id, n_tokens, shard,
             ROW_NUMBER() OVER (PARTITION BY shard
                                ORDER BY n_tokens DESC, doc_id) AS rn
      FROM base
    ),
    nsh AS (SELECT shard, COUNT(*) AS n FROM ordered GROUP BY shard),
    -- one recursion step places one doc per shard (all shards advance
    -- in lockstep); state = per-pack loads + the assignments so far
    steps AS (
      SELECT shard, 0 AS rn, CAST([] AS BIGINT[]) AS loads,
             CAST([] AS STRUCT(doc_id BIGINT, n_tokens BIGINT,
                               pack_id BIGINT, pack_offset BIGINT)[])
               AS assigned
      FROM nsh
      UNION ALL
      SELECT t.shard, t.rn,
             CASE WHEN t.pid = len(t.loads)
                  THEN list_append(t.loads, t.n_tokens)
                  ELSE list_transform(t.loads, (l, i) ->
                         CASE WHEN i = t.pid + 1 THEN l + t.n_tokens
                              ELSE l END)
             END AS loads,
             list_append(t.assigned,
                         {{'doc_id': t.doc_id, 'n_tokens': t.n_tokens,
                           'pack_id': CAST(t.pid AS BIGINT),
                           'pack_offset': CAST(COALESCE(
                               t.loads[t.pid + 1], 0) AS BIGINT)}})
               AS assigned
      FROM (
        -- best fit: min (remaining-after-insert, pack index) over the
        -- packs the doc fits; none -> open pack len(loads)
        SELECT s.shard, o.rn, s.loads, s.assigned, o.doc_id, o.n_tokens,
               COALESCE((list_aggregate(
                 list_transform(
                   list_filter(
                     list_transform(s.loads, (l, i) -> {{'l': l, 'i': i - 1}}),
                     c -> c.l + o.n_tokens <= 256),
                   c -> {{'rem': 256 - c.l - o.n_tokens, 'i': c.i}}),
                 'min')).i, len(s.loads)) AS pid
        FROM steps s JOIN ordered o ON o.shard = s.shard AND o.rn = s.rn + 1
      ) t
    )
    SELECT u.a.doc_id AS doc_id, u.a.n_tokens AS n_tokens, u.shard,
           u.a.pack_id AS pack_id, u.a.pack_offset AS pack_offset
    FROM (
      SELECT s.shard, unnest(s.assigned) AS a
      FROM steps s JOIN nsh ON s.shard = nsh.shard AND s.rn = nsh.n
    ) u
"""


@query("pack_sequences_bfd", oracle=_BFD_ORACLE)
def pack_sequences_bfd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6+: best-fit-decreasing sequence packing — the quality upgrade
    over pack_sequences' first-fit stream when packs must be ATOMIC
    (no doc straddling a pack boundary): largest docs first, each into
    the open pack with least remaining room that fits (ties to the
    lowest pack id), new pack when none fits. Packing efficiency is
    tokens-per-dollar at training time; BFD's utilization dominates
    first-fit on skewed length mixes (asserted in
    tests/test_training_prep.py). One exchange on the shard key, then
    the entire placement loop is a single in-plan aggregate fold over
    the shard-bounded doc array — no driver collect, shards fold in
    parallel; the DuckDB oracle replays the identical fold as a
    recursive CTE, one doc per shard per step
    (operators/training_prep.py assign_packs_bfd)."""
    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    return TP.assign_packs_bfd(
        d, F.size(T.tokens(F.col("text"))), budget=256, n_shards=8
    )


@query(
    "dataset_split",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, {_ID_HASH(13)} % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment from a hash
    bucket — membership is a pure function of (doc_id, seed), so the
    split is stable as the corpus grows and needs no sampling state."""
    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    return TP.split_assign(d)


# high-value sources repeat; everything unlisted defaults to 1 epoch
_EPOCHS = {"src0": 4, "src1": 3, "src2": 3, "src3": 2, "src17": 2}
_EPOCH_VALUES = ", ".join(f"('{s}', {e})" for s, e in sorted(_EPOCHS.items()))


@query(
    "source_epoch_expand",
    oracle=f"""
    WITH w(source, e) AS (VALUES {_EPOCH_VALUES})
    SELECT d.doc_id, d.source,
           CAST(unnest(generate_series(1, COALESCE(w.e, 1))) AS BIGINT) AS epoch
    FROM documents d LEFT JOIN w USING (source)
    """,
)
def source_epoch_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture oversampling: replicate docs per-source by an integer
    epoch count (curated sources seen 2-4x per training run, the rest
    once). The weights table broadcast-joins and the replication is
    explode(sequence(..)) — rows are generated map-side inside the scan
    stage, zero shuffles."""
    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    out = TP.epoch_expand(d, _EPOCHS)
    return out.select("doc_id", "source", F.col("epoch").cast("long").alias("epoch"))


@query(
    "training_shard_layout",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, {_ID_HASH(29)} AS k
      FROM documents
    )
    SELECT doc_id, k % 16 AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY k % 16 ORDER BY k, doc_id)
                AS BIGINT) AS pos
    FROM b
    """,
)
def training_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle as 16 shard files with
    in-shard positions: hash order key scatters ids uniformly; docs are
    numbered within their shard only (a global row_number would
    serialize the corpus through one reducer — shard + offset is the
    layout data loaders actually read)."""
    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    return TP.shard_layout(d, n_shards=16)


@query(
    "doc_length_histogram",
    oracle=r"""
    WITH t AS (
      SELECT CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT)
               AS n_tokens
      FROM documents
    )
    SELECT CAST(FLOOR(n_tokens / 64) * 64 AS BIGINT) AS bucket_start,
           CAST(COUNT(*) AS BIGINT)                  AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT)             AS bucket_tokens
    FROM t GROUP BY 1
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing diagnostics: token-length histogram in 64-token buckets
    — the distribution that decides the pack budget (a budget far above
    the p99 doc length wastes context; far below it truncates). One
    partial-aggregated group-by on a derived integer key; at corpus
    scale the bucket cardinality stays tiny no matter how many docs."""
    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    n_tokens = F.size(T.tokens(F.col("text"))).cast("long")
    return (
        d.select(n_tokens.alias("n_tokens"))
        .groupBy(
            (F.floor(F.col("n_tokens") / 64) * 64)
            .cast("long")
            .alias("bucket_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bucket_tokens"),
        )
    )


@query(
    "source_mixture_weights",
    oracle=rf"""
    WITH per_source AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_extract_all(lower(text), '\S+'))) AS BIGINT)
               AS total_tokens,
             {oracle_dround(
                 "AVG(CASE WHEN length(text) > 0 THEN "
                 "length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) "
                 "/ length(text) ELSE 0.0 END)", 4)} AS avg_quality
      FROM documents
      GROUP BY source
    ),
    weighted AS (
      SELECT *, {oracle_dround("sqrt(total_tokens) * avg_quality", 6)} AS weight
      FROM per_source
    )
    SELECT source, n_docs, total_tokens, avg_quality, weight,
           {oracle_dround("weight / SUM(weight) OVER ()", 6)} AS mix_share
    FROM weighted
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted mixture design: per-source sampling shares
    proportional to sqrt(token mass) x mean quality — the sublinear
    size scaling keeps one giant crawl source from drowning curated
    sources, the quality term boosts clean ones. The share column is
    what epoch_expand's weights table gets derived from. One group-by
    plus a broadcast-sized window over the handful of source rows;
    weights round through dround before the global normalization so the
    cross-engine share is accumulation-order-safe. The normalizer is a
    broadcast scalar join, not a global window — no single-partition
    stage even if the source count grows."""
    from multichannel_commerce_data_pipeline_spark.functions import dround

    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(T.tokens(F.col("text"))).cast("long")).alias("total_tokens"),
        dround(F.avg(T.alpha_ratio(F.col("text"))), 4).alias("avg_quality"),
    )
    weighted = per_source.withColumn(
        "weight", dround(F.sqrt(F.col("total_tokens")) * F.col("avg_quality"), 6)
    )
    total = weighted.agg(F.sum("weight").alias("total_weight"))
    return weighted.join(F.broadcast(total)).select(
        "source",
        "n_docs",
        "total_tokens",
        "avg_quality",
        "weight",
        dround(F.col("weight") / F.col("total_weight"), 6).alias("mix_share"),
    )


@query(
    "doc_segment_split",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT)
               AS n_tokens
      FROM documents
    )
    SELECT doc_id,
           CAST(unnest(generate_series(
             0, CAST(GREATEST(CEIL(n_tokens / 256.0), 1) AS BIGINT) - 1
           )) AS BIGINT) AS seg_id,
           LEAST(256, n_tokens - CAST(unnest(generate_series(
             0, CAST(GREATEST(CEIL(n_tokens / 256.0), 1) AS BIGINT) - 1
           )) AS BIGINT) * 256) AS seg_tokens
    FROM t
    """,
)
def doc_segment_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Over-budget document segmentation (the pre-packing step): docs
    split into 256-token segments map-side via explode(sequence) — the
    companion to pack_sequences that guarantees no row the packer sees
    exceeds the context budget. Zero shuffles; zero-token docs keep one
    empty segment (nothing silently vanishes)."""
    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    return TP.split_long_docs(d, F.size(T.tokens(F.col("text"))))


def _corpus_prepare_oracle() -> str:
    quality = T.oracle_quality_score(
        "regexp_extract_all(lower(text), '\\S+')", "text"
    )
    return rf"""
    WITH kept AS (
      SELECT doc_id, text FROM documents
      WHERE {quality} >= 0.5
    ),
    uniq AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (
                 PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                 ORDER BY doc_id
               ) AS rn
        FROM kept
      ) WHERE rn = 1
    ),
    lab AS (
      SELECT doc_id, text,
             CASE WHEN {_ID_HASH(13)} % 100 < 80 THEN 'train'
                  WHEN {_ID_HASH(13)} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM uniq
    ),
    base AS (
      SELECT doc_id, split,
             CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT)
               AS n_tokens,
             {_ID_HASH(7)} % 8 AS shard
      FROM lab
    ),
    cum AS (
      SELECT doc_id, split, n_tokens, shard,
             CAST(SUM(n_tokens) OVER (PARTITION BY split, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS BIGINT) AS cum_excl
      FROM base
    )
    SELECT doc_id, split, n_tokens, shard,
           CAST(FLOOR(cum_excl / 256) AS BIGINT) AS pack_id,
           cum_excl % 256 AS pack_offset
    FROM cum
    """


@query("corpus_prepare", oracle=_corpus_prepare_oracle())
def corpus_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline in ONE declarative DAG —
    quality filter (>= 0.5 composite score) → exact dedup (one survivor
    per content fingerprint, min doc_id) → deterministic 80/10/10 split
    → per-(split, shard) sequence packing, so no pack ever mixes train
    and eval documents (the contamination guarantee). Every stage is an
    already-oracle-proven operator; composing them stays three
    exchanges total (dedup fingerprint window, pack window, and the
    scan spread) because split and shard are pure hash functions of
    doc_id — no joins anywhere."""
    from multichannel_commerce_data_pipeline_spark.operators.dedup import exact_dedup

    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    # tokenize ONCE in a staged projection: the composite score
    # references the token list three times and an inlined tokenizer
    # re-runs per reference (r16 optimization round, guide §4.2)
    toked = d.select(
        "doc_id", "text", T.tokens(F.col("text")).alias("__toks")
    )
    kept = stage_filter(
        toked,
        T.quality_score_from(F.col("__toks"), F.col("text")) >= 0.5,
    ).select("doc_id", "text")
    uniq = exact_dedup(
        kept.withColumn("f", T.fingerprint(F.col("text"))), ["f"], "doc_id"
    ).drop("f")
    # split is a pure hash of doc_id (split_assign's exact expression) —
    # computed inline so the composition needs no join at all
    from multichannel_commerce_data_pipeline_spark.functions import portable_hash64

    bucket = F.pmod(portable_hash64(F.col("doc_id").cast("string"), 13), F.lit(100))
    labeled = uniq.withColumn(
        "split",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test")),
    )
    return TP.assign_packs(
        labeled,
        F.size(T.tokens(F.col("text"))),
        budget=256,
        n_shards=8,
        extra_partition_cols=("split",),
    ).select("doc_id", "split", "n_tokens", "shard", "pack_id", "pack_offset")


_BPE_MERGES = 8


def _bpe_train_oracle(n: int) -> str:
    """Unrolled n-round BPE trainer in DuckDB: the oracle builder emits
    one (pair-count, argmax, merge-apply) CTE block per round, chained
    — the SQL re-runs the ENTIRE iterative training, so the driver's
    hash compare proves every round's argmax and greedy application,
    not just the final table. Greedy merge = literal replace on the
    DOUBLE-space-separated symbol string (pattern ``" a  b "`` eats
    only the inner half of each boundary, replacement ``" ab "``
    restores it — see operators/training_prep.bpe_train), identical
    left-to-right non-overlapping semantics in both engines."""
    sy = "string_split(trim(ws), '  ')"
    blocks = [
        rf"""w0 AS (
      SELECT '  ' || array_to_string(regexp_extract_all(w, '.'), '  ') || '  ' AS ws,
             cnt
      FROM (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
          SELECT unnest(regexp_extract_all(lower(text),
                        '{T.SUBWORD_PATTERN}')) AS w
          FROM documents
        ) GROUP BY w
      )
    )"""
    ]
    for i in range(n):
        blocks.append(
            f"""p{i} AS (
      SELECT pr, SUM(cnt) AS c FROM (
        SELECT unnest(list_transform(range(1, len({sy})),
                      j -> {sy}[j] || ' ' || {sy}[j + 1])) AS pr, cnt
        FROM w{i}
      ) GROUP BY pr
    )"""
        )
        blocks.append(
            f"b{i} AS (SELECT pr FROM p{i} ORDER BY c DESC, pr LIMIT 1)"
        )
        blocks.append(
            f"""w{i + 1} AS (
      SELECT replace(ws, ' ' || replace(b.pr, ' ', '  ') || ' ',
                     ' ' || replace(b.pr, ' ', '') || ' ')
               AS ws, cnt
      FROM w{i}, b{i} b
    )"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS step, pr AS pair, "
        f"replace(pr, ' ', '') AS merged FROM b{i}"
        for i in range(n)
    )
    return "WITH " + ",\n    ".join(blocks) + "\n    " + union


@query("bpe_train_merges", oracle=_bpe_train_oracle(_BPE_MERGES))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: BPE tokenizer TRAINING in-engine (Sennrich et al. 2016) —
    eight full merge rounds over the corpus's subword pre-tokens, each
    round one bounded pair-count aggregate + a greedy corpus-wide merge
    apply. The corpus reduces once to the distinct-pre-token frequency
    table, so round cost is bounded by vocabulary, not corpus bytes —
    at 100 TB the trainer touches the raw text exactly once. The
    returned merge table IS the model (driver-sized, like IVF
    centroids); the oracle unrolls all eight rounds in SQL, so
    driver-green proves the whole iterative computation."""
    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    words = (
        d.select(F.explode(T.subword_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merges = TP.bpe_train(words, "w", "cnt", _BPE_MERGES)
    return spark.createDataFrame(
        merges, "step int, pair string, merged string"
    )


# Learned-merge cache per sf_dir: training state (the PQ-codebook
# pattern). bpe_train is 8 driver-coordinated rounds; refitting it on
# every query build would re-run all 8 aggregates.
@artifact
def _bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    words = (
        d.select(F.explode(T.subword_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return TP.bpe_train(words, "w", "cnt", _BPE_MERGES)


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _bpe_apply_oracle(n: int) -> str:
    """The apply-side oracle re-derives the merges with the SAME
    unrolled trainer CTEs as bpe_train_merges, then applies them to
    every document's pre-tokens as n chained replaces — train and
    apply both proven in one hash compare."""
    train = _bpe_train_oracle(n)
    ctes = train[len("WITH ") : train.rindex("SELECT CAST(0 AS INT)")]
    ctes = ctes.rstrip().rstrip(",")
    # strip the trailing merge-table UNION (everything after the last
    # w{n} block) and keep only the CTE chain
    apply_blocks = [
        rf"""dt AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text),
                     '{T.SUBWORD_PATTERN}')) AS w
      FROM documents
    ),
    a0 AS (
      SELECT doc_id,
             '  ' || array_to_string(regexp_extract_all(w, '.'), '  ') || '  '
               AS ws
      FROM dt
    )"""
    ]
    for i in range(n):
        apply_blocks.append(
            f"""a{i + 1} AS (
      SELECT doc_id,
             replace(ws, ' ' || replace(b.pr, ' ', '  ') || ' ',
                     ' ' || replace(b.pr, ' ', '') || ' ') AS ws
      FROM a{i}, b{i} b
    )"""
        )
    return (
        "WITH "
        + ctes
        + ",\n    "
        + ",\n    ".join(apply_blocks)
        + f"""
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_pretokens,
           CAST(SUM(len(string_split(trim(ws), '  '))) AS BIGINT)
             AS n_bpe_tokens
    FROM a{n}
    GROUP BY doc_id
    """
    )


@query("bpe_segment_stats", oracle=_bpe_apply_oracle(_BPE_MERGES))
def bpe_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: apply the TRAINED BPE merges back to the corpus — per
    document, the pre-token count and the post-merge token count (the
    number the trainer's data loader actually budgets). Serving is one
    narrow map pass: each pre-token is segmented by the 8-deep literal
    replace chain built from the learned merges (parsed from one SQL
    string), symbols counted per token and summed per doc inside
    ``transform``/``aggregate`` — no explode, no shuffle beyond the
    small-scan fan-out. The oracle re-derives the merges AND the
    application, so train+apply are proven together."""
    merges = _bpe_merges(spark, sf_dir)
    d = parallelize_small_scan(
        spark, load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    spaced = (
        "concat('  ', array_join(regexp_extract_all(t, '.', 0), '  '), '  ')"
    )
    chain = spaced
    for _, pair, merged in merges:
        pat = " " + pair.replace(" ", "  ") + " "
        chain = (
            f"replace({chain}, {_sql_quote(pat)}, "
            f"{_sql_quote(' ' + merged + ' ')})"
        )
    toks = d.select(
        "doc_id", T.subword_tokens(F.col("text")).alias("tk")
    )
    return toks.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_pretokens"),
        F.expr(
            f"aggregate(transform(tk, t -> "
            f"size(split(trim({chain}), '  '))), 0L, (acc, x) -> acc + x)"
        ).alias("n_bpe_tokens"),
    )


def _corpus_curated_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.queries import importance as IQ

    ratio = (
        f"ln((CAST(tgt_cnt + 1 AS DOUBLE) / CAST(t_tot + {IQ._D} AS DOUBLE))"
        f" / (CAST(raw_cnt + 1 AS DOUBLE) / CAST(r_tot + {IQ._D} AS DOUBLE)))"
    )
    return rf"""
    WITH {IQ._BUCKET_CTES},
    prof AS (
      SELECT b,
             COUNT(*) AS raw_cnt,
             SUM(CASE WHEN lang = '{IQ._TARGET_LANG}' THEN 1 ELSE 0 END)
               AS tgt_cnt
      FROM ex GROUP BY b
    ),
    tot AS (SELECT SUM(raw_cnt) AS r_tot, SUM(tgt_cnt) AS t_tot FROM prof),
    ratios AS (SELECT b, {IQ._quant(ratio)} AS lw FROM prof, tot),
    score AS (
      SELECT e.doc_id, SUM(r.lw) AS s
      FROM ex e JOIN ratios r ON e.b = r.b GROUP BY e.doc_id
    ),
    sel AS (
      SELECT d.doc_id, d.text
      FROM documents d JOIN score s ON s.doc_id = d.doc_id
      WHERE s.s > 0
    ),
    uniq AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (
                 PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                 ORDER BY doc_id
               ) AS rn
        FROM sel
      ) WHERE rn = 1
    ),
    lab AS (
      SELECT doc_id, text,
             CASE WHEN {_ID_HASH(13)} % 100 < 80 THEN 'train'
                  WHEN {_ID_HASH(13)} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM uniq
    ),
    base AS (
      SELECT doc_id, split,
             CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT)
               AS n_tokens,
             {_ID_HASH(7)} % 8 AS shard
      FROM lab
    ),
    cum AS (
      SELECT doc_id, split, n_tokens, shard,
             CAST(SUM(n_tokens) OVER (PARTITION BY split, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS BIGINT) AS cum_excl
      FROM base
    )
    SELECT doc_id, split, n_tokens, shard,
           CAST(FLOOR(cum_excl / 256) AS BIGINT) AS pack_id,
           cum_excl % 256 AS pack_offset
    FROM cum
    """


@query("corpus_prepare_curated", oracle=_corpus_curated_oracle())
def corpus_prepare_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6×X3: the composed pipeline with MODEL-BASED curation — document
    selection by DSIR importance weight (keep docs more target-like
    than the raw corpus, lw > 0) instead of the heuristic quality
    score, then exact dedup → deterministic split → per-(split, shard)
    packing. The selection stage is the zero-shuffle scoring fold
    (model fitted once, cached per sf_dir), so swapping the heuristic
    for a learned model adds NOTHING to the shuffle count: the whole
    curated pipeline still moves data twice (dedup survivor, pack
    window). The oracle re-derives model, selection, and every
    downstream stage in one SQL chain. Decimal threshold compare is
    exact in both engines."""
    from multichannel_commerce_data_pipeline_spark.operators.dedup import exact_dedup
    from multichannel_commerce_data_pipeline_spark.queries import importance as IQ
    from multichannel_commerce_data_pipeline_spark.operators import importance as I
    from multichannel_commerce_data_pipeline_spark.functions import portable_hash64

    d = parallelize_small_scan(
        spark, load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    with_b = d.withColumn("bs", I.feature_buckets(F.col("text")))
    ratios = IQ.dsir_ratios(spark, sf_dir)
    # stage_filter: the DSIR scoring fold must run AFTER the small-scan
    # fan-out, not pushed into the serial parquet scan task
    sel = stage_filter(
        with_b.withColumn("lw", I.score_buckets(F.col("bs"), ratios)),
        F.col("lw") > 0,
    ).select("doc_id", "text")
    uniq = exact_dedup(
        sel.withColumn("f", T.fingerprint(F.col("text"))), ["f"], "doc_id"
    ).drop("f")
    bucket = F.pmod(
        portable_hash64(F.col("doc_id").cast("string"), 13), F.lit(100)
    )
    labeled = uniq.withColumn(
        "split",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test")),
    )
    return TP.assign_packs(
        labeled,
        F.size(T.tokens(F.col("text"))),
        budget=256,
        n_shards=8,
        extra_partition_cols=("split",),
    ).select("doc_id", "split", "n_tokens", "shard", "pack_id", "pack_offset")


def _decon_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.queries.dedup import (
        _SUBSTR_ISLANDS_TAIL,
    )

    quality = T.oracle_quality_score(
        "regexp_extract_all(lower(text), '\\S+')", "text"
    )
    return (
        rf"""
    WITH kept AS (
      SELECT doc_id, text FROM documents
      WHERE {quality} >= 0.5
    ),
    uniq AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (
                 PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                 ORDER BY doc_id
               ) AS rn
        FROM kept
      ) WHERE rn = 1
    ),
    lab AS (
      SELECT doc_id, text,
             CASE WHEN {_ID_HASH(13)} % 100 < 80 THEN 'train'
                  WHEN {_ID_HASH(13)} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM uniq
    ),
    ws AS (
      SELECT doc_id, split, string_split(text, ' ') AS w FROM lab
    ),
    grams AS (
      SELECT doc_id, split, i AS pos,
             array_to_string(list_slice(w, i, i + 7), ' ') AS g
      FROM ws, LATERAL unnest(
        generate_series(1, greatest(len(w) - 7, 0))
      ) AS t(i)
    ),
    ev AS (
      SELECT DISTINCT g FROM grams WHERE split <> 'train'
    ),
    starts AS (
      SELECT doc_id, pos FROM grams
      WHERE split = 'train' AND g IN (SELECT g FROM ev)
    )"""
        + _SUBSTR_ISLANDS_TAIL
        + rf""",
    cleanw AS (
      SELECT ws.doc_id, string_agg(ws.w[i], ' ' ORDER BY i) AS ct
      FROM ws, LATERAL unnest(generate_series(1, len(ws.w))) AS t(i)
      WHERE NOT EXISTS (
        SELECT 1 FROM spans sp
        WHERE sp.doc_id = ws.doc_id AND i BETWEEN sp.s AND sp.e
      )
      GROUP BY ws.doc_id
    ),
    cleaned AS (
      SELECT ws.doc_id, ws.split, COALESCE(cleanw.ct, '') AS text
      FROM ws LEFT JOIN cleanw USING (doc_id)
    ),
    base AS (
      SELECT doc_id, split,
             CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT)
               AS n_tokens,
             {_ID_HASH(7)} % 8 AS shard
      FROM cleaned
    ),
    cum AS (
      SELECT doc_id, split, n_tokens, shard,
             CAST(SUM(n_tokens) OVER (PARTITION BY split, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS BIGINT) AS cum_excl
      FROM base
    )
    SELECT doc_id, split, n_tokens, shard,
           CAST(FLOOR(cum_excl / 256) AS BIGINT) AS pack_id,
           cum_excl % 256 AS pack_offset
    FROM cum
    """
    )


# The curated-and-labeled words frame (quality filter -> exact dedup),
# persisted per (session, sf_dir) because the decontaminated pipeline's
# DAG is a diamond — the gram index AND the rewrite both hang off it,
# and Spark has no DataFrame-level CSE, so without materialization the
# filter+dedup subtree would execute twice. At 100 TB this persist is
# the natural pipeline checkpoint anyway: you materialize the curated
# corpus once, then derive the contamination index and the rewrite
# from the stored table.
@artifact
def _curated_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from multichannel_commerce_data_pipeline_spark.operators.dedup import (
        exact_dedup,
    )

    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    # staged tokenize-once form, like corpus_prepare (r16
    # optimization round, guide §4.2)
    toked = d.select(
        "doc_id", "text", T.tokens(F.col("text")).alias("__toks")
    )
    kept = stage_filter(
        toked,
        T.quality_score_from(F.col("__toks"), F.col("text")) >= 0.5,
    ).select("doc_id", "text")
    uniq = exact_dedup(
        kept.withColumn("f", T.fingerprint(F.col("text"))), ["f"], "doc_id"
    ).drop("f")
    w = uniq.select(
        F.col("doc_id").alias("doc"),
        F.split(F.col("text"), " ").alias("words"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    w.count()
    return w


@query("corpus_prepare_decontaminated", oracle=_decon_oracle())
def corpus_prepare_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6xX1: the composed pipeline with the one step a real
    pretraining pipeline cannot ship without — substring-level
    DECONTAMINATION between dedup and packing. Quality filter (>= 0.5)
    -> exact dedup -> deterministic 80/10/10 split -> every maximal
    >= 8-word span of a TRAIN document that also appears anywhere in
    the val/test splits is CUT from the train document
    (contamination_span_bounds + substring_dedup_rewrite, the Lee et
    al. 2022 train-vs-eval form) -> per-(split, shard) packing over the
    POST-CUT token counts. The resulting train split provably shares no
    8-word window with the held-out splits — the guarantee
    corpus_prepare's split-scoped packing alone cannot give.

    Shuffle budget: dedup survivor window, one narrow digest-triple
    group-by for the eval digest set (which then BROADCASTS onto the
    train grams — the train corpus never shuffles for the marking),
    the per-doc islands window, and the pack window. Split membership
    is a pure hash of doc_id, recomputed map-side wherever needed — no
    label joins anywhere; the curated words frame is persisted once
    (the DAG diamond's natural checkpoint)."""
    from multichannel_commerce_data_pipeline_spark.operators import dedup as D
    from multichannel_commerce_data_pipeline_spark.queries.dedup import (
        _SUBSTR_MIN_WORDS,
    )

    words = _curated_words(spark, sf_dir)
    grams = D.substring_grams(words, _SUBSTR_MIN_WORDS)
    bucket = F.pmod(
        portable_hash64(F.col("doc").cast("string"), 13), F.lit(100)
    )
    bounds = D.contamination_span_bounds(
        grams.filter(bucket < 80),
        grams.filter(bucket >= 80),
        _SUBSTR_MIN_WORDS,
    )
    cleaned = D.substring_dedup_rewrite(bounds, words).select(
        F.col("doc").alias("doc_id"), F.col("clean_text").alias("text")
    )
    split_bucket = F.pmod(
        portable_hash64(F.col("doc_id").cast("string"), 13), F.lit(100)
    )
    labeled = cleaned.withColumn(
        "split",
        F.when(split_bucket < 80, F.lit("train"))
        .when(split_bucket < 90, F.lit("val"))
        .otherwise(F.lit("test")),
    )
    return TP.assign_packs(
        labeled,
        F.size(T.tokens(F.col("text"))),
        budget=256,
        n_shards=8,
        extra_partition_cols=("split",),
    ).select("doc_id", "split", "n_tokens", "shard", "pack_id", "pack_offset")


@query(
    "balanced_class_sample",
    oracle=f"""
    WITH counts AS (
      SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
    ),
    keyed AS (
      SELECT d.doc_id, d.lang, d.n_chars,
             {_ID_HASH(71)} AS h, c.cnt
      FROM documents d JOIN counts c USING (lang)
    ),
    kept AS (
      SELECT * FROM keyed
      WHERE h / 1152921504606846976.0 < LEAST(1.0, 320.0 / cnt)
    ),
    ranked AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
      FROM kept
    )
    SELECT doc_id, lang, n_chars FROM ranked WHERE rk <= 40
    """,
)
def balanced_class_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced deterministic sampling: exactly ``n_per = 40``
    documents per language, chosen as the class's smallest-hash rows —
    the rebalancing step before training on a corpus whose class mix is
    skewed (every class contributes equally regardless of raw share).

    Scale shape: the naive form sorts EVERY class member in the
    per-class window. Here a hash prefilter (keep fraction
    ``min(1, 8·n_per / class_count)``, from a broadcast per-class count
    agg) cuts the window's input to ~``8·n_per`` expected rows per
    class BEFORE the shuffle, so the sort input is bounded by sample
    size, not corpus size — the giant-class window stops being the
    bottleneck. The top-``n_per`` smallest hashes survive the prefilter
    unless fewer than ``n_per`` rows land under it (Binomial tail at
    8× oversampling — negligible, and the oracle applies the identical
    prefilter so cross-engine equality is exact by construction either
    way). Hash = the portable 60-bit md5 (same family as the dataset
    split), so membership is stable under corpus growth and identical
    in DuckDB."""
    n_per, oversample = 40, 8
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    keyed = docs.join(F.broadcast(counts), "lang").withColumn(
        "n_target", F.lit(n_per)
    )
    return TP.smallest_hash_topn(keyed, "lang", "doc_id", 71, oversample).select(
        "doc_id", "lang", "n_chars"
    )


@query(
    "domain_cap_sample",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS domain_docs FROM documents GROUP BY source
    ),
    keyed AS (
      SELECT d.doc_id, d.source, c.domain_docs,
             {_ID_HASH(43)} AS h
      FROM documents d JOIN counts c USING (source)
    ),
    kept AS (
      SELECT * FROM keyed
      WHERE h / 1152921504606846976.0 < LEAST(1.0, 160.0 / domain_docs)
    ),
    ranked AS (
      SELECT doc_id, source, domain_docs,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
      FROM kept
    )
    SELECT doc_id, source, domain_docs FROM ranked WHERE rk <= 20
    """,
)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6+: per-domain document cap — the C4/RefinedWeb URL-level
    curation pass between dedup and mixing: at most 20 docs per
    registered domain (here the `source` column), chosen as the
    domain's smallest-hash members. One-sided, unlike every sampling
    sibling: under-cap domains pass through WHOLE (never oversampled),
    only the head of the domain distribution — link farms, mirrors —
    is flattened. The hash prefilter (keep min(1, 8*20/domain_docs))
    bounds every domain's window sort to ~160 expected rows regardless
    of domain size; the oracle applies the identical prefilter, so
    cross-engine equality is exact (operators/training_prep.py
    domain_cap_sample)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return TP.domain_cap_sample(docs, "source", cap=20)


def _temp_mix_oracle() -> str:
    share = oracle_dround("CAST(w AS DOUBLE) / CAST(tot AS DOUBLE)", 6)
    return rf"""
    WITH counts AS (
      SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
    ),
    weighted AS (
      SELECT lang, cnt,
             CAST({oracle_dround('sqrt(cnt)', 6)} AS DECIMAL(28,6)) AS w
      FROM counts
    ),
    tot AS (SELECT SUM(w) AS tot FROM weighted),
    cs AS (
      -- share > 0: quantized tail shares can round to exactly 0 under
      -- heavy skew; floor(cnt/0) diverges cross-engine (Spark
      -- saturates, DuckDB errors) and a share-0 quota is 0 anyway
      SELECT lang, cnt, share FROM (
        SELECT lang, cnt, {share} AS share FROM weighted, tot
      ) WHERE share > 0
    ),
    t AS (
      SELECT CAST(MIN(FLOOR(cnt / share)) AS BIGINT) AS t_max FROM cs
    ),
    quota AS (
      SELECT lang, cnt,
             CAST(FLOOR(share * t_max) AS BIGINT) AS n_target
      FROM cs, t
    ),
    keyed AS (
      SELECT d.doc_id, d.lang, q.cnt, q.n_target, {_ID_HASH(29)} AS h
      FROM documents d JOIN quota q USING (lang)
    ),
    kept AS (
      SELECT * FROM keyed
      WHERE h / 1152921504606846976.0
            < LEAST(1.0, (8.0 * n_target) / cnt)
    ),
    ranked AS (
      SELECT doc_id, lang, n_target,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
      FROM kept
    )
    SELECT doc_id, lang, n_target FROM ranked WHERE rk <= n_target
    """


@query("temperature_mix_sample", oracle=_temp_mix_oracle())
def temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: temperature-smoothed mixture sampling — the XLM-R/mT5
    multilingual rebalancing rule: target shares proportional to
    count^0.5, so head languages are downweighted and tail languages
    upweighted without balanced sampling's hard equality. Shares are
    derived from the data IN-PLAN (contrast target_mix_sample's fixed
    spec), then the same largest-feasible-quota machinery applies.
    alpha = 0.5 rides on sqrt (correctly rounded in IEEE, bit-identical
    cross-engine); the share denominator sums DECIMAL-quantized
    addends so double addition order cannot diverge
    (operators/training_prep.py temperature_mix_sample)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return TP.temperature_mix_sample(docs, "lang")


_MIX_SHARES = {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.1, "fr": 0.1}
_MIX_VALUES = ", ".join(
    f"('{k}', CAST({v} AS DOUBLE))" for k, v in sorted(_MIX_SHARES.items())
)


@query(
    "target_mix_sample",
    oracle=rf"""
    WITH counts AS (
      SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
    ),
    shares AS (
      SELECT * FROM (VALUES {_MIX_VALUES}) AS s(lang, share)
    ),
    cs AS (
      -- share > 0 mirrors the engine's guard (see _temp_mix_oracle)
      SELECT c.lang, c.cnt, s.share FROM counts c JOIN shares s USING (lang)
      WHERE s.share > 0
    ),
    t AS (
      SELECT CAST(MIN(FLOOR(cnt / share)) AS BIGINT) AS t_max FROM cs
    ),
    quota AS (
      SELECT lang, cnt,
             CAST(FLOOR(share * t_max) AS BIGINT) AS n_target
      FROM cs, t
    ),
    keyed AS (
      SELECT d.doc_id, d.lang, q.cnt, q.n_target, {_ID_HASH(29)} AS h
      FROM documents d JOIN quota q USING (lang)
    ),
    kept AS (
      SELECT * FROM keyed
      WHERE h / 1152921504606846976.0
            < LEAST(1.0, (8.0 * n_target) / cnt)
    ),
    ranked AS (
      SELECT doc_id, lang, n_target,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
      FROM kept
    )
    SELECT doc_id, lang, n_target FROM ranked WHERE rk <= n_target
    """,
)
def target_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: target-mixture sampling (the Pile/Dolma mixing step) — keep
    the LARGEST corpus whose language composition matches the target
    shares (en 40 / zh 20 / es 20 / de 10 / fr 10) exactly, without
    oversampling any class: T = min floor(count/share) is the feasible
    total, each class keeps its floor(share*T) smallest-hash members.
    Distinct from balanced_class_sample (equal n per class) and from
    source_epoch_expand (oversampling WITH replacement): this is the
    downsampling-to-proportions form real mixture specs need. Entirely
    in-plan — bounded count agg, broadcast share/T frames, hash
    prefilter bounding every class's window sort to ~8x its quota
    (operators/training_prep.py mixture_quota_sample)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return TP.mixture_quota_sample(docs, "lang", _MIX_SHARES)


_WS_KEY = (
    f"-ln(({_ID_HASH(137)} + 1) / 1152921504606846976.0)"
    " / CAST(n_chars AS DOUBLE)"
)


@query(
    "weighted_corpus_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             {oracle_dround(_WS_KEY, 6)} AS k
      FROM documents WHERE n_chars > 0
    ),
    ranked AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rk
      FROM keyed
    )
    SELECT doc_id, lang, n_chars FROM ranked WHERE rk <= 100
    """,
)
def weighted_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    exponential race): draw 100 documents with inclusion probability
    increasing in the weight (here ``n_chars`` — swap in any quality
    score), deterministically. Each doc gets an exponential arrival
    key ``-ln(u)/w`` with ``u`` derived from the portable 60-bit md5
    hash (never 0 — the +1 shift keeps u in (0, 1]); the k smallest
    keys ARE an exact E-S weighted sample, so re-runs, engines, and
    incremental re-draws agree row-for-row. Scale shape: a pure
    map-side key projection + global top-k — TakeOrderedAndProject,
    per-partition heaps, no full sort, no shuffle beyond k rows per
    partition. Keys quantize through dround(6) so cross-engine libm
    ln() agrees bit-for-bit; quantization ties break on doc_id in both
    engines."""
    from multichannel_commerce_data_pipeline_spark.functions import (
        dround,
        portable_hash64,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    u = (portable_hash64(F.col("doc_id").cast("string"), 137) + 1) / F.lit(
        float(1 << 60)
    )
    key = dround(-F.log(u) / F.col("n_chars").cast("double"), 6)
    return (
        docs.filter(F.col("n_chars") > 0)
        .withColumn("k", key)
        .orderBy("k", "doc_id")
        .limit(100)
        .select("doc_id", "lang", "n_chars")
    )


def _cluster_split_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.queries.dedup import (
        _THRESHOLD,
        _minhash_lsh_oracle,
    )

    pair_sql = _minhash_lsh_oracle(_THRESHOLD)
    rep_hash = oracle_hash64("CAST(rep AS VARCHAR)", 13)
    return f"""
    WITH RECURSIVE
    prs AS (SELECT doc_a, doc_b FROM ({pair_sql})),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM prs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM prs
    ),
    reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    cl AS (SELECT u AS doc, MIN(v) AS cluster_id FROM reach GROUP BY u),
    rep AS (
      SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS rep
      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc
    ),
    s AS (SELECT doc_id, rep, {rep_hash} % 100 AS bucket FROM rep)
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_identities,
           CAST(COUNT(*) - COUNT(DISTINCT rep) AS BIGINT) AS n_dup_docs
    FROM s GROUP BY 1
    """


@artifact
def _doc_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, cluster_id) for every document in a near-dup pair — the
    corpus-version cluster map, built once per sf_dir (LSH pairs + CC)
    and persisted repartitioned on ``doc`` so the downstream doc-keyed
    left join needs no re-exchange of the cached side."""

    from multichannel_commerce_data_pipeline_spark.operators import dedup as D
    from multichannel_commerce_data_pipeline_spark.queries.dedup import (
        _THRESHOLD,
    )

    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(d, "doc_id", "text", threshold=_THRESHOLD)
    labels = D.dedup_clusters(pairs).repartition(32, "doc").persist()
    labels.count()
    return labels


@query("cluster_safe_split", oracle=_cluster_split_oracle())
def cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6/X1 composed: LEAKAGE-SAFE train/val/test split — near-duplicate
    CLUSTERS are assigned to splits atomically, so a document's near-dups
    can never land in a different split than it does (the eval-
    contamination channel a per-doc hash split leaves wide open: Lee et
    al. 2022 found dev-set near-dups in C4's train split for exactly
    this reason). Composition: LSH near-dup pairs -> connected
    components -> every doc inherits its cluster representative (min
    doc id; unclustered docs represent themselves) -> the STANDARD
    `dataset_split` hash (same seed 13) applied to the REPRESENTATIVE,
    so unclustered docs keep their dataset_split assignment bit-for-bit
    and only clustered docs move. Scale shape: the pair/CC stages are
    the proven dedup path (banded LSH, never all-pairs); the rep
    assignment is one keyed left join against the (small) clustered-doc
    frame; the split itself is map-side hash arithmetic. The cluster
    LABEL frame is a corpus-version artifact cached per sf_dir
    (persisted repartitioned on its join key — the LSH-signature-index
    / co-purchase-edge storage-investment rule): re-cutting splits
    never re-runs pair generation or CC, only the join + hash + rollup,
    which is exactly the production split-rerun path. Oracle replays
    the full chain with a recursive transitive closure. Output:
    per-split doc / identity counts (n_dup_docs = redundant members —
    the mass a downstream keep-one dedup would drop);
    zero-cross-split-pairs is asserted structurally in
    tests/test_operators.py."""
    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    clusters = _doc_cluster_labels(spark, sf_dir)
    rep = (
        d.select("doc_id")
        .join(clusters, F.col("doc_id") == F.col("doc"), "left")
        .select(
            "doc_id", F.coalesce("cluster_id", "doc_id").alias("rep")
        )
    )
    bucket = portable_hash64(F.col("rep").cast("string"), 13) % 100
    labeled = rep.select(
        "doc_id",
        "rep",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    return labeled.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("rep").alias("n_identities"),
        (F.count(F.lit(1)) - F.countDistinct("rep")).alias("n_dup_docs"),
    )


_NEG_K = 4       # negatives kept per user
_NEG_CANDS = 8   # hash candidates drawn before the positive anti-join
_NEG_SEED = 73

# part-key cardinality is a corpus scalar (p_partkey is dense 0..P-1 in
# the fixture): one bounded count per sf_dir, cached like the BM25
# corpus stats, embedded as a literal on both engines.
@artifact
def _n_parts(spark: SparkSession, sf_dir: str) -> int:
    return load(spark, sf_dir, "part").count()


# The distinct (customer, part) purchase set is the shared positives
# index of the sampling family (uniform negatives, hard negatives):
# one orders x lineitem join per corpus version, persisted partitioned
# on the anti-join key.
@artifact
def _positives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pos = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("part"),
        )
        .distinct()
        # NOTE (r16 optimization round): re-keying this layout to
        # the full anti-join key (cust, part) was tried and
        # MEASURED SLOWER (hard_negative_samples 0.82 -> 1.44 s
        # min, interleaved A/B): both consumers' anti-joins
        # broadcast the positives set, so the cache layout never
        # feeds a join, and the matching layout only baited the
        # planner into a sort-merge anti-join (full sort of the
        # cached side per call) where the broadcast was cheaper.
        .repartition(spark.sparkContext.defaultParallelism, "cust")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pos.count()
    return pos


def _neg_oracle() -> str:
    h = oracle_hash64(
        "concat(CAST(cust AS VARCHAR), ':', CAST(i AS VARCHAR))", _NEG_SEED
    )
    return f"""
    WITH np AS (SELECT CAST(COUNT(*) AS BIGINT) AS p FROM part),
    u AS (SELECT DISTINCT o_custkey AS cust FROM orders),
    pos AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    cand AS (
      SELECT u.cust, i.i, {h} % np.p AS part
      FROM u
      CROSS JOIN (SELECT unnest(range(1, {_NEG_CANDS + 1})) AS i) i
      CROSS JOIN np
    ),
    neg AS (
      SELECT c.cust, c.i, c.part FROM cand c
      WHERE NOT EXISTS (
        SELECT 1 FROM pos WHERE pos.cust = c.cust AND pos.part = c.part
      )
    ),
    dedup AS (
      SELECT cust, i, part,
             ROW_NUMBER() OVER (PARTITION BY cust, part ORDER BY i) AS dup
      FROM neg
    )
    SELECT cust AS custkey, part AS neg_part,
           CAST(rnk AS BIGINT) AS neg_rank
    FROM (
      SELECT cust, part, i,
             ROW_NUMBER() OVER (PARTITION BY cust ORDER BY i) AS rnk
      FROM dedup WHERE dup = 1
    ) WHERE rnk <= {_NEG_K}
    """


@query("negative_samples", oracle=_neg_oracle())
def negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: deterministic negative sampling for recommender/contrastive
    training — per customer, 4 part ids the customer did NOT buy,
    drawn by a seeded portable hash so every epoch and every engine
    regenerates the identical triplet set (the reproducibility property
    dataset_split/weighted_corpus_sample are built on; rand() would be
    unauditable). Per user: 8 hash candidates generated
    MAP-SIDE (sequence explode — no candidate table, no shuffle),
    anti-joined against the purchased (cust, part) set, collision-
    deduped, first 4 by draw index kept via a keyed window. The
    anti-join is the only fact-sized shuffle; candidate generation is
    O(users x 8) arithmetic. Hash-space coverage means a
    user with few purchases almost always fills all 4 slots;
    under-filled users surface naturally rather than silently sampling
    positives."""
    nparts = _n_parts(spark, sf_dir)
    users = (
        load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("cust")).distinct()
    )
    pos = _positives(spark, sf_dir)
    cand = users.select(
        "cust", F.explode(F.sequence(F.lit(1), F.lit(_NEG_CANDS))).alias("i")
    ).select(
        "cust",
        "i",
        (
            portable_hash64(
                F.concat_ws(
                    ":", F.col("cust").cast("string"), F.col("i").cast("string")
                ),
                _NEG_SEED,
            )
            % F.lit(nparts)
        ).alias("part"),
    )
    neg = cand.join(pos, ["cust", "part"], "left_anti")
    from pyspark.sql import Window

    # collision dedup as an aggregate, not a window: min(i) per
    # (cust, part) is the same "first draw wins" rule, but a
    # HashAggregate partial-aggregates map-side and needs no sort,
    # and its required distribution is exactly the anti-join's
    # output partitioning — zero extra exchanges
    wr = Window.partitionBy("cust").orderBy("i")
    return (
        neg.groupBy("cust", "part")
        .agg(F.min("i").alias("i"))
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _NEG_K)
        .select(
            F.col("cust").alias("custkey"),
            F.col("part").alias("neg_part"),
            F.col("rnk").cast("long").alias("neg_rank"),
        )
    )


_HARD_K = 4


def _hard_neg_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.queries.joins import (
        _CP_EDGES_CTE,
    )

    return f"""
    WITH {_CP_EDGES_CTE},
    pos AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    cand AS (
      SELECT p.cust, e.dst AS part, CAST(SUM(e.w) AS BIGINT) AS affinity
      FROM pos p JOIN edges e ON p.part = e.src
      GROUP BY 1, 2
    ),
    hard AS (
      SELECT c.cust, c.part, c.affinity FROM cand c
      WHERE NOT EXISTS (
        SELECT 1 FROM pos WHERE pos.cust = c.cust AND pos.part = c.part
      )
    )
    SELECT cust AS custkey, part AS neg_part, affinity,
           CAST(rnk AS BIGINT) AS neg_rank
    FROM (
      SELECT cust, part, affinity,
             ROW_NUMBER() OVER (PARTITION BY cust
                                ORDER BY affinity DESC, part) AS rnk
      FROM hard
    ) WHERE rnk <= {_HARD_K}
    """


@query("hard_negative_samples", oracle=_hard_neg_oracle())
def hard_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: HARD negative mining — the contrastive-training complement to
    negative_samples' uniform draws: per customer, the parts most
    strongly co-purchased with what they DID buy (summed co-purchase
    edge weight) that they did NOT buy. These near-miss negatives are
    what sharpens a retrieval/recommendation model once random
    negatives become trivial (the in-batch-negatives -> hard-negatives
    curriculum). One join of the positive (cust, part) set onto the
    cached symmetrized co-purchase edge index (shuffle on part key),
    one partial-aggregated affinity sum, one anti-join back against
    positives, and a per-customer top-4 window over the
    bounded candidate frame. Affinity is an integer co-order count —
    exact at any partitioning."""
    from multichannel_commerce_data_pipeline_spark.queries.joins import (
        _copurchase_edges,
    )

    pos = _positives(spark, sf_dir)
    edges = _copurchase_edges(spark, sf_dir)
    cand = (
        pos.join(edges, pos["part"] == edges["src"])
        .groupBy("cust", F.col("dst").alias("npart"))
        .agg(F.sum("w").alias("affinity"))
    )
    hard = cand.join(
        pos.select("cust", F.col("part").alias("npart")),
        ["cust", "npart"],
        "left_anti",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cust").orderBy(F.desc("affinity"), F.asc("npart"))
    return (
        hard.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _HARD_K)
        .select(
            F.col("cust").alias("custkey"),
            F.col("npart").alias("neg_part"),
            F.col("affinity"),
            F.col("rnk").cast("long").alias("neg_rank"),
        )
    )


_REC_CUTOFF = "2000-01-01"
_REC_K = 3


# The trained item-to-item model (train-side top-k companion recs +
# user train profiles) is a once-per-corpus-version artifact like the
# IVF index or k-means centroids: built and persisted once, every
# evaluation pass pays only the scoring joins.
@artifact
def _rec_model(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from multichannel_commerce_data_pipeline_spark.operators.basket import (
        copurchase_pair_counts,
    )
    from multichannel_commerce_data_pipeline_spark.queries.joins import (
        _basket_items,
    )

    cutoff = F.lit(_REC_CUTOFF).cast("timestamp")
    train_orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey")
    )
    # Shared cold build (r8 verdict item #4): the train-side basket
    # frame derives from the SAME persisted l_orderkey-partitioned
    # item index the co-purchase edge build reads, instead of its
    # own orders⨝lineitem + distinct. Exact: the basket cap is
    # per-order and an order's distinct item set does not depend on
    # which other orders exist, so cap(all baskets) semi-joined to
    # the train keys equals cap(train baskets).
    #
    # r17: pairs generate MAP-SIDE from the capped sorted-set
    # prefix (operators/basket.copurchase_pair_counts — the r16
    # copurchase_pairs shape), replacing the capped equi self-join
    # whose shared `baskets` subtree (window cap + semi-join)
    # Spark re-executed once per join side (no DataFrame-level
    # CSE). The sorted collect_set prefix IS the MAX_BASKET_SIZE
    # smallest-items rule, so the pair supports are identical;
    # the directed (pa, pb, w) frame the top-k window consumes is
    # the symmetric closure of the unordered counts (co-occurrence
    # is symmetric: w(pa,pb) = w(pb,pa)).
    items = _basket_items(spark, sf_dir).join(
        F.broadcast(train_orders.select("o_orderkey")),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_semi",
    )
    und = copurchase_pair_counts(items, "l_orderkey", "l_partkey", min_baskets=1)
    cp = und.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("pa"),
                    F.col("item_b").alias("pb"),
                    F.col("n_baskets").alias("w"),
                ),
                F.struct(
                    F.col("item_b").alias("pa"),
                    F.col("item_a").alias("pb"),
                    F.col("n_baskets").alias("w"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    wr = Window.partitionBy("pa").orderBy(F.desc("w"), F.asc("pb"))
    recs = (
        cp.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _REC_K)
        .select("pa", "pb")
        .repartition(
            spark.sparkContext.defaultParallelism, "pa"
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Train profile off the same shared index: custkey is
    # functionally dependent on orderkey, so broadcast-joining the
    # (already per-order-distinct) basket frame to the train orders
    # and collapsing to (cust, part) equals the old three-column
    # distinct over orders⨝lineitem — one shuffle instead of two.
    profile = (
        _basket_items(spark, sf_dir)
        .join(
            F.broadcast(train_orders),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("part"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # recs (train-side top-k companions) and profile (train user
    # profiles) are INDEPENDENT materializations off the shared
    # basket index — run the two persist-filling jobs concurrently
    # so the second back-fills the first's stage tail (r17, guide
    # §2.6; the wave-8 idiom). user_recs below consumes both, so
    # it waits on both.
    concurrently(spark, recs.count, profile.count)
    # each user's servable rec set is part of the trained artifact
    # too (companions of the train profile minus already-bought):
    # persisting it keeps the per-evaluation cost at the scoring
    # join, the shape a feature store would serve at runtime.
    # persisted on the FULL scoring-join key: Spark's co-partition
    # check for joins requires ALL cluster keys by default
    # (spark.sql.requireAllClusterKeysForCoPartition), so a
    # cust-only layout was re-exchanged by (cust, part) on every
    # evaluation — laying the cache out on (cust, part) makes the
    # scoring join exchange-free on the cached side (r16
    # optimization round, guide §2.4)
    user_recs = (
        profile.join(recs, profile["part"] == recs["pa"])
        .select("cust", F.col("pb").alias("part"))
        .distinct()
        .join(profile, ["cust", "part"], "left_anti")
        .repartition(
            spark.sparkContext.defaultParallelism, "cust", "part"
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    user_recs.count()
    return user_recs, profile


def _rec_eval_oracle() -> str:
    from multichannel_commerce_data_pipeline_spark.functions import oracle_dround
    from multichannel_commerce_data_pipeline_spark.operators.basket import (
        MAX_BASKET_SIZE,
    )

    return f"""
    WITH train_orders AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_orderdate < TIMESTAMP '{_REC_CUTOFF}'
    ),
    test_orders AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '{_REC_CUTOFF}'
    ),
    train_items AS (
      SELECT DISTINCT t.o_orderkey, t.o_custkey, l.l_partkey
      FROM train_orders t JOIN lineitem l ON t.o_orderkey = l.l_orderkey
    ),
    capped AS (
      SELECT o_orderkey, l_partkey FROM (
        SELECT o_orderkey, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                  ORDER BY l_partkey) AS rn
        FROM (SELECT DISTINCT o_orderkey, l_partkey FROM train_items)
      ) WHERE rn <= {MAX_BASKET_SIZE}
    ),
    cp AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM capped a JOIN capped b
        ON a.o_orderkey = b.o_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    recs AS (
      SELECT pa, pb FROM (
        SELECT pa, pb,
               ROW_NUMBER() OVER (PARTITION BY pa ORDER BY w DESC, pb) AS rn
        FROM cp
      ) WHERE rn <= {_REC_K}
    ),
    profile AS (
      SELECT DISTINCT o_custkey AS cust, l_partkey AS part FROM train_items
    ),
    user_recs AS (
      SELECT DISTINCT p.cust, r.pb AS part
      FROM profile p JOIN recs r ON p.part = r.pa
      WHERE NOT EXISTS (
        SELECT 1 FROM profile q WHERE q.cust = p.cust AND q.part = r.pb
      )
    ),
    test_pos AS (
      SELECT DISTINCT t.o_custkey AS cust, l.l_partkey AS part
      FROM test_orders t JOIN lineitem l ON t.o_orderkey = l.l_orderkey
      WHERE t.o_custkey IN (SELECT cust FROM profile)
    ),
    scored AS (
      SELECT tp.cust, tp.part,
             CASE WHEN ur.part IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM test_pos tp
      LEFT JOIN user_recs ur ON tp.cust = ur.cust AND tp.part = ur.part
    )
    SELECT CAST(COUNT(DISTINCT cust) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_test_purchases,
           CAST(SUM(hit) AS BIGINT) AS n_hits,
           {oracle_dround("CAST(SUM(hit) AS DOUBLE) / COUNT(*)", 6)}
             AS hit_rate
    FROM scored
    """


@query("rec_hitrate_eval", oracle=_rec_eval_oracle())
def rec_hitrate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6/X10: offline recommender evaluation, end-to-end in-engine —
    the measurement loop every "frequently bought together" model
    needs before shipping: TEMPORAL split (train < 2000-01-01 <= test,
    the only leakage-safe split for behavioral data — a random split
    would let the model see the future), item-to-item recommendations
    from TRAIN co-purchases only (top-3 companions per part by
    co-order count), each user's rec set = companions of their train
    profile minus already-bought, and held-out hit rate = fraction of
    test purchases that were in the buyer's rec set. Plan: the
    per-basket-quadratic pair build on the train subset under the
    64-item mega-basket cap (copurchase_pairs' straggler guard), a keyed top-k window over part-bounded frames, two
    distinct-collapsed joins, one left join scoring pass, and a single
    global rollup — every count exact, the rate dround-quantized."""
    from multichannel_commerce_data_pipeline_spark.queries.joins import (
        _basket_items,
    )

    user_recs, profile = _rec_model(spark, sf_dir)
    cutoff = F.lit(_REC_CUTOFF).cast("timestamp")
    test_orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= cutoff)
        .select("o_orderkey", "o_custkey")
    )
    # Test side reads the same persisted basket index as the train
    # side (exact: the index is distinct per (order, part) and custkey
    # is a function of orderkey, so the (cust, part) collapse equals
    # the old raw orders⨝lineitem + distinct) — the warm pass pays one
    # broadcast join + one distinct instead of re-scanning lineitem.
    # Semi-join BEFORE the distinct (filter commutes with distinct on
    # its own columns): non-train customers drop map-side before
    # anything shuffles — shuffle fewer bytes (guide §2.3). The
    # distinct's (cust, part) exchange then doubles as the scoring
    # join's distribution: user_recs is persisted hash(cust, part) at
    # the same width, so the SortMergeJoin below adds no exchange on
    # either side (r16 optimization round, guide §2.4).
    test_pos = (
        _basket_items(spark, sf_dir)
        .join(
            F.broadcast(test_orders),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .join(profile.select("cust").distinct(), "cust", "left_semi")
        .distinct()
    )
    scored = test_pos.join(
        user_recs.withColumn("_hit", F.lit(1)), ["cust", "part"], "left"
    )
    return scored.agg(
        F.countDistinct("cust").alias("n_users"),
        F.count(F.lit(1)).alias("n_test_purchases"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hits"),
        dround(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("hit_rate"),
    )


_BUDGET_TOKENS = 12_000


def _budget_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallelize_small_scan(spark, load(spark, sf_dir, "documents"))
    # materialize the token array once per row (the shingles lesson):
    # the score references it three times and n_tokens a fourth
    toked = d.select("doc_id", "text", T.tokens(F.col("text")).alias("__toks"))
    return toked.select(
        "doc_id",
        T.quality_score_from(F.col("__toks"), F.col("text")).alias("q"),
        F.size("__toks").cast("long").alias("n_tokens"),
    )


# the fitted threshold is a corpus statistic like the BM25 stats
# triple — plain collected data (no session-bound handles), cached per
# sf_dir so warm calls skip the histogram scan
@artifact
def _budget_fit(spark: SparkSession, sf_dir: str) -> TP.BudgetFit:
    return TP.token_budget_fit(_budget_scored(spark, sf_dir), _BUDGET_TOKENS)


@query(
    "token_budget_select",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, text,
             regexp_extract_all(lower(text), '\S+') AS t
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             {T.oracle_quality_score('t', 'text')} AS q,
             len(t) AS n_tokens
      FROM tok
    ),
    cum AS (
      SELECT doc_id, q, n_tokens,
             SUM(n_tokens) OVER (ORDER BY q DESC, doc_id) AS c
      FROM scored
    )
    SELECT doc_id, q, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM cum WHERE c <= {_BUDGET_TOKENS}
    """,
)
def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: token-budget corpus selection — keep the highest-quality
    documents whose cumulative token count fits a {B}-token training
    budget (quality DESC, doc_id tie-break; the FineWeb-style "train
    on the best X tokens" gate). The oracle is the naive global
    running sum; the engine computes the identical prefix WITHOUT a
    total order: a bounded quality-bucket histogram finds the
    threshold bucket, everything above it is kept by a map-side
    filter, the fit recurses 1000x finer on the boundary bucket, and
    only the innermost boundary sub-bucket pays an exact window for
    the residual budget (operators/training_prep.py
    token_budget_select)."""
    return TP.token_budget_apply(
        _budget_scored(spark, sf_dir), _budget_fit(spark, sf_dir)
    )


_ADMIT_CAP = 18


# One drain of the streaming admission-quota job per (session, sf_dir):
# the checkpointed stream is a side-effecting run (same rationale as
# the stream_decontaminate / stream_ivf_assign drains).
@artifact
def _stream_admit_run(spark: SparkSession, sf_dir: str) -> str:
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        Feed,
        stream_domain_admit,
    )

    feed = Feed("mcdp_admit_", sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    # two arrival chunks split on the id midpoint, so the feed's
    # global arrival order is doc_id order (chunk boundaries
    # respect it) and per-domain admissions span BOTH micro-batches
    # — the cap must come out right across the state boundary, not
    # because everything shared a batch
    mid = d.agg((F.max("doc_id") / 2).cast("long")).collect()[0][0]
    feed.push(d.filter(F.col("doc_id") <= mid))
    feed.push(d.filter(F.col("doc_id") > mid))
    stream_domain_admit(
        spark,
        feed.glob,
        "doc_id bigint, source string",
        feed.out,
        feed.ckpt,
        cap=_ADMIT_CAP,
    )
    return feed.out


@query(
    "stream_domain_admit_rollup",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY doc_id) AS admit_seq
      FROM documents
    )
    SELECT doc_id, source, CAST(admit_seq AS BIGINT) AS admit_seq
    FROM ranked WHERE admit_seq <= {_ADMIT_CAP}
    """,
)
def stream_domain_admit_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 × T5: the streaming ADMISSION QUOTA made driver-checkable —
    documents arrive as two checkpointed micro-batches (id-ordered
    chunks with pinned file mtimes, so arrival order is doc_id order
    by construction) and each domain admits only its first
    ``_ADMIT_CAP`` arrivals, the per-domain admitted count held as
    applyInPandasWithState state across batches
    (streaming/jobs.stream_domain_admit). The landed admissions ARE
    the result (each doc arrives once; append-across-batches), and
    the oracle is the batch form of arrival-order admission: rank per
    domain by doc_id, keep rank <= cap. ``admit_seq`` — the all-time
    1-based admission index emitted from the state fold — must equal
    the batch rank exactly, which is only possible if the count
    survived the batch boundary: the restart-cumulative claim is in
    the compared values, not just in tests (restart itself is
    asserted in tests/test_streaming.py)."""
    from multichannel_commerce_data_pipeline_spark.streaming.jobs import (
        read_landed,
    )

    out = _stream_admit_run(spark, sf_dir)
    return read_landed(spark, out).select(
        "doc_id", "source", "admit_seq"
    )


# one tuple feeds engine and oracle: per-stratum sample size and the
# prefilter oversampling factor (cut = _WS_OVER * _WS_K / wsum)
_WS_K, _WS_OVER = 24, 8


@query(
    "weighted_sample_topk",
    oracle=f"""
    WITH w AS (
      SELECT c_custkey, c_mktsegment,
             CAST(GREATEST(c_acctbal, 0) + 1.0 AS DECIMAL(18, 2)) AS weight
      FROM customer
    ),
    tot AS (
      SELECT c_mktsegment, SUM(weight) AS wsum,
             COUNT(*) AS n_rows
      FROM w GROUP BY 1
    ),
    keyed AS (
      SELECT w.c_custkey, w.c_mktsegment, w.weight,
             ({oracle_hash64("CAST(c_custkey AS VARCHAR)", 29)}
               / 1152921504606846976.0) / CAST(w.weight AS DOUBLE) AS xi,
             t.wsum, t.n_rows
      FROM w JOIN tot t USING (c_mktsegment)
    ),
    -- n_rows <= k bypasses the prefilter (engine bypass mirrored):
    -- a stratum smaller than the target keeps every row
    kept AS (
      SELECT * FROM keyed
      WHERE xi < {float(_WS_OVER * _WS_K)} / CAST(wsum AS DOUBLE)
         OR n_rows <= {_WS_K}
    ),
    ranked AS (
      SELECT c_mktsegment, c_custkey, weight, xi,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY xi, c_custkey) AS rk
      FROM kept
    )
    SELECT c_mktsegment, CAST(rk AS BIGINT) AS sample_rank, c_custkey,
           CAST(weight AS DOUBLE) AS weight,
           {oracle_dround("xi", 12)} AS xi_key
    FROM ranked WHERE rk <= {_WS_K}
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 (r15): weighted sampling WITHOUT replacement, 24 customers
    per market segment with inclusion probability ~proportional to
    account balance — the quality-weighted corpus subsample (pick
    training docs proportional to a quality score) expressed on the
    commerce star. Sequential Poisson sampling (Ohlsson 1998): rank by
    xi = u / weight with u the portable 60-bit md5 of the key, keep
    the k smallest per stratum. xi is one IEEE division — unlike the
    Efraimidis-Spirakis -ln(u)/w key there is NO transcendental, so
    both engines compute every key bit-identically and the rank order
    can never flip on a libm ulp.

    Scale shape (operators/training_prep.weighted_sample_topn): the
    stratum weight totals are an exact-DECIMAL broadcast agg
    (association-free cross-engine), and a map-side prefilter
    xi < oversample*k/wsum bounds each stratum's sort input at
    ~oversample*k expected rows regardless of stratum size — the same
    contract as the smallest-hash samplers, extended to weights. A
    stratum with fewer rows than k bypasses the prefilter (r16,
    ADVICE r15): its correct without-replacement sample is the whole
    stratum, and no finite oversample guarantees every light row
    passes once one heavy row collapses the cut (observed at
    sf0.001, where segments hold ~23 customers). The oracle applies
    the identical prefilter + bypass, so equality is exact by
    construction; an underfilled large stratum now RAISES via the
    operator's fill tripwire instead of returning silently short.
    Spark puts a WindowGroupLimit below the shuffle for the rank
    filter on top."""
    from multichannel_commerce_data_pipeline_spark.operators import (
        training_prep as TP,
    )

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        (F.greatest(F.col("c_acctbal"), F.lit(0.0)) + F.lit(1.0))
        .cast("decimal(18,2)")
        .alias("weight"),
    )
    tot = cust.groupBy("c_mktsegment").agg(
        F.sum("weight").alias("wsum"),
        F.lit(_WS_K).alias("n_target"),
        F.count("*").alias("n_rows"),
    )
    keyed = cust.join(F.broadcast(tot), "c_mktsegment")
    return TP.weighted_sample_topn(
        keyed, "c_mktsegment", "c_custkey", 29, oversample=_WS_OVER
    ).select(
        "c_mktsegment",
        F.col("sample_rank").cast("long").alias("sample_rank"),
        "c_custkey",
        F.col("weight").cast("double").alias("weight"),
        dround(F.col("xi"), 12).alias("xi_key"),
    )
