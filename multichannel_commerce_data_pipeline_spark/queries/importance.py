"""Driver-checkable queries for the hashed-feature curation models
(operators/importance.py): DSIR importance weights and hashed
naive-Bayes language classification over the ``documents`` table.

Both queries fit their model in-engine (bounded-bucket profile
aggregate, ≤ D·k rows collected to the driver) and return a scoring
plan that is PURE MAP-SIDE — the only exchange in the returned
DataFrame's plan is the round-robin fan-out ``parallelize_small_scan``
adds for the driver's single-row-group parquet (a no-op at real scale,
where the scan already has thousands of splits); no hash/shuffle
exchange anywhere (asserted in tests/test_plans.py). The oracle SQL
re-derives the identical model inside DuckDB: md5 bucket hashing,
double→DECIMAL(38,10)→ROUND-6 quantized log-probs, exact DECIMAL
sums — so the driver's hash compare proves the whole train+score path,
not just the scoring fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.artifacts import artifact
from multichannel_commerce_data_pipeline_spark.functions import (
    dround,
    oracle_dround,
    stage_filter,
)
from multichannel_commerce_data_pipeline_spark.operators import importance as I
from multichannel_commerce_data_pipeline_spark.queries import query
from multichannel_commerce_data_pipeline_spark.tables import (
    load,
    parallelize_small_scan,
)

_D = I.N_BUCKETS
_SEED = I.HASH_SEED
_TARGET_LANG = "en"

# The fitted models below are artifacts (training state, like the PQ
# codebook and the bucketed warehouse tables): bench builds each query
# 4x and the profile aggregate + collect is the dominant build cost.
@artifact
def lm_model(spark: SparkSession, sf_dir: str):
    """The fitted hashed-bigram log-prob map (cached per sf_dir) —
    shared by lm_perplexity_score and the curation signal mart so both
    score against the SAME fit of the SAME full-corpus profile."""
    from multichannel_commerce_data_pipeline_spark.operators.text import (
        tokens,
    )

    d = parallelize_small_scan(
        spark, load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # staged hash-once form (r16 optimization round): bucket-hash each
    # token in its own projected column, derive bigram keys by integer
    # zip — bigram_bucket_keys inline would md5 every interior token
    # twice (see its docstring)
    hashed = d.select(
        I.bucket_hashes(tokens(F.col("text")), _LM_D, _LM_SEED).alias("hb")
    )
    with_k = hashed.select(
        I.bigram_keys_from_hashes(F.col("hb"), _LM_D).alias("ks")
    )
    return I.lm_log_probs(
        with_k.select(F.explode("ks").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect(),
        _LM_D,
    )


@artifact
def nb_model(spark: SparkSession, sf_dir: str):
    """(sizes, (priors, lls)): the fitted hashed naive-Bayes language
    model (cached per sf_dir) — shared for the same single-fit reason
    as :func:`lm_model`."""
    d = parallelize_small_scan(
        spark, load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    with_b = d.select(
        "doc_id", "lang", I.feature_buckets(F.col("text")).alias("bs")
    )
    prof = I.bucket_class_profile(with_b, "bs", "lang").collect()
    sizes = {
        r["lang"]: r["n"]
        for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return sizes, I.nb_log_model(prof, sizes)


@artifact
def dsir_ratios(spark: SparkSession, sf_dir: str):
    """The fitted DSIR bucket log-ratio map (cached per sf_dir) —
    shared by dsir_importance_weights and corpus_prepare_curated."""
    d = parallelize_small_scan(
        spark, load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    with_b = d.select(
        "doc_id", "lang", I.feature_buckets(F.col("text")).alias("bs")
    )
    return I.dsir_log_ratios(
        I.bucket_class_profile(with_b, "bs", "lang").collect(), _TARGET_LANG
    )


def nb_best_struct(bs_col, sizes, priors, lls):
    """argmax-posterior (score s, class c) struct over a bucket-array
    column — the scoring expression nb_lang_posterior and the curation
    signal mart share (tie-break: lexicographically larger class,
    mirrored in the oracle's ORDER BY score DESC, cls DESC)."""
    per_class = F.array(
        *[
            F.struct(
                I.score_buckets(
                    bs_col,
                    {b: lp for (c, b), lp in lls.items() if c == cls},
                    base=priors[cls],
                ).alias("s"),
                F.lit(cls).alias("c"),
            )
            for cls in sorted(sizes)
        ]
    )
    return F.array_max(per_class)

# Shared oracle CTEs: tokenize -> unigram+bigram features -> bucket ids.
# Mirrors operators/importance.py feature_buckets exactly (same md5
# seed, same % fold, bigrams joined with a single space).
_BUCKET_CTES = rf"""
    tok AS (
      SELECT doc_id, lang, regexp_extract_all(lower(text), '\S+') AS toks
      FROM documents
    ),
    bk AS (
      SELECT doc_id, lang,
             list_transform(
               list_concat(
                 toks,
                 list_transform(range(1, len(toks)),
                                i -> toks[i] || ' ' || toks[i + 1])),
               f -> CAST(('0x' || substr(md5(concat('{_SEED}:', f)), 1, 8))
                         AS BIGINT) % {_D}) AS bs
      FROM tok
    ),
    ex AS (SELECT doc_id, lang, unnest(bs) AS b FROM bk)
"""

# Quantized log-prob: the dround convention at scale 6 —
# double -> DECIMAL(38,10) (nearest, ties impossible) -> HALF_UP round.
def _quant(expr: str) -> str:
    return (
        f"CAST(ROUND(CAST(({expr}) AS DECIMAL(38,10)), 6) AS DECIMAL(28,6))"
    )


@query(
    "dsir_importance_weights",
    oracle=rf"""
    WITH {_BUCKET_CTES},
    prof AS (
      SELECT b,
             COUNT(*) AS raw_cnt,
             SUM(CASE WHEN lang = '{_TARGET_LANG}' THEN 1 ELSE 0 END) AS tgt_cnt
      FROM ex GROUP BY b
    ),
    tot AS (
      SELECT SUM(raw_cnt) AS r_tot, SUM(tgt_cnt) AS t_tot FROM prof
    ),
    ratios AS (
      SELECT b,
             {_quant(
                 f"ln((CAST(tgt_cnt + 1 AS DOUBLE) / CAST(t_tot + {_D} AS DOUBLE))"
                 f" / (CAST(raw_cnt + 1 AS DOUBLE) / CAST(r_tot + {_D} AS DOUBLE)))"
             )} AS lw
      FROM prof, tot
    ),
    score AS (
      SELECT e.doc_id, SUM(r.lw) AS s
      FROM ex e JOIN ratios r ON e.b = r.b
      GROUP BY e.doc_id
    )
    SELECT bk.doc_id, bk.lang, len(bk.bs) AS n_feat,
           CAST(s.s AS DOUBLE) AS dsir_logw
    FROM bk JOIN score s ON s.doc_id = bk.doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X6: DSIR importance weighting (Xie et al. 2023) — per-document
    hashed-n-gram log-likelihood ratio of the target distribution
    (lang='en' docs) vs the raw corpus, with add-one smoothing.
    Documents with the highest weight are the ones importance resampling
    keeps when curating a 100 TB raw crawl toward a target domain.

    Two bounded passes: (1) fit — explode + group-by over ≤D buckets
    (map-side partial aggregate; the exchange carries O(D·partitions)
    rows) and collect the D-row profile; (2) score — a map-side DECIMAL
    fold over each doc's bucket array against the broadcast ratio map;
    the returned plan has no hash exchange, only the small-scan
    round-robin fan-out (tests/test_plans.py)."""
    d = parallelize_small_scan(
        spark, load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    with_b = d.select(
        "doc_id", "lang", I.feature_buckets(F.col("text")).alias("bs")
    )
    ratios = dsir_ratios(spark, sf_dir)
    return with_b.select(
        "doc_id",
        "lang",
        F.size("bs").alias("n_feat"),
        I.score_buckets(F.col("bs"), ratios).cast("double").alias("dsir_logw"),
    )


# Full NB train+score oracle, hoisted so the curation signal mart can
# embed it verbatim as a sub-select (single-sourced: a drift in the
# model shows up as a hash mismatch in BOTH queries).
NB_ORACLE = rf"""
    WITH {_BUCKET_CTES},
    prof AS (
      SELECT lang AS cls, b, COUNT(*) AS cnt FROM ex GROUP BY 1, 2
    ),
    cls_tot AS (
      SELECT cls, SUM(cnt) AS tot FROM prof GROUP BY cls
    ),
    csize AS (
      SELECT lang AS cls, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    priors AS (
      SELECT cls,
             {_quant(
                 "ln(CAST(n AS DOUBLE)"
                 " / CAST((SELECT SUM(n) FROM csize) AS DOUBLE))"
             )} AS lp
      FROM csize
    ),
    lls AS (
      SELECT t.cls, u.b,
             {_quant(
                 f"ln(CAST(COALESCE(p.cnt, 0) + 1 AS DOUBLE)"
                 f" / CAST(t.tot + {_D} AS DOUBLE))"
             )} AS ll
      FROM cls_tot t
      CROSS JOIN (SELECT DISTINCT b FROM prof) u
      LEFT JOIN prof p ON p.cls = t.cls AND p.b = u.b
    ),
    sc AS (
      SELECT e.doc_id, l.cls, SUM(l.ll) AS s
      FROM ex e JOIN lls l ON e.b = l.b
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT sc.doc_id, sc.cls, pr.lp + sc.s AS logp,
             ROW_NUMBER() OVER (
               PARTITION BY sc.doc_id
               ORDER BY pr.lp + sc.s DESC, sc.cls DESC) AS rn
      FROM sc JOIN priors pr ON pr.cls = sc.cls
    )
    SELECT bk.doc_id, bk.lang, r.cls AS pred_lang,
           CAST(r.logp AS DOUBLE) AS best_logp
    FROM bk JOIN ranked r ON r.doc_id = bk.doc_id AND r.rn = 1
    """


@query("nb_lang_posterior", oracle=NB_ORACLE)
def nb_lang_posterior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: hashed naive-Bayes language classifier, trained and served
    in-engine — the stand-in for the fastText-style filters real
    curation pipelines run over every document. Class-conditional
    bucket profiles + log priors are fitted in one bounded aggregate
    (≤ D·k rows collected); each document is then scored against every
    class with a map-side DECIMAL fold and the argmax posterior is
    taken via ``array_max`` over (score, class) structs — tie-break =
    lexicographically larger class, mirrored in the oracle's ORDER BY
    score DESC, cls DESC. Scoring plan: no hash exchange, only the
    small-scan round-robin fan-out."""
    d = parallelize_small_scan(
        spark, load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    with_b = d.select(
        "doc_id", "lang", I.feature_buckets(F.col("text")).alias("bs")
    )
    sizes, (priors, lls) = nb_model(spark, sf_dir)
    # stage the argmax struct in its own projection: the per-class
    # DECIMAL folds carry lambdas, which Catalyst's subexpression
    # elimination skips, so referencing ``best`` twice inline would run
    # the WHOLE |classes|-fold scoring twice per row (r16 optimization
    # round, guide §4.2)
    staged = with_b.select(
        "doc_id",
        "lang",
        nb_best_struct(F.col("bs"), sizes, priors, lls).alias("best"),
    )
    return staged.select(
        "doc_id",
        "lang",
        F.col("best")["c"].alias("pred_lang"),
        F.col("best")["s"].cast("double").alias("best_logp"),
    )


_LM_D = 64
_LM_SEED = 11


# Full LM train+score oracle, hoisted for the same single-sourcing
# reason as NB_ORACLE above.
LM_ORACLE = rf"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      FROM documents
    ),
    keyed AS (
      SELECT doc_id,
             list_transform(range(1, len(toks)),
               i -> (CAST(('0x' || substr(md5(concat('{_LM_SEED}:', toks[i])), 1, 8))
                          AS BIGINT) % {_LM_D}) * {_LM_D}
                    + CAST(('0x' || substr(md5(concat('{_LM_SEED}:', toks[i + 1])), 1, 8))
                           AS BIGINT) % {_LM_D}) AS ks
      FROM tok
    ),
    pr AS (SELECT doc_id, unnest(ks) AS key FROM keyed),
    prof AS (SELECT key, COUNT(*) AS cnt FROM pr GROUP BY key),
    ctx AS (SELECT key // {_LM_D} AS cb, SUM(cnt) AS tot FROM prof GROUP BY 1),
    lp AS (
      SELECT key,
             {_quant(
                 f"ln(CAST(cnt + 1 AS DOUBLE)"
                 f" / CAST(tot + {_LM_D} AS DOUBLE))"
             )} AS l
      FROM prof JOIN ctx ON prof.key // {_LM_D} = ctx.cb
    ),
    sc AS (
      SELECT pr.doc_id, SUM(lp.l) AS s, CAST(COUNT(*) AS BIGINT) AS nb
      FROM pr JOIN lp USING (key) GROUP BY pr.doc_id
    )
    SELECT doc_id, nb AS n_bigrams,
           CAST({_quant("CAST(s AS DOUBLE) / nb")} AS DOUBLE) AS avg_logp,
           CAST(ROUND(CAST(exp(-(CAST(s AS DOUBLE) / nb)) AS DECIMAL(38,8)), 4)
                AS DOUBLE) AS ppl
    FROM sc
    """


@query("lm_perplexity_score", oracle=LM_ORACLE)
def lm_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: hashed bigram language-model perplexity — the in-engine
    stand-in for CCNet's KenLM quality filter (docs with high
    perplexity under an in-domain LM are the ones a curation pipeline
    drops or down-weights). The model is smoothed ln P(word|context)
    over D²=4096 hashed bucket pairs: fitted in one bounded aggregate
    (explode + group-by over ≤D² keys, collected), then every document
    is scored map-side — a DECIMAL fold of looked-up log-probs over its
    bigram keys, divided by its bigram count, with ppl = exp(−avg).
    Scoring plan: no hash exchange, only the small-scan fan-out."""
    from multichannel_commerce_data_pipeline_spark.operators.text import (
        tokens,
    )

    d = parallelize_small_scan(
        spark, load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # staged hash-once form (r16 optimization round) — one md5 per
    # token instead of two; see bigram_bucket_keys' docstring
    hashed = d.select(
        "doc_id",
        I.bucket_hashes(tokens(F.col("text")), _LM_D, _LM_SEED).alias("hb"),
    )
    with_k = hashed.select(
        "doc_id",
        I.bigram_keys_from_hashes(F.col("hb"), _LM_D).alias("ks"),
    )
    model = lm_model(spark, sf_dir)
    from multichannel_commerce_data_pipeline_spark.functions import dround

    # stage_filter: size(ks) re-runs the bigram key builder if pushed
    # into the serial scan task — pin it above the fan-out
    staged = stage_filter(with_k, F.size("ks") > 0).select(
        "doc_id",
        F.size("ks").cast("long").alias("n_bigrams"),
        I.score_buckets(F.col("ks"), model).alias("s"),
    )
    avg_raw = F.col("s").cast("double") / F.col("n_bigrams")
    staged = staged.withColumn("avg_raw", avg_raw)
    return staged.select(
        "doc_id",
        "n_bigrams",
        # the 6-dp DECIMAL quantization pins cross-engine agreement; the
        # OUTPUT is DOUBLE because the driver's pandas canonicalizer
        # hashes Spark Decimal vs DuckDB float64 differently (r5 class)
        F.round(F.col("avg_raw").cast("decimal(38,10)"), 6)
        .cast("decimal(28,6)")
        .cast("double")
        .alias("avg_logp"),
        dround(F.exp(-F.col("avg_raw")), 4).alias("ppl"),
    )


_CAL_BIN_W = 5.0
_CAL_N_BINS = 8


@query(
    "nb_calibration_report",
    oracle=rf"""
    WITH {_BUCKET_CTES},
    prof AS (
      SELECT lang AS cls, b, COUNT(*) AS cnt FROM ex GROUP BY 1, 2
    ),
    cls_tot AS (
      SELECT cls, SUM(cnt) AS tot FROM prof GROUP BY cls
    ),
    csize AS (
      SELECT lang AS cls, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    priors AS (
      SELECT cls,
             {_quant(
                 "ln(CAST(n AS DOUBLE)"
                 " / CAST((SELECT SUM(n) FROM csize) AS DOUBLE))"
             )} AS lp
      FROM csize
    ),
    lls AS (
      SELECT t.cls, u.b,
             {_quant(
                 f"ln(CAST(COALESCE(p.cnt, 0) + 1 AS DOUBLE)"
                 f" / CAST(t.tot + {_D} AS DOUBLE))"
             )} AS ll
      FROM cls_tot t
      CROSS JOIN (SELECT DISTINCT b FROM prof) u
      LEFT JOIN prof p ON p.cls = t.cls AND p.b = u.b
    ),
    sc AS (
      SELECT e.doc_id, l.cls, SUM(l.ll) AS s
      FROM ex e JOIN lls l ON e.b = l.b
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT sc.doc_id, sc.cls, pr.lp + sc.s AS logp,
             ROW_NUMBER() OVER (
               PARTITION BY sc.doc_id
               ORDER BY pr.lp + sc.s DESC, sc.cls DESC) AS rn
      FROM sc JOIN priors pr ON pr.cls = sc.cls
    ),
    top2 AS (
      SELECT a.doc_id, a.cls AS pred, a.logp AS s1, b.logp AS s2
      FROM ranked a JOIN ranked b
        ON a.doc_id = b.doc_id AND a.rn = 1 AND b.rn = 2
    ),
    binned AS (
      SELECT LEAST(CAST(FLOOR(CAST(s1 - s2 AS DOUBLE) / {_CAL_BIN_W})
                        AS INTEGER), {_CAL_N_BINS - 1}) AS margin_bin,
             CASE WHEN t.pred = bk.lang THEN 1 ELSE 0 END AS ok
      FROM top2 t JOIN bk ON bk.doc_id = t.doc_id
    )
    SELECT margin_bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ok) AS BIGINT) AS n_correct,
           {oracle_dround("CAST(SUM(ok) AS DOUBLE) / COUNT(*)", 6)}
             AS accuracy
    FROM binned GROUP BY margin_bin
    """,
)
def nb_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: classifier calibration — does the NB language filter's
    CONFIDENCE mean anything? Documents bucket by decision margin
    (best minus runner-up log-posterior, the monotone confidence proxy
    that needs no cross-engine exp/softmax) and each bin reports its
    empirical accuracy: a well-calibrated filter shows accuracy rising
    with margin, and the low-margin bins tell a curation pipeline
    exactly which documents to route to a stronger (costlier) model —
    the confidence-thresholding decision every cascade filter stack
    needs measured, not assumed. Scoring reuses the cached NB model
    (bounded collect) with the same map-side DECIMAL folds as
    nb_lang_posterior; top-2 selection is an array_sort over the
    |classes|-element score array per document (map-side, no window);
    the report is one <=8-bin rollup."""
    d = parallelize_small_scan(
        spark, load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    with_b = d.select(
        "doc_id", "lang", I.feature_buckets(F.col("text")).alias("bs")
    )
    sizes, (priors, lls) = nb_model(spark, sf_dir)
    per_class = F.array(
        *[
            F.struct(
                I.score_buckets(
                    F.col("bs"),
                    {b: lp for (c, b), lp in lls.items() if c == cls},
                    base=priors[cls],
                ).alias("s"),
                F.lit(cls).alias("c"),
            )
            for cls in sorted(sizes)
        ]
    )
    # ascending sort: last = argmax (ties -> larger class, matching the
    # oracle's ORDER BY logp DESC, cls DESC), second-to-last = runner-up.
    # The sorted array is STAGED in its own projection: its per-class
    # DECIMAL folds carry lambdas (no subexpression elimination), so the
    # three inline references (best.c, best.s, second.s) would run the
    # whole |classes|-fold scoring three times per row (r16 optimization
    # round, guide §4.2)
    ranked = with_b.select(
        "lang", F.array_sort(per_class).alias("ordered")
    )
    best = F.element_at(F.col("ordered"), -1)
    second = F.element_at(F.col("ordered"), -2)
    scored = ranked.select(
        "lang",
        best["c"].alias("pred"),
        (best["s"].cast("double") - second["s"].cast("double")).alias(
            "margin"
        ),
    )
    binned = scored.select(
        F.least(
            F.floor(F.col("margin") / _CAL_BIN_W).cast("int"),
            F.lit(_CAL_N_BINS - 1),
        ).alias("margin_bin"),
        F.when(F.col("pred") == F.col("lang"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("ok"),
    )
    return binned.groupBy("margin_bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ok").cast("long").alias("n_correct"),
        dround(F.sum("ok").cast("double") / F.count(F.lit(1)), 6).alias(
            "accuracy"
        ),
    )
