"""Hashed-feature importance weighting and classification for
training-data curation (SURVEY.md §2.10 X3/X6 extension surface).

Three model families over the same bounded feature space:

- DSIR-style importance weights (Xie et al. 2023, "Data Selection for
  Language Models via Importance Resampling"): hashed n-gram bag-of-words
  log-likelihood ratio between a target distribution and the raw corpus.
- Hashed naive-Bayes classification (the in-engine stand-in for the
  fastText-style quality/language filters used by C4/CCNet/RefinedWeb):
  class-conditional bucket profiles + log priors, argmax posterior.
- Hashed bigram language model (the KenLM-perplexity stand-in CCNet
  filters on): smoothed ln P(word|context) over D² bucket pairs,
  per-document average log-prob and perplexity.

Scale design (the whole point): features are hashed into a FIXED number
of buckets ``D``, so the trained model is a bounded table regardless of
corpus size. Training is one explode + group-by over ≤D keys — the
map-side partial aggregate collapses each partition to ≤D rows before
the exchange, so the shuffle carries O(D · partitions) rows, not
O(corpus tokens). The model is then collected to the driver (≤D·classes
rows — the same bounded-collect pattern as IVF centroids) and scoring is
a pure map-side fold over each document's bucket array via a broadcast
map literal: the returned scoring plan contains no hash/shuffle exchange
(only the bench-scale small-scan fan-out; asserted in
tests/test_plans.py). A 100 TB corpus is scored in one narrow pass.

Cross-engine reproducibility: bucket ids come from
:func:`portable_hash32` (md5-derived, bit-identical in DuckDB); model
log-probabilities are quantized to DECIMAL(28,6) through the same
double→DECIMAL(38,10)→ROUND-to-6 path the oracle SQL uses (ties
impossible at the 10-digit cast, HALF_UP at the 6-digit round — the
:func:`~multichannel_commerce_data_pipeline_spark.functions.dround`
convention); per-document scores are summed as DECIMAL, which is exact
and therefore independent of both engines' addition order.

Reference behavior being replaced: the reference pipeline has no data
curation stage at all — documents flow bronze→silver unfiltered
(bronze_to_silver_all_sources.py:9-17); these operators are the
curation stage a training-data deployment of the same engine needs.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_EVEN, ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.functions import portable_hash32
from multichannel_commerce_data_pipeline_spark.operators.text import tokens

# Feature-space defaults, shared with the oracle SQL builders in
# queries/importance.py. D is deliberately small for the synthetic
# corpus; production DSIR uses 10k-65k buckets — the plan shape is
# identical, only the broadcast literal grows (still KB-scale).
N_BUCKETS = 128
HASH_SEED = 7


def feature_buckets(text: Column) -> Column:
    """array<bigint> of hashed unigram+bigram bucket ids for a document.

    Unigrams and space-joined adjacent bigrams (the DSIR feature space)
    are hashed with the portable 32-bit md5 hash (seed ``HASH_SEED``)
    and folded into ``N_BUCKETS`` buckets. Entirely map-side; duplicates are KEPT (bag
    of words, not set — each occurrence contributes to the profile and
    to the score)."""
    return feature_buckets_from(tokens(text))


def feature_buckets_from(toks: Column) -> Column:
    """:func:`feature_buckets` over a MATERIALIZED token-array column —
    for callers that already project ``tokens(text)`` (the curation
    signal mart stages toks for the n-gram multisets anyway), so the
    tokenizer regex never re-runs inside this builder."""
    m = F.greatest(F.size(toks) - F.lit(1), F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    feats = F.concat(toks, bigrams)
    return F.transform(feats, lambda s: portable_hash32(s, HASH_SEED) % N_BUCKETS)


def bucket_class_profile(
    df: DataFrame, buckets_col: str, class_col: str
) -> DataFrame:
    """(cls, b, cnt) bucket occurrence counts per class — the sufficient
    statistics for both DSIR (2 classes: target vs rest) and NB (k
    classes). One explode + one group-by on ≤ D·k keys; the map-side
    partial aggregate makes the exchange O(D·k·partitions) rows."""
    return (
        df.select(F.col(class_col).alias("cls"), F.explode(buckets_col).alias("b"))
        .groupBy("cls", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def quantize_logprob(v: float) -> Decimal:
    """Driver-side mirror of the oracle's
    ``CAST(ROUND(CAST(v AS DECIMAL(38,10)), 6) AS DECIMAL(28,6))``:
    round the double to 10 decimal digits (nearest; a tie would need
    the binary value to sit exactly on a 1e-10 boundary — impossible
    for log outputs), then HALF_UP to 6 — the dround convention."""
    return Decimal(v).quantize(Decimal("1e-10"), ROUND_HALF_EVEN).quantize(
        Decimal("1e-6"), ROUND_HALF_UP
    )


def dsir_log_ratios(profile_rows: list, target_cls) -> dict[int, Decimal]:
    """bucket -> quantized ln(p_target(b) / p_raw(b)) with add-one
    smoothing, from collected (cls, b, cnt) rows. Raw = ALL classes
    (target included), matching DSIR's raw-corpus denominator."""
    tgt: dict[int, int] = {}
    raw: dict[int, int] = {}
    for r in profile_rows:
        raw[r["b"]] = raw.get(r["b"], 0) + r["cnt"]
        if r["cls"] == target_cls:
            tgt[r["b"]] = tgt.get(r["b"], 0) + r["cnt"]
    t_tot = sum(tgt.values())
    r_tot = sum(raw.values())
    return {
        b: quantize_logprob(
            math.log(
                ((tgt.get(b, 0) + 1) / (t_tot + N_BUCKETS))
                / ((raw[b] + 1) / (r_tot + N_BUCKETS))
            )
        )
        for b in raw
    }


def nb_log_model(profile_rows: list, class_sizes: dict) -> tuple[dict, dict]:
    """(log_priors, log_likelihoods) for hashed naive Bayes.

    log_priors: cls -> quantized ln(n_cls / n_total).
    log_likelihoods: (cls, b) -> quantized ln((cnt+1)/(tot_cls+D)),
    for every bucket SEEN IN THE CORPUS (any class) × every class — the
    cross product matters: a bucket unseen for one class still
    contributes its smoothed floor to that class's score."""
    totals: dict = {}
    buckets: set[int] = set()
    cnt: dict = {}
    for r in profile_rows:
        totals[r["cls"]] = totals.get(r["cls"], 0) + r["cnt"]
        buckets.add(r["b"])
        cnt[(r["cls"], r["b"])] = r["cnt"]
    n_total = sum(class_sizes.values())
    priors = {
        c: quantize_logprob(math.log(n / n_total)) for c, n in class_sizes.items()
    }
    lls = {
        (c, b): quantize_logprob(
            math.log((cnt.get((c, b), 0) + 1) / (totals.get(c, 0) + N_BUCKETS))
        )
        for c in class_sizes
        for b in buckets
    }
    return priors, lls


def _decimal_map(pairs: dict) -> Column:
    """Broadcast map literal bucket -> DECIMAL(28,6) log-prob, parsed
    JVM-side from ONE SQL string: building D entries through the Column
    API costs a py4j round trip per literal node (the PQ lesson —
    operators/similarity.py _pq_pick_best), where one expr string is a
    single call."""
    ks = sorted(pairs)
    keys = ", ".join(f"{int(k)}L" for k in ks)
    vals = ", ".join(f"CAST('{pairs[k]}' AS DECIMAL(28,6))" for k in ks)
    return F.expr(f"map_from_arrays(array({keys}), array({vals}))")


def score_buckets(buckets: Column, model: dict, base: Decimal | None = None) -> Column:
    """DECIMAL(38,6) fold of model[b] over a bucket array — the
    map-side scoring kernel. Decimal addition is exact, so the result
    is independent of fold order (and of the oracle's unordered SUM).
    Every scored bucket is present in the model by construction (the
    model is trained on the corpus being scored); ``element_at`` on a
    foreign bucket would yield NULL and poison the sum, which is the
    correct loud failure for a model/corpus mismatch."""
    m = _decimal_map(model)
    init = F.lit(str(base if base is not None else Decimal(0))).cast(
        "decimal(38,6)"
    )
    return F.aggregate(
        buckets,
        init,
        lambda acc, b: (acc + F.element_at(m, b)).cast("decimal(38,6)"),
    )


def bigram_bucket_keys(
    text: Column, n_buckets: int, seed: int
) -> Column:
    """array<bigint> of hashed (context, word) bigram keys
    ``bucket(tok[i-1]) * D + bucket(tok[i])`` — the sufficient
    statistics stream for the hashed bigram language model. One key per
    adjacent token position; entirely map-side. D² total key space, so
    the fitted model stays a bounded table at any corpus size.

    This one-shot Column form md5-hashes every interior token TWICE
    (once as context, once as word — the two zip_with slices are
    independent lambda scopes, and Catalyst's subexpression elimination
    skips any tree containing a LambdaVariable). Corpus-scale callers
    should stage instead: project :func:`bucket_hashes` into its own
    column, then derive keys with :func:`bigram_keys_from_hashes` —
    one hash per token (r16 optimization round, guide §2.3)."""
    toks = tokens(text)
    m = F.greatest(F.size(toks) - F.lit(1), F.lit(0))
    b = lambda c: portable_hash32(c, seed) % n_buckets  # noqa: E731
    return F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, w: b(a) * F.lit(n_buckets) + b(w),
    )


def bucket_hashes(toks: Column, n_buckets: int, seed: int) -> Column:
    """array<bigint> of per-token bucket ids ``hash32(tok) % D`` over a
    MATERIALIZED token-array column — each token hashed exactly once.
    Stage this as its own projected column, then feed
    :func:`bigram_keys_from_hashes`; bucketing per token first is
    value-identical to bucketing per bigram position because the bucket
    id is a pure function of the token."""
    return F.transform(toks, lambda t: portable_hash32(t, seed) % n_buckets)


def bigram_keys_from_hashes(hb: Column, n_buckets: int) -> Column:
    """bigram keys ``hb[i-1] * D + hb[i]`` from a materialized
    :func:`bucket_hashes` column — pure integer zip, no hashing. The
    staged twin of :func:`bigram_bucket_keys` (same values, half the
    md5 work)."""
    m = F.greatest(F.size(hb) - F.lit(1), F.lit(0))
    return F.zip_with(
        F.slice(hb, 1, m),
        F.slice(hb, 2, m),
        lambda a, w: a * F.lit(n_buckets) + w,
    )


def lm_log_probs(
    profile_rows: list, n_buckets: int
) -> dict[int, Decimal]:
    """key -> quantized ln P(word | context) with add-one smoothing
    from collected (key, cnt) bigram-bucket counts:
    P = (cnt + 1) / (ctx_total + D), ctx_total = Σ counts sharing the
    key's context bucket. The hashed stand-in for a KenLM-style
    perplexity filter's model table."""
    cnt = {r["key"]: r["cnt"] for r in profile_rows}
    ctx_tot: dict[int, int] = {}
    for k, c in cnt.items():
        cb = k // n_buckets
        ctx_tot[cb] = ctx_tot.get(cb, 0) + c
    return {
        k: quantize_logprob(
            math.log((c + 1) / (ctx_tot[k // n_buckets] + n_buckets))
        )
        for k, c in cnt.items()
    }
