"""Deterministic bucketing — the seeded replacement for rand() cascades.

The reference assigns synthetic attributes (country, shipping status,
payment status) with chains of independent ``rand() < p`` draws
(silver_to_gold.py:304-328,373-398,444-469). Two problems at scale:

1. Non-determinism per evaluation: Spark re-executes plans per action, so
   the same order can land in different countries between its CM1 row and
   its CM2 row (SURVEY.md §3.2.5).
2. Sequential-Bernoulli semantics: each draw is conditioned on the
   previous misses, so effective probabilities are not the commented ones.

We replace the cascade with a pure multiplicative-hash bucket of the
primary key (Knuth's 2^32 golden-ratio constant). It is deterministic,
Catalyst-foldable, engine-portable (same integer arithmetic in DuckDB),
and distributes uniformly, so cumulative thresholds give the intended
*marginal* distribution exactly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

KNUTH_MULTIPLIER = 2654435761  # 2^32 / golden ratio
# Keys are reduced mod this Mersenne prime BEFORE the multiply so the
# int64 product is bounded by (2^31-2)*2654435761 ≈ 5.7e18 < 2^63-1:
# no silent wrap in Spark, no BIGINT-overflow error in DuckDB — the
# bucket stays bit-identical across engines for the FULL int64 key
# range (an unreduced key >= ~3.5e9 overflowed the product).
KEY_REDUCER = 2_147_483_647


def _pmod(x: Column, m: int) -> Column:
    return ((x % F.lit(m)) + F.lit(m)) % F.lit(m)


def deterministic_bucket(key: Column, n_buckets: int = 1000) -> Column:
    """Uniform pseudo-random bucket in [0, n_buckets) from an integer key.

    Uses plain ``%`` arithmetic (normalized to non-negative) instead of
    xxhash64 so an external SQL engine reproduces it bit-for-bit.
    """
    reduced = _pmod(key.cast("long"), KEY_REDUCER)
    return _pmod(reduced * F.lit(KNUTH_MULTIPLIER), n_buckets)


def oracle_bucket_sql(key_expr: str, n_buckets: int = 1000) -> str:
    """The exact ANSI-SQL twin of ``deterministic_bucket`` — one source
    of truth for every oracle that inlines the bucket arithmetic."""
    reduced = f"(({key_expr} % {KEY_REDUCER} + {KEY_REDUCER}) % {KEY_REDUCER})"
    return (
        f"(({reduced} * {KNUTH_MULTIPLIER}) % {n_buckets} + {n_buckets})"
        f" % {n_buckets}"
    )


def stratified_sample(
    key: Column,
    strata_col: Column,
    fractions: dict[str, float],
) -> Column:
    """Deterministic stratified sampling — the data-mixing step of a
    training-data pipeline (up/down-weight sources or languages to hit
    a target mixture). Each row is kept iff its key's hash bucket falls
    under its stratum's fraction, so:

    * the sample is reproducible row-for-row (re-runs, engines, and
      incremental batches agree — unlike ``df.sample``, whose output
      depends on partitioning),
    * it is a pure narrow filter: no shuffle, no sort, pushes down to
      the scan like any predicate,
    * strata absent from ``fractions`` are dropped (fraction 0.0).

    Returns the filter Column; apply with ``df.filter(...)``.
    """
    bucket = deterministic_bucket(key, 1000)
    keep = F.lit(False)
    for value, frac in fractions.items():
        threshold = int(round(frac * 1000))
        keep = keep | ((strata_col == value) & (bucket < threshold))
    return keep


def bucketed_choice(
    key: Column,
    choices: Sequence[tuple[str, float]],
) -> Column:
    """Map a key to a categorical value with given marginal probabilities.

    ``choices`` is a list of ``(value, probability)``; probabilities are
    cumulated into bucket thresholds. The last choice absorbs any
    remainder. Replaces the reference's rand() cascades with identical
    intended distribution but stable assignment.
    """
    bucket = deterministic_bucket(key, 1000)
    expr = None
    cum = 0.0
    for value, p in choices[:-1]:
        cum += p
        threshold = int(round(cum * 1000))
        cond = bucket < threshold
        expr = F.when(cond, value) if expr is None else expr.when(cond, value)
    last_value = choices[-1][0]
    return F.lit(last_value) if expr is None else expr.otherwise(last_value)
