"""Skew mitigation — salted two-phase aggregation.

A single hot key (one viral product, one mega-buyer, the empty-string
default the silver layer coalesces into) concentrates an entire
group-by partition on one task. AQE's skew-join splitting handles
skewed *joins*; for skewed *aggregations* of non-algebraic aggregate
lists (exact distincts, collect-style states) the standard fix is
salting: spread each key over ``N_SALTS`` sub-keys, partially aggregate
per (key, salt), then combine the partials in a second, now-balanced
group-by.

For purely algebraic aggregates (SUM/COUNT/MIN/MAX/AVG) Spark's
map-side partial aggregation already bounds per-task state, so salting
buys nothing — use it when the partial-combine state per key is large
or the aggregate is position-dependent. The two-phase split below is
restricted to decomposable aggregates, and the result is bit-identical
to the direct group-by (sums combine associatively; counts add), which
is exactly what the paired oracle asserts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.operators.bucketing import (
    deterministic_bucket,
)

N_SALTS = 16


def replicated_salted_join(
    fact: DataFrame, dim: DataFrame, on: list[str], salt_col: Column
) -> DataFrame:
    """Skew-safe shuffle join: salt the fact side, replicate the dim.

    A shuffle equi-join repartitions BOTH sides by the join key, so one
    hot key (one viral product id, the coalesced ``''`` default) lands
    every matching fact row on a single task. When the dim side is too
    large to broadcast, the classic fix is fact-side salting with
    dim-side replication:

    * every fact row gets a deterministic salt in ``[0, N_SALTS)``
      derived from a high-cardinality column (``salt_col`` — e.g. the
      fact primary key), splitting each hot key across ``N_SALTS``
      tasks;
    * every dim row is replicated ``N_SALTS`` times (a narrow
      ``explode`` of a literal array — no shuffle on the dim side
      beyond the join's own exchange), once per salt value;
    * the join key becomes ``(key…, salt)``, so each fact sub-group
      still finds its dim row, and the inner join is row-identical to
      the unsalted join.

    Cost model at 100 TB: the dim shuffle grows ``N_SALTS``×, the fact
    shuffle is unchanged, and the hot key's work spreads over
    ``N_SALTS`` tasks — the right trade whenever
    ``|dim| * N_SALTS << |fact partition of the hot key|``. AQE's
    skew-join splitting handles the same problem adaptively for
    sort-merge joins; this explicit form works for any join and keeps
    plans deterministic for testing.

    The salt is deterministic (:func:`deterministic_bucket`), so
    re-runs produce identical partitioning — unlike ``rand()`` salts.
    """
    salted_fact = fact.withColumn(
        "__salt", deterministic_bucket(salt_col, N_SALTS)
    )
    # sequence(0, n-1) is one expression node (vs N_SALTS F.lit py4j
    # bridge calls + n literal nodes per construction); same exploded
    # values, same plan after ConstantFolding (r17, verify-gotchas
    # literal-count discipline).
    replicated_dim = dim.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1))),
    )
    joined = salted_fact.join(replicated_dim, [*on, "__salt"], "inner")
    return joined.drop("__salt")


def salted_sum_count(
    df: DataFrame,
    keys: list[str],
    salt_col: Column,
    sums: dict[str, Column],
) -> DataFrame:
    """Two-phase SUM/COUNT group-by: phase 1 aggregates per
    (keys, salt), phase 2 combines partials per keys into the sums and
    the row count ``n``.

    ``salt_col`` derives the salt deterministically from a high-
    cardinality column (e.g. the row's primary key) so the same row
    always lands in the same sub-group — reproducible, unlike rand().
    ``sums`` maps output alias → input expression.
    """
    salt = deterministic_bucket(salt_col, N_SALTS).alias("__salt")
    phase1 = df.groupBy(*keys, salt).agg(
        *[F.sum(expr).alias(f"__s_{a}") for a, expr in sums.items()],
        F.count(F.lit(1)).alias("__c"),
    )
    return phase1.groupBy(*keys).agg(
        *[F.sum(f"__s_{a}").alias(a) for a in sums],
        F.sum("__c").alias("n"),
    )
