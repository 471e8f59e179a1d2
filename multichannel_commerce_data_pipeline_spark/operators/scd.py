"""Slowly-changing-dimension operators — SCD Type 2 history build.

The reference refreshes its dimensions by overwrite (silver_to_gold.py
rebuilds each gold table per loop), which loses attribute history. This
operator derives the Type-2 history — one row per (key, attribute run)
with effective_from / effective_to / is_current — from an observation
stream, the standard warehouse answer to "what was this customer's
segment on March 3rd".

100 TB shape: gaps-and-islands via two windows and one aggregate, ALL
keyed on the dimension key, so the whole history build costs exactly one
hash exchange of the observation stream. HashPartitioning(key)
satisfies ClusteredDistribution for the (key, version) aggregate and
both windows, so EnsureRequirements inserts no further shuffles (sorts
within partitions only). No collect, no driver state; keys process
independently, so the operator scales with the keyspace.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Collapse an observation stream into SCD Type 2 history rows.

    Consecutive observations of the same ``attr_col`` value (null-safe
    comparison) per ``key_col`` form one run; each run becomes a history
    row with a 1-based ``version``, ``effective_from`` = its first
    observation time, ``effective_to`` = the next run's start (NULL for
    the open run) and ``is_current``. ``weight_col``
    (default: every observation counts 1) lets a single row stand in
    for several collapsed observations — the hook :func:`scd2_apply`
    uses to seed an incremental rebuild with the open run's
    accumulated ``n_obs``.

    Returns (key, version, attr, effective_from, effective_to,
    is_current, n_obs).
    """
    w_obs = Window.partitionBy(key_col).orderBy(ts_col)
    # The first observation always opens run 1 — tested explicitly:
    # comparing a NULL attribute against the (also NULL) lag of the
    # first row is null-safe-EQUAL, which would leave a leading NULL
    # run at version 0.
    first_obs = F.lag(F.lit(1)).over(w_obs).isNull()
    changed = F.when(
        first_obs | ~F.col(attr_col).eqNullSafe(F.lag(attr_col).over(w_obs)),
        F.lit(1),
    ).otherwise(F.lit(0))
    runs = df.withColumn(
        "version",
        F.sum(changed).over(w_obs.rowsBetween(Window.unboundedPreceding, 0)),
    )
    n_obs = (
        F.count(F.lit(1)) if weight_col is None else F.sum(weight_col)
    )
    hist = runs.groupBy(key_col, "version").agg(
        F.min(attr_col).alias(attr_col),
        F.min(ts_col).alias("effective_from"),
        n_obs.alias("n_obs"),
    )
    w_ver = Window.partitionBy(key_col).orderBy("version")
    eff_to = F.lead("effective_from").over(w_ver)
    return hist.select(
        key_col,
        F.col("version").cast("long").alias("version"),
        attr_col,
        "effective_from",
        eff_to.alias("effective_to"),
        eff_to.isNull().alias("is_current"),
        F.col("n_obs").cast("long").alias("n_obs"),
    )


def scd2_apply(
    hist: DataFrame,
    new_obs: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
) -> DataFrame:
    """Incrementally fold a batch of NEW observations into an existing
    SCD2 history — the daily warehouse refresh. Produces exactly what
    :func:`scd2_history` over (old ∪ new) observations would, without
    re-reading the old observation stream: at 100 TB the history table
    is ~runs-sized (≪ observations) and only keys present in the batch
    are touched, so the refresh cost scales with the BATCH, not the
    accumulated history.

    Contract: every new observation's ``ts_col`` must be strictly later
    than the history's build horizon (the standard append-only feed; a
    late arrival inside the closed history requires the full rebuild).

    Mechanics: each touched key's OPEN run re-enters the islands
    machinery as one seed observation at its ``effective_from``,
    weighted by its accumulated ``n_obs`` (so a continued run extends
    rather than restarts); the rebuilt tail's versions are offset by
    the key's closed-run count; closed rows and untouched keys pass
    through verbatim. Three keyed shuffles, all on ``key_col`` and all
    over runs/batch-sized frames.

    Chain applies across refreshes by MATERIALIZING the history between
    batches (write the table, or ``localCheckpoint`` in-session) — the
    production shape anyway, since the refresh's output is the stored
    dimension. Stacking several applies lazily in one plan both
    re-plans the whole chain per action and can trip AQE's
    union-over-sort-merge-join partition coalescing (observed
    intermittently on Spark 4.1:
    "Can't zip RDDs with unequal numbers of partitions");
    tests/test_operators.py covers the materialized chain.
    """
    cur = hist.filter(F.col("is_current"))
    touched = new_obs.select(key_col).distinct()
    seeds = cur.join(touched, key_col, "left_semi").select(
        key_col,
        attr_col,
        F.col("effective_from").alias(ts_col),
        F.col("n_obs").alias("__w"),
    )
    batch = new_obs.select(
        key_col, attr_col, ts_col, F.lit(1).cast("long").alias("__w")
    )
    rebuilt = scd2_history(
        seeds.unionByName(batch),
        key_col,
        attr_col,
        ts_col,
        weight_col="__w",
    )
    offsets = cur.select(key_col, (F.col("version") - 1).alias("__off"))
    rebuilt = (
        rebuilt.join(offsets, key_col, "left")
        .withColumn(
            "version", F.col("version") + F.coalesce(F.col("__off"), F.lit(0))
        )
        .drop("__off")
    )
    closed = hist.filter(~F.col("is_current"))
    untouched_cur = cur.join(touched, key_col, "left_anti")
    return closed.unionByName(untouched_cur).unionByName(
        rebuilt.select(*hist.columns)
    )
