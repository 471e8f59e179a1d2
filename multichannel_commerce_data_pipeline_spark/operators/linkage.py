"""Probabilistic record linkage — Fellegi-Sunter log-odds scoring.

Entity resolution's deterministic half (blocking + edit distance,
``operators/dedup.py``) answers "are these two strings almost equal";
the Fellegi-Sunter model (JASA 1969, the foundation of every serious
linkage system — Splink, dedupe.io, census linkage) answers "how much
EVIDENCE does each field comparison carry". Every field ``i`` has an
m-probability (P(agree | same entity)) and a u-probability
(P(agree | different entities)); an agreement contributes
``ln(m/u)`` (positive, rare-to-collide fields contribute more) and a
disagreement ``ln((1-m)/(1-u))`` (negative); the pair's match score is
the sum, thresholded into link / possible / non-link.

Since round 8 the m/u parameters are FIT IN-ENGINE by
:func:`fs_em_fit` — the classical unsupervised EM over agreement
patterns (Winkler 1988): because the model is conditionally
independent given match status, the likelihood depends on the data
only through the 2^k agreement-pattern COUNTS, so one partial-
aggregated group-by over the blocked pairs reduces 100 TB of
candidates to ≤2^k rows and every EM round after that is O(2^k·k)
regardless of corpus size. Rounds are unrolled into one lazy plan with
DECIMAL-quantized updates (the kmeans_fit / power_iteration skeleton),
so a DuckDB oracle replays the fit to a hash match. Scoring stays pure
Column arithmetic over caller-supplied constants — now the FITTED
ones, folded to double literals driver-side.

Scale shape: candidate pairs come from blocking (never all-pairs); the
pattern reduction is one map-side-combined group-by; the score is
map-side arithmetic on the pair frame — no additional shuffle beyond
the blocking join itself.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.functions import dround


def fs_weights(m: float, u: float) -> tuple[float, float]:
    """(agreement weight, disagreement weight) = (ln(m/u),
    ln((1-m)/(1-u))). Computed in Python so both engines see the same
    double literal — no cross-engine ln() at query time."""
    return math.log(m / u), math.log((1.0 - m) / (1.0 - u))


def fs_score(agreements: list[tuple[Column, float, float]]) -> Column:
    """Σ_i (agree_i ? ln(m_i/u_i) : ln((1-m_i)/(1-u_i))) as one Column,
    folded left-to-right in the caller's field order (mirror the same
    order in an oracle for bit-identical sums). ``agreements`` is
    [(boolean Column, m, u), ...]."""
    out = F.lit(0.0)
    for agree, m, u in agreements:
        w_a, w_d = fs_weights(m, u)
        out = out + F.when(agree, F.lit(w_a)).otherwise(F.lit(w_d))
    return out


def fs_score_from_weights(
    agreements: list[tuple[Column, float, float]]
) -> Column:
    """Like :func:`fs_score` but over PRE-COMPUTED (agreement weight,
    disagreement weight) pairs — the consumption path for EM-fitted
    models, where the caller quantizes ``ln(m/u)`` / ``ln((1-m)/(1-u))``
    once driver-side (functions.py_dround) so the literals match the
    oracle's DuckDB-rendered weights bit-for-bit. Same left-to-right
    fold order as fs_score."""
    out = F.lit(0.0)
    for agree, w_a, w_d in agreements:
        out = out + F.when(agree, F.lit(w_a)).otherwise(F.lit(w_d))
    return out


def fs_em_fit(
    patterns: DataFrame,
    n_fields: int,
    n_iters: int = 2,
    m0: float = 0.8,
    u0: float = 0.1,
    p0: float = 0.1,
) -> DataFrame:
    """Unsupervised Fellegi-Sunter parameter fit: ``n_iters`` unrolled
    EM rounds over the agreement-pattern counts of the blocked
    candidate pairs.

    ``patterns`` is the sufficient statistic — ``(a: array<int>,
    cnt: bigint)`` with one row per observed agreement pattern (≤2^k
    rows for k fields; conditional independence makes the full-data
    likelihood a function of these counts alone). Each round is one
    lazy-plan stage over this bounded frame:

    * E-step: broadcast the 1-row parameter frame onto the pattern
      rows; the match responsibility ``w = p·P(a|M) / (p·P(a|M) +
      (1-p)·P(a|U))`` is a map-side fold over the k fields, quantized
      to 9 dp so both engines carry identical doubles forward.
    * M-step: one global sum (``sw``, ``n``) plus one k-bounded
      posexplode group-by (``Σ cnt·w·a_i``, ``Σ cnt·(1-w)·a_i``), all
      addends DECIMAL(28,9)-quantized for order independence, then the
      parameter arrays rebuild via ``array_sort(collect_list)`` —
      exactly the kmeans_fit / power_iteration exchange skeleton: the
      shuffle is bounded by k·partitions rows, never by pair count.

    Deterministic start (m0/u0/p0 exact binary-representable doubles)
    + quantized updates ⇒ the DuckDB oracle unrolls every round to a
    hash match. Returns a 1-row frame ``(m: array<double>,
    u: array<double>, p: double)``.
    """
    spark = patterns.sparkSession
    params = spark.range(1).select(
        F.array(*[F.lit(m0)] * n_fields).alias("m"),
        F.array(*[F.lit(u0)] * n_fields).alias("u"),
        F.lit(p0).alias("p"),
    )
    mul = lambda x, y: x * y  # noqa: E731
    for _ in range(n_iters):
        j = patterns.join(F.broadcast(params))
        pm = F.col("p") * F.aggregate(
            F.zip_with(
                "a", "m",
                lambda ai, mi: F.when(ai == 1, mi).otherwise(F.lit(1.0) - mi),
            ),
            F.lit(1.0),
            mul,
        )
        pu = (F.lit(1.0) - F.col("p")) * F.aggregate(
            F.zip_with(
                "a", "u",
                lambda ai, ui: F.when(ai == 1, ui).otherwise(F.lit(1.0) - ui),
            ),
            F.lit(1.0),
            mul,
        )
        rows = j.select("a", "cnt", pm.alias("pm"), pu.alias("pu")).select(
            "a",
            "cnt",
            dround(F.col("pm") / (F.col("pm") + F.col("pu")), 9).alias("w"),
        )
        tot = rows.groupBy().agg(
            F.sum(
                dround(F.col("cnt") * F.col("w"), 9).cast("decimal(28,9)")
            ).alias("sw"),
            F.sum("cnt").alias("n"),
        )
        pf = (
            rows.select("cnt", "w", F.posexplode("a").alias("i", "ai"))
            .groupBy("i")
            .agg(
                F.sum(
                    dround(
                        F.col("cnt") * F.col("w") * F.col("ai"), 9
                    ).cast("decimal(28,9)")
                ).alias("swa"),
                F.sum(
                    dround(
                        F.col("cnt") * (F.lit(1.0) - F.col("w")) * F.col("ai"),
                        9,
                    ).cast("decimal(28,9)")
                ).alias("sua"),
            )
        )
        arrs = pf.groupBy().agg(
            F.array_sort(
                F.collect_list(F.struct("i", "swa", "sua"))
            ).alias("sts")
        )
        params = arrs.join(tot).select(
            F.transform(
                "sts",
                lambda st: dround(
                    st["swa"].cast("double") / F.col("sw").cast("double"), 9
                ),
            ).alias("m"),
            F.transform(
                "sts",
                lambda st: dround(
                    st["sua"].cast("double")
                    / (F.col("n").cast("double") - F.col("sw").cast("double")),
                    9,
                ),
            ).alias("u"),
            dround(
                F.col("sw").cast("double") / F.col("n").cast("double"), 9
            ).alias("p"),
        )
        # Materialize the 1-row parameter frame between rounds: Spark
        # has no DataFrame-level CSE, so an unrolled round-2 plan would
        # otherwise re-derive round 1 once per E-step branch (the
        # pattern frame gets scanned ~10x and codegen compiles the
        # whole doubled tree — measured ~13 s of pure plan overhead on
        # an 8-row fit). The checkpoint is one row per round.
        params = params.localCheckpoint(eager=True)
    return params


def oracle_fs_em_chain(
    pat_cte: str,
    n_fields: int,
    n_iters: int = 2,
    m0: float = 0.8,
    u0: float = 0.1,
    p0: float = 0.1,
) -> str:
    """DuckDB CTE chain replaying :func:`fs_em_fit` round-for-round.
    ``pat_cte`` must define a CTE named ``pat`` with columns
    ``(a: list<int>, cnt: bigint)``. Produces CTEs ``sp`` (field index
    1..k) and ``e0..e{n_iters}`` (each ``(m: list<double>,
    u: list<double>, p: double)``); compose a final SELECT over
    ``e{n_iters}``."""
    from multichannel_commerce_data_pipeline_spark.functions import (
        oracle_dround,
    )

    k = n_fields
    # explicit DOUBLE casts: a bare 0.8 literal is DECIMAL in DuckDB,
    # and decimal arithmetic would diverge from the engine's doubles.
    m_lit = ", ".join([f"CAST({m0!r} AS DOUBLE)"] * k)
    u_lit = ", ".join([f"CAST({u0!r} AS DOUBLE)"] * k)
    blocks = [
        pat_cte,
        f"sp AS (SELECT unnest(range(1, {k + 1})) AS i)",
        f"e0 AS (SELECT [{m_lit}] AS m, [{u_lit}] AS u,"
        f" CAST({p0!r} AS DOUBLE) AS p)",
    ]
    prod_m = (
        f"list_reduce(list_transform(range(1, {k + 1}), "
        "fi -> CASE WHEN a[fi] = 1 THEN m[fi] ELSE 1.0 - m[fi] END), "
        "(x, y) -> x * y)"
    )
    prod_u = (
        f"list_reduce(list_transform(range(1, {k + 1}), "
        "fi -> CASE WHEN a[fi] = 1 THEN u[fi] ELSE 1.0 - u[fi] END), "
        "(x, y) -> x * y)"
    )
    for t in range(n_iters):
        w = oracle_dround("pm / (pm + pu)", 9)
        blocks.append(
            f"""w{t + 1} AS (
      SELECT a, cnt, {w} AS w
      FROM (SELECT a, cnt, p * {prod_m} AS pm, (1.0 - p) * {prod_u} AS pu
            FROM pat CROSS JOIN e{t})
    ),
    t{t + 1} AS (
      SELECT SUM(CAST({oracle_dround('cnt * w', 9)} AS DECIMAL(28,9))) AS sw,
             SUM(cnt) AS n
      FROM w{t + 1}
    ),
    f{t + 1} AS (
      SELECT i,
             SUM(CAST({oracle_dround('cnt * w * a[i]', 9)} AS DECIMAL(28,9))) AS swa,
             SUM(CAST({oracle_dround('cnt * (1.0 - w) * a[i]', 9)} AS DECIMAL(28,9))) AS sua
      FROM w{t + 1} CROSS JOIN sp GROUP BY i
    ),
    e{t + 1} AS (
      SELECT list({oracle_dround('CAST(swa AS DOUBLE) / CAST(sw AS DOUBLE)', 9)} ORDER BY i) AS m,
             list({oracle_dround('CAST(sua AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(sw AS DOUBLE))', 9)} ORDER BY i) AS u,
             {oracle_dround('CAST(sw AS DOUBLE) / CAST(n AS DOUBLE)', 9)} AS p
      FROM f{t + 1} CROSS JOIN t{t + 1} GROUP BY sw, n
    )"""
        )
    return ",\n    ".join(blocks)

