"""In-engine k-means (Lloyd's algorithm) over embedding columns.

The ANN and semantic-dedup operators in this repo (`ivf_assign`,
`semantic_dedup`, `ivfpq_index`) quantize against DETERMINISTIC
stride-sampled centroids, with a documented "swap in trained centroids
at deployment" seam. This module closes that seam: it trains the
centroids themselves, distributed, inside the engine — the index-build
step a 100 TB vector warehouse otherwise has to ship to an external
trainer.

Execution model (per Lloyd iteration):

* **assign** — the current k centroids enter as a tiny broadcast frame;
  every corpus vector scores k quantized squared-L2 distances map-side
  and keeps its argmin via a partial-aggregated ``min(struct(d2,
  cell))`` (the `ivf_assign` shape: the exchange carries N rows, never
  N*k — a window over the scored frame would sort-shuffle N*k);
* **update** — per-dimension means via ``posexplode`` + ONE
  partial-aggregated ``(cell, dim)`` group-by: the k*dim*partitions
  partial rows are all that shuffle, regardless of N. The k*dim result
  is collected driver-side (same bounded-model pattern as the PQ
  codebook and IVF centroid collects) and becomes the next round's
  broadcast literals.

So each iteration costs one corpus scan + one bounded shuffle + a
k*dim-row collect — flat in N per round, and never materializes an
N x k frame.

Determinism / oracle-reproducibility: float summation does not commute,
so every per-dimension addend is quantized to DECIMAL(28,9) before the
sum (the PageRank convention) and each new mean is re-quantized to 6 dp
via :func:`functions.dround`; distances are likewise quantized with a
``(d2, cell)`` struct-min tie-break. Every round is therefore
bit-reproducible for ANY partitioning and expressible in ANSI SQL — a
DuckDB oracle unrolls the iterations and hash-matches (the drift that
made `ivf_assign` originally reject k-means is gone). Initialization is
the deterministic stride sample (vectors with ``vid % gap == 0``,
``vid < k*gap``) — k-means++ would need a sequential dependence chain;
at 100 TB you seed from a uniform sample anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.functions import dround
from multichannel_commerce_data_pipeline_spark.operators.similarity import (
    _as_double,
)


def _d2(v, cv):
    """Quantized squared L2 distance between two double-array columns —
    one zip_with/aggregate fold, 6 dp (mirrors the oracle's
    list_reduce fold order: identical for doubles)."""
    return dround(
        F.aggregate(
            F.zip_with(v, cv, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _assign(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """(vid, v, cell, d2): each vector's nearest centroid. Broadcast
    join + map-side ``min(struct)`` argmin — ties break to the lowest
    cell id, matching the oracle's ``ORDER BY d2, cell``."""
    scored = corpus.join(F.broadcast(cents)).select(
        "vid", "v", "cell", _d2(F.col("v"), F.col("cv")).alias("d2")
    )
    best = F.min(F.struct("d2", "cell", "v")).alias("b")
    return (
        scored.groupBy("vid")
        .agg(best)
        .select(
            "vid",
            F.col("b.v").alias("v"),
            F.col("b.cell").alias("cell"),
            F.col("b.d2").alias("d2"),
        )
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    gap: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Train k centroids with ``n_iters`` Lloyd rounds; returns
    ``(assignments, centroids)`` where assignments = ``(vid, v, cell,
    d2)`` under the FINAL centroids and centroids = ``(cell int, cv
    array<double>)``.

    Centroids stay a DataFrame between rounds (new means rebuild their
    vectors with an ``array_sort(collect_list(struct(pos, m)))`` per
    cell — 8 rows of 64 structs, deterministic because pos is unique),
    each round's assign broadcast-joins the previous round's k-row
    frame, and a cell that loses every member keeps its previous
    centroid via a left-join coalesce. No per-round driver collect:
    vectors never cross py4j (measured 3.3 → ~1 s warm vs the
    collect-per-round form). Each round ends with an eager
    ``localCheckpoint`` of its k-row centroid frame, which runs one
    job per round and truncates the lineage there, so every round's
    plan scans the corpus once instead of re-embedding all earlier
    rounds (see the comment in the loop). Values are identical to the
    unrolled SQL oracle: the same dround/DECIMAL quantization at every
    step.

    The SQL oracle unrolls the SAME carry-forward branch (LEFT JOIN
    c{t-1} + COALESCE in queries/similarity.py:_km_update_cte), so the
    engines agree for any k/gap/data combination — including configs
    that empty a cell mid-fit.
    """
    corpus = embeddings.select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v")
    )
    cents = corpus.filter(
        (F.col("vid") % gap == 0) & (F.col("vid") < k * gap)
    ).select((F.col("vid") / gap).cast("int").alias("cell"), F.col("v").alias("cv"))
    for _ in range(n_iters):
        a = _assign(corpus, cents)
        # addends quantized to DECIMAL before the sum: the per-dim mean
        # is order-independent, so the trained model is deterministic
        means = (
            a.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(
                dround(
                    F.sum(
                        dround(F.col("x"), 9).cast("decimal(28,9)")
                    ).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("m")
            )
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("new_cv")
            )
        )
        cents = (
            cents.withColumnRenamed("cv", "prev_cv")
            .join(means, "cell", "left")
            .select(
                "cell",
                F.coalesce(F.col("new_cv"), F.col("prev_cv")).alias("cv"),
            )
        )
        # Truncate the round's lineage at the k-row centroid frame
        # (eager localCheckpoint of 8 rows — executor-local, no py4j
        # of vectors): without it each consumer of cents re-embeds the
        # WHOLE previous-round chain, so the 2-round fit's one plan
        # scanned the corpus 15x instead of one pass per round (r17;
        # the "long horizons" note below applied — the blowup is
        # per-consumer re-execution, not horizon length). Values are
        # identical: the checkpoint stores the same DECIMAL-quantized
        # deterministic centroids the lazy chain computes.
        cents = cents.localCheckpoint(eager=True)
    return _assign(corpus, cents), cents


def power_iteration(
    embeddings: DataFrame,
    n_iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Top principal direction of the (uncentered) embedding corpus by
    power iteration — in-engine linear algebra on the same bounded-
    exchange skeleton as :func:`kmeans_fit`.

    One iteration of ``v ← normalize(Xᵀ X v)`` is: a broadcast join of
    the 1-row direction frame onto the corpus (map-side dot product
    ``s_i = x_i·v``), a ``posexplode`` into ONE (dim) group-by whose
    exchange is bounded by dim·partitions rows (addends quantized to
    DECIMAL(28,9) so the per-dim sums are order-independent), and a
    64-struct ``array_sort(collect_list)`` rebuild + in-plan
    normalization — no driver collect per round, the whole fit is one
    lazy plan. Deterministic start ``v0 = [1/√dim, …]`` (0.125 exactly
    for dim 64 — an exact binary double), deterministic quantized
    updates: the DuckDB oracle unrolls every round to a hash match.

    Returns a 1-row frame ``(pv: array<double>)`` holding the unit
    direction after ``n_iters`` rounds.
    """
    spark = embeddings.sparkSession
    corpus = embeddings.select(
        F.col("vec_id").alias("vid"), _as_double(F.col("embedding")).alias("v")
    )
    vrow = spark.range(1).select(
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)), lambda _: F.lit(1.0 / dim**0.5)
        ).alias("pv")
    )
    mul = lambda x, y: x * y  # noqa: E731
    add = lambda acc, x: acc + x  # noqa: E731
    for _ in range(n_iters):
        s = corpus.join(F.broadcast(vrow)).select(
            "v",
            F.aggregate(F.zip_with("v", "pv", mul), F.lit(0.0), add).alias("s"),
        )
        m = (
            s.select("s", F.posexplode("v").alias("pos", "x"))
            .select(
                "pos",
                dround(F.col("x") * F.col("s"), 9)
                .cast("decimal(28,9)")
                .alias("c"),
            )
            .groupBy("pos")
            .agg(F.sum("c").cast("double").alias("m"))
        )
        w = m.groupBy().agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda st: st["m"],
            ).alias("w")
        )
        vrow = w.select(
            "w",
            F.sqrt(
                F.aggregate(
                    F.transform("w", lambda x: x * x), F.lit(0.0), add
                )
            ).alias("nrm"),
        ).select(
            F.transform("w", lambda x: dround(x / F.col("nrm"), 9)).alias("pv")
        )
    return vrow
