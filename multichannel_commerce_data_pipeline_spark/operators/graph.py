"""Graph analytics over edge frames — weighted PageRank, triangle
counting, label-propagation communities.

Connected components (operators/dedup.py) answers "which nodes belong
together"; PageRank answers "which nodes matter": influence ranking
over the co-purchase graph (which products anchor baskets), over a
citation/link graph of a web corpus (seed selection for crawling or
curriculum weighting), over user-interaction graphs (abuse hubs).

Execution model: the rank vector is a ``(node, rank)`` frame; one
iteration is one equi-join of ranks onto the (degree-annotated) edge
frame plus one partial-aggregated group-by on the destination — per
round, one shuffle of edge contributions, nothing quadratic. At
100 TB the edges co-partition on ``src`` and stay partitioned across
rounds; AQE handles hub-node skew on the ``dst`` aggregate the same
way it does any skewed group-by.

Plan depth: PageRank runs ``PAGERANK_ROUNDS`` rounds and label
propagation a caller-given handful, so the whole computation stays ONE
lazy plan — Catalyst's ReuseExchange collapses the repeated edge/deg
subtrees, and no driver-side job runs until the caller acts.

Determinism: floating-point addition does not commute, so a naive
``SUM(double)`` makes ranks partition-order dependent. Every per-edge
contribution is quantized with :func:`functions.dround` (half-up via a
decimal cast) to 9 dp and summed as ``DECIMAL(28,9)`` — exact and
order-independent — then the damping update re-quantizes to 9 dp.
The whole iteration is therefore bit-reproducible AND expressible in
ANSI SQL, so a DuckDB oracle can unroll the rounds and hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.functions import dround

# rounds of the PageRank update; the DuckDB oracle unrolls as many
PAGERANK_ROUNDS = 2


def pagerank(edges: DataFrame) -> DataFrame:
    """Weighted PageRank over a directed edge frame ``(src, dst, w)``.

    ``rank_{t+1}(v) = (1-d) + d * Σ_{(u,v)} rank_t(u) * w(u,v)/deg(u)``
    with ``deg(u) = Σ_out w`` and d = 0.85 — the classic damped update,
    initialized at 1.0 and run ``PAGERANK_ROUNDS`` times. Returns
    ``(node, rank)`` for every node that appears as a destination (on a
    symmetrized graph: every node). Dangling nodes (no out-edges) are
    assumed absent — symmetrize the graph or drop them upstream.
    """
    deg = edges.groupBy("src").agg(F.sum("w").cast("double").alias("deg"))
    ed = edges.join(deg, "src")
    return pagerank_annotated(ed, deg)


def pagerank_annotated(ed: DataFrame, deg: DataFrame) -> DataFrame:
    """:func:`pagerank` over a PRE-ANNOTATED edge frame ``(src, dst,
    w, deg)`` plus its ``(src, deg)`` degree frame. The annotation is
    a pure function of the graph, so repeated ranking queries cache
    (ed, deg) per corpus version as part of the graph index instead of
    re-running the degree aggregate and join per call (r16
    optimization round, guide §2.4 — the per-sf_dir cached-frame rule:
    persist partitioned on the downstream join key)."""
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0).alias("r"))
    for _ in range(PAGERANK_ROUNDS):
        contrib = ed.join(ranks, ed["src"] == ranks["node"]).select(
            F.col("dst").alias("node"),
            dround((F.col("r") * F.col("w")) / F.col("deg"), 9)
            .cast("decimal(28,9)")
            .alias("c"),
        )
        ranks = contrib.groupBy("node").agg(
            dround(
                F.lit(1.0 - 0.85) + F.lit(0.85) * F.sum("c").cast("double"), 9
            ).alias("r")
        )
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over a
    SYMMETRIZED edge frame ``(src, dst, w)`` (both directions present,
    no self-loops). Weights are ignored — triangles are structural.

    Algorithm: degree orientation (node ordering by ``(deg, node)``,
    edges oriented low→high) bounds every node's out-degree by
    O(sqrt(m)) on any graph, so the wedge self-join — the only
    super-linear step — generates Σ_u C(outdeg(u), 2) = O(m^1.5)
    candidate wedges instead of Σ C(deg, 2), which a hub node would
    blow up quadratically. Each wedge ``u→v, u→w`` (rank v < rank w)
    closes into a triangle iff oriented edge ``v→w`` exists — checked
    with one equi-join on (v, w); every triangle is found exactly once,
    at its lowest-rank apex. Three equi-joins + two group-bys total,
    all partial-aggregated; nothing quadratic in nodes or edges.

    Returns ``(node, deg, tri, lcc)`` for every node, where ``deg`` is
    the distinct-neighbor count, ``tri`` the triangle count, and
    ``lcc = 2*tri / (deg*(deg-1))`` (0.0 when deg < 2), quantized to
    6 dp — the standard local clustering coefficient.
    """
    oriented, deg = orient_edges(edges)
    return oriented_triangle_counts(oriented, deg)


def orient_edges(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Degree-orient a symmetrized edge frame: returns ``(oriented,
    deg)`` where oriented = ``(u, v, v_deg)`` with rank(u) < rank(v)
    under the ``(deg, node)`` total order, and deg = ``(node, deg)``
    distinct-neighbor counts. This pair is a reusable GRAPH LAYOUT
    artifact (like the co-purchase edge index itself): the orientation
    only changes when the graph does, so callers running repeated
    triangle/motif queries cache it per corpus version instead of
    re-deriving it per query (queries/joins.py does exactly that)."""
    # the symmetrized frame holds each undirected pair exactly twice
    # (once per direction), so the low->high filter alone recovers the
    # distinct pair set — no dedup shuffle needed.
    und = edges.filter(F.col("src") < F.col("dst")).select("src", "dst")
    deg = (
        und.select(F.col("src").alias("node"))
        .unionAll(und.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("src"), F.col("deg").alias("deg_src"))
    dv = deg.select(F.col("node").alias("dst"), F.col("deg").alias("deg_dst"))
    ann = und.join(du, "src").join(dv, "dst")
    lo_hi = (F.col("deg_src") < F.col("deg_dst")) | (
        (F.col("deg_src") == F.col("deg_dst")) & (F.col("src") < F.col("dst"))
    )
    oriented = ann.select(
        F.when(lo_hi, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(lo_hi, F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.when(lo_hi, F.col("deg_dst")).otherwise(F.col("deg_src")).alias("v_deg"),
    )
    return oriented, deg


def oriented_triangle_counts(
    oriented: DataFrame, deg: DataFrame, pre_partitioned: bool = False
) -> DataFrame:
    """Triangle counts from a degree-oriented edge frame (see
    :func:`orient_edges`). The wedge self-join derives BOTH sides from
    one apex-partitioned frame, so the exchange subtrees are
    canonically identical and ReuseExchange materializes the oriented
    frame once, not twice; the per-triangle node fan-out is a 3-element
    array explode — one pass over the (small) triangle set instead of
    a triple union re-evaluating it. Callers holding a layout already
    hash-partitioned on ``u`` (the persisted per-corpus orientation
    cache) pass ``pre_partitioned=True`` to skip the apex repartition —
    the cached distribution already satisfies the self-join, and the
    extra exchange over the InMemoryTableScan is pure waste."""
    if pre_partitioned:
        ore = oriented
    else:
        n_parts = oriented.sparkSession.sparkContext.defaultParallelism
        ore = oriented.repartition(n_parts, "u")
    a = ore.select("u", F.col("v").alias("v1"), F.col("v_deg").alias("d1"))
    b = ore.select("u", F.col("v").alias("v2"), F.col("v_deg").alias("d2"))
    wedges = a.join(b, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tris = wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")
    per_node = (
        tris.select(
            F.explode(F.array("u", "v1", "v2")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("tri"), F.lit(0)).alias("tri"),
        F.when(
            F.col("deg") >= 2,
            dround(
                2.0
                * F.coalesce(F.col("tri"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )
    return out


def label_propagation(edges: DataFrame, n_iters: int = 2) -> DataFrame:
    """Synchronous label-propagation community detection over a
    symmetrized weighted edge frame ``(src, dst, w)``.

    Every node starts in its own community (label = node id); each
    round, a node adopts the label carrying the greatest total incident
    edge weight among its neighbors, ties broken toward the SMALLEST
    label — fully deterministic, so a DuckDB oracle can unroll the
    rounds to a hash match (the async/random-order variants of LPA are
    not reproducible and are useless under a correctness gate).

    One round = one equi-join of the label vector onto the edge frame
    (labels shuffle to the src-partitioned edges; the cached edge side
    never moves) + one (node, label) weight sum + one max-struct argmax
    per node — both aggregates partial (map-side) combined, so the
    exchanges carry one row per (node, distinct neighbor label), never
    the raw edge multiplicity. Weights are integral (co-purchase
    counts): the sums are exact, no float-order concerns."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(n_iters):
        nb = edges.join(
            labels, edges["src"] == labels["node"]
        ).select(F.col("dst").alias("n2"), "label", "w")
        scores = nb.groupBy("n2", "label").agg(F.sum("w").alias("s"))
        best = F.max(
            F.struct(F.col("s"), (-F.col("label")).alias("neg_l"), F.col("label"))
        ).alias("best")
        labels = (
            scores.groupBy("n2")
            .agg(best)
            .select(F.col("n2").alias("node"), F.col("best.label").alias("label"))
        )
    return labels
