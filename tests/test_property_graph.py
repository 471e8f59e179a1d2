"""Property-based tests for the X11 graph family: triangle counts and
label-propagation must agree with brute-force references on ARBITRARY
small graphs, not just the planted fixtures the unit tests pin — the
degree-orientation wedge algebra and the synchronous max-weight/
min-label adoption rule both have edge cases (ties, isolated cliques,
stars) that random graphs hit quickly. Example counts are capped
because each example runs Spark jobs (test_property_sketches'
convention).
"""

from __future__ import annotations

from itertools import combinations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from multichannel_commerce_data_pipeline_spark.operators.graph import (
    label_propagation,
    triangle_counts,
)

SET = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# undirected simple graphs on <= 10 nodes as edge sets
edge_sets = st.sets(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=9),
    ).map(lambda p: (min(p), max(p))).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=25,
)


def _sym(spark, pairs, w=1):
    rows = [(a, b, w) for a, b in pairs] + [(b, a, w) for a, b in pairs]
    return spark.createDataFrame(rows, "src LONG, dst LONG, w LONG")


@SET
@given(pairs=edge_sets)
def test_triangle_counts_match_brute_force(spark, pairs):
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want_tri = {n: 0 for n in adj}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                want_tri[n] += 1
    got = {r.node: (r.deg, r.tri) for r in triangle_counts(_sym(spark, pairs)).collect()}
    assert set(got) == set(adj)
    for n in adj:
        assert got[n] == (len(adj[n]), want_tri[n]), f"node {n}"


@SET
@given(pairs=edge_sets)
def test_label_propagation_matches_synchronous_reference(spark, pairs):
    """One LPA round must equal the brute-force synchronous update:
    adopt the neighbor label with the greatest total weight, ties to
    the smallest label (every node starts labeled by itself)."""
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # round 1 by hand: every neighbor label is distinct (self-labels),
    # all weights 1, so the winner is simply the smallest neighbor label
    want = {n: min(adj[n]) for n in adj}
    got = {
        r.node: r.label
        for r in label_propagation(_sym(spark, pairs), n_iters=1).collect()
    }
    assert got == want


words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
    min_size=0,
    max_size=12,
)


@SET
@given(docs=st.lists(words, min_size=2, max_size=5))
def test_containment_matches_brute_force(spark, docs):
    """containment(a in b) computed by the df-capped shingle join must
    equal the set arithmetic |sh(a) ∩ sh(b)| / |sh(a)| for every pair
    (no cap here, so no conservatism)."""
    from multichannel_commerce_data_pipeline_spark.operators.dedup import (
        containment_pairs,
    )

    def sh(toks):
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        } if len(toks) >= 3 else set()

    shs = {i: sh(d) for i, d in enumerate(docs)}
    want = {}
    for a in shs:
        for b in shs:
            if a == b or not shs[a]:
                continue
            c = len(shs[a] & shs[b]) / len(shs[a])
            if c >= 0.3:
                want[(a, b)] = c
    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id LONG, text STRING",
    )
    got = {
        (r.doc, r.container): r.containment
        for r in containment_pairs(df, "doc_id", "text", threshold=0.3).collect()
    }
    assert set(got) == set(want)
    for k in want:  # dround is HALF_UP at 4 dp; compare to tolerance
        assert abs(got[k] - want[k]) < 5e-5, k
