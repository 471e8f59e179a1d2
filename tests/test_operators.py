"""Unit tests for the operator library: determinism, edge cases, and
the approximate paths that have no SQL oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.operators import dedup as D
from multichannel_commerce_data_pipeline_spark.operators import similarity as S
from multichannel_commerce_data_pipeline_spark.operators.bucketing import (
    bucketed_choice,
    deterministic_bucket,
)
from multichannel_commerce_data_pipeline_spark.tables import load


def test_deterministic_bucket_range_and_stability(spark):
    df = spark.range(0, 5000).select(
        deterministic_bucket(F.col("id"), 1000).alias("b")
    )
    stats = df.agg(
        F.min("b").alias("lo"), F.max("b").alias("hi"), F.countDistinct("b").alias("n")
    ).first()
    assert stats.lo >= 0 and stats.hi < 1000
    assert stats.n > 500  # spreads across buckets
    # same input → same buckets on re-evaluation (unlike rand())
    a = [r.b for r in df.collect()]
    b = [r.b for r in df.collect()]
    assert a == b


def test_bucketed_choice_marginals(spark):
    choices = [("US", 0.5), ("UK", 0.3), ("rest", 0.2)]
    df = spark.range(0, 20000).select(
        bucketed_choice(F.col("id"), choices).alias("c")
    )
    counts = {r.c: r.n for r in df.groupBy("c").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert total == 20000
    # multiplicative hashing is uniform: marginals land near targets
    assert abs(counts["US"] / total - 0.5) < 0.05
    assert abs(counts["UK"] / total - 0.3) < 0.05


def test_exact_dedup_deterministic_survivor(spark):
    rows = [(1, "a"), (3, "a"), (2, "a"), (7, "b"), (5, "b")]
    df = spark.createDataFrame(rows, "id INT, key STRING")
    out = {(r.key, r.id) for r in D.exact_dedup(df, ["key"], "id").collect()}
    assert out == {("a", 1), ("b", 5)}  # min id survives, always


def test_shingles_short_docs_are_empty_not_crash(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, "one"), (3, ""), (4, "a b c d")],
        "id INT, text STRING",
    )
    got = {
        r.doc: r.sh
        for r in D.doc_shingle_arrays(df, "id", "text", 3).collect()
    }
    assert got[1] == [] and got[2] == [] and got[3] == []
    assert got[4] == ["a b c", "b c d"]


def test_jaccard_pairs_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "entirely different words here now")],
        "doc_id INT, text STRING",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.jaccard_pairs(df, "doc_id", "text", threshold=0.9).collect()
    }
    assert pairs == {(1, 2): 1.0}


def test_jaccard_df_cap_drops_boilerplate_only_pairs(spark):
    # docs 1..4 share ONE boilerplate shingle; 5/6 are true near-dupes
    boiler = "standard legal disclaimer text"
    rows = [
        (1, boiler + " alpha beta gamma"),
        (2, boiler + " delta epsilon zeta"),
        (3, boiler + " eta theta iota"),
        (4, boiler + " kappa lambda mu"),
        (5, "totally unique sentence about spark engines"),
        (6, "totally unique sentence about spark engines again"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    capped = D.jaccard_pairs(df, "doc_id", "text", threshold=0.1, df_cap=3)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert (5, 6) in got
    # every 1..4 pair's overlap is only the capped boilerplate shingles
    assert not any(a <= 4 and b <= 4 for a, b in got)


def test_minhash_lsh_finds_exact_jaccard_pairs(spark, sf_dir):
    """LSH with verification returns a subset of the exact pair set,
    with identical jaccard values on the pairs it finds."""
    d = load(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.jaccard_pairs(d, "doc_id", "text", threshold=0.14).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.minhash_lsh_pairs(d, "doc_id", "text", threshold=0.14).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, j in lsh.items():
        assert j == exact[pair]
    if exact:  # banded LSH at r=2 should recall most true pairs
        assert len(lsh) / len(exact) >= 0.5


def test_srp_recall_vs_exact_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    exact = S.cosine_topk(e, q, k=10).collect()
    approx = S.srp_bucket_topk(e, q, dim=64, n_planes=4, k=10).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"multi-probe SRP recall too low: {recall}"
    # cosine values agree on the intersection (same scoring expression)
    exact_vals = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    for r in approx:
        key = (r.query_id, r.neighbor_id)
        if key in exact_vals:
            assert r.cosine == exact_vals[key]


def test_simhash_near_dupes_have_small_hamming_distance(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "the quick brown fox jumps over the lazy dog near the water"),
        (3, "completely unrelated financial quarterly report revenue figures"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    fp = {r.doc: r.simhash for r in D.simhash(df, "doc_id", "text").collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(fp[1], fp[2]) < ham(fp[1], fp[3])
    assert ham(fp[1], fp[2]) <= 4


def test_ivf_recall_vs_exact(spark, sf_dir):
    """IVF with 4-of-10 cells probed should recover a solid fraction of
    the exact top-k on the synthetic corpus."""
    from pyspark.sql import functions as F

    from multichannel_commerce_data_pipeline_spark.operators import similarity as S
    from multichannel_commerce_data_pipeline_spark.tables import load

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(e, q, k=10).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(e, q, centroid_stride=50, n_probe=4, k=10).collect()
    }
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.3, f"IVF recall {recall:.2f} too low"


def test_simhash_pairs_pigeonhole_recall(spark):
    # identical docs → hamming 0; pairs must be found via band collision
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally unrelated content words here")],
        "doc_id INT, text STRING",
    )
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in D.simhash_pairs(df, "doc_id", "text").collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_blocked_levenshtein_pairs(spark):
    df = spark.createDataFrame(
        [(1, "Customer#000000010", 5), (2, "Customer#000000011", 5),
         (3, "Customer#000000011", 7),  # other block (nation differs)
         (4, "Wholesale#00000010", 5)],  # prefix differs -> not a candidate
        "id INT, name STRING, nat INT",
    )
    out = {(r.id_a, r.id_b): r.edit_dist
           for r in D.blocked_levenshtein_pairs(
               df, "id", "name", ["nat"], prefix_len=16, max_dist=2).collect()}
    assert out == {(1, 2): 1}


def test_rolling_fingerprint_order_sensitive(spark):
    from multichannel_commerce_data_pipeline_spark.operators.text import (
        rolling_fingerprint,
        tokens,
    )
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "a b c"), (4, "")],
        "id INT, text STRING",
    )
    t = df.select("id", tokens(F.col("text")).alias("toks"))
    fps = {r.id: r.fp
           for r in t.select("id", rolling_fingerprint(F.col("toks")).alias("fp")).collect()}
    assert fps[1] == fps[3]          # deterministic
    assert fps[1] != fps[2]          # order-sensitive (md5 fp would need normalization)
    assert fps[4] == 0               # empty doc guard


def test_subword_tokens_bpe_ish_splits(spark):
    from multichannel_commerce_data_pipeline_spark.operators.text import subword_tokens
    df = spark.createDataFrame([(1, "Hello, world-42!")], "id INT, text STRING")
    got = df.select(subword_tokens(F.col("text")).alias("s")).first().s
    assert got == ["hello", ",", "world", "-", "42", "!"]


def test_dedup_clusters_transitive(spark):
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (7, 9, 0.8)],
        "doc_a INT, doc_b INT, jaccard DOUBLE",
    )
    got = {r.doc: r.cluster_id for r in D.dedup_clusters(pairs).collect()}
    # 1-2-3 chain collapses transitively; 7/9 separate
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_chunk_spans_coverage_and_overlap(spark):
    from multichannel_commerce_data_pipeline_spark.operators.text import (
        chunk_spans,
        tokens,
    )
    rows = [
        (1, " ".join(f"t{i}" for i in range(10))),   # 10 toks: 1 chunk
        (2, " ".join(f"t{i}" for i in range(100))),  # 100 toks: windows of 8/stride 6
        (3, ""),                                     # empty: no chunks
    ]
    df = spark.createDataFrame(rows, "id INT, text STRING")
    t = df.select("id", tokens(F.col("text")).alias("toks"))
    got = {
        r.id: r.spans
        for r in t.select("id", chunk_spans(F.col("toks"), 8, 6).alias("spans")).collect()
    }
    assert [tuple(s) for s in got[1]] == [(1, 8), (7, 4)]  # remainder window
    assert got[3] == []
    spans2 = [tuple(s) for s in got[2]]
    # full coverage: last span ends at token 100; every start advances by stride
    assert spans2[0] == (1, 8)
    assert all(b[0] - a[0] == 6 for a, b in zip(spans2, spans2[1:]))
    assert spans2[-1][0] + spans2[-1][1] - 1 == 100


def test_stratified_sample_marginals_and_determinism(spark):
    from multichannel_commerce_data_pipeline_spark.operators.bucketing import (
        stratified_sample,
    )
    df = spark.range(0, 20000).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("fr").alias("lang"),
    )
    keep = stratified_sample(F.col("id"), F.col("lang"), {"en": 0.5, "fr": 0.1})
    out = df.filter(keep)
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["en"] / 10000 - 0.5) < 0.05
    assert abs(counts["fr"] / 10000 - 0.1) < 0.03
    # deterministic: same rows on re-evaluation
    a = sorted(r.id for r in out.collect())
    assert a == sorted(r.id for r in out.collect())


def test_asof_join_edge_cases(spark):
    from multichannel_commerce_data_pipeline_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [("k1", 10, 100.0), ("k1", 20, 200.0), ("k2", 15, 999.0)],
        "key STRING, rts INT, px DOUBLE",
    )
    left = spark.createDataFrame(
        [("k1", 5, "before-any"), ("k1", 10, "exact-tie"),
         ("k1", 25, "after-both"), ("k3", 50, "no-right-key")],
        "key STRING, lts INT, tag STRING",
    )
    out = {r.tag: (r.matched_ts, r.px)
           for r in asof_join(left, right, ["key"], "lts", "rts", ["px"]).collect()}
    assert out["before-any"] == (None, None)      # no prior right row
    assert out["exact-tie"] == (10, 100.0)        # right at same ts wins
    assert out["after-both"] == (20, 200.0)       # latest prior, not first
    assert out["no-right-key"] == (None, None)    # keys isolate


def test_range_join_boundaries(spark):
    from pyspark.sql import functions as F

    from multichannel_commerce_data_pipeline_spark.operators.asof import (
        range_join_broadcast,
    )

    facts = spark.createDataFrame([(0,), (10,), (19,), (20,), (35,)], "v INT")
    bands = spark.createDataFrame(
        [(0, 10, "low"), (10, 20, "mid"), (20, 30, "high")],
        "lo INT, hi INT, band STRING",
    )
    got = {r.v: r.band
           for r in range_join_broadcast(facts, bands, "v", "lo", "hi").collect()}
    assert got == {0: "low", 10: "mid", 19: "mid", 20: "high", 35: None}


def test_salted_sum_count_is_identical_to_direct_groupby(spark):
    from multichannel_commerce_data_pipeline_spark.operators.skew import (
        salted_sum_count,
    )

    df = spark.range(0, 50000).select(
        (F.col("id") % 3).alias("g"),
        F.col("id").alias("pk"),
        (F.col("id") * 7 % 1000).cast("decimal(18,6)").alias("amt"),
    )
    direct = {
        (r.g,): (r.s, r.n)
        for r in df.groupBy("g")
        .agg(F.sum("amt").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        (r.g,): (r.s, r.n)
        for r in salted_sum_count(
            df, ["g"], F.col("pk"), {"s": F.col("amt")}
        ).collect()
    }
    assert salted == direct  # decimal combine is associative: bit-identical


def test_deterministic_bucket_large_keys_match_oracle(spark):
    """Keys >= 3.5e9 overflowed the pre-reduction multiply (Spark wraps
    silently, DuckDB errors) — the mod-2^31-1 reduction keeps the whole
    int64 key range bit-identical across engines."""
    import duckdb

    from multichannel_commerce_data_pipeline_spark.operators.bucketing import (
        oracle_bucket_sql,
    )

    keys = [0, 1, 999, 2_147_483_646, 2_147_483_647, 3_500_000_000,
            9_223_372_036_854_775_807, -5, -3_600_000_000]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r.k: r.b
        for r in df.select(
            "k", deterministic_bucket(F.col("k"), 1000).alias("b")
        ).collect()
    }
    con = duckdb.connect()
    for k in keys:
        (want,) = con.execute(
            f"SELECT {oracle_bucket_sql(f'CAST({k} AS BIGINT)', 1000)}"
        ).fetchone()
        assert got[k] == want, f"key {k}: spark={got[k]} duckdb={want}"
        assert 0 <= got[k] < 1000


def test_session_boundary_agreement_at_exact_gap(spark, tmp_path):
    """Spark's session_window MERGES an event exactly 30 min after its
    predecessor (touching windows merge — verified here), so a new
    session needs gap STRICTLY > duration, and the sessionize /
    gap-detection duals must use strict > to agree at the boundary."""
    import datetime as dt

    from multichannel_commerce_data_pipeline_spark.queries.time_windows import (
        event_gap_detection,
        event_sessionize,
        session_window_events,
    )

    t0 = dt.datetime(2025, 6, 1, 12, 0, 0)
    rows = [
        (1, 100, t0, "view", 1.0),
        (2, 100, t0 + dt.timedelta(minutes=30), "click", 1.0),  # exact gap: merges
        (3, 100, t0 + dt.timedelta(minutes=60, seconds=1), "view", 1.0),  # > gap
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    sf = str(tmp_path)

    sw = sorted(session_window_events(spark, sf).collect(), key=lambda r: r.session_start)
    assert len(sw) == 2  # events 1+2 merge (exact gap); event 3 splits (> gap)
    assert sw[0].n_events == 2 and sw[1].n_events == 1
    seqs = {r.event_id: r.session_seq for r in event_sessionize(spark, sf).collect()}
    assert seqs == {1: 1, 2: 1, 3: 2}  # dual agrees at both boundaries
    gaps = event_gap_detection(spark, sf).collect()
    assert [(r.event_id, r.gap_us) for r in gaps] == [(3, 1_801_000_000)]


def test_dedup_clusters_falls_back_to_star_on_nonconvergence(spark):
    """A chain with diameter > max_iter must NOT return silently split
    clusters: min-label propagation (O(diameter) rounds) hands the
    residue to large-star/small-star contraction and warns; the result
    is still the full component with the min id as cluster."""
    import pytest

    from multichannel_commerce_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    with pytest.warns(RuntimeWarning, match="did not converge"):
        out = dedup_clusters(chain, max_iter=3).collect()
    assert {r.cluster_id for r in out} == {0}
    assert len(out) == 13
    # with enough rounds min-label converges on its own — no warning
    ok = dedup_clusters(chain, max_iter=15).collect()
    assert {r.cluster_id for r in ok} == {0}
    assert len(ok) == 13


def test_fallback_equals_star_contract_on_scaled_chain(spark):
    """The non-convergence fallback path (label-prop residue handed to
    star contraction) must produce EXACTLY the assignment star_contract
    computes on the raw graph — checked on a planted graph 40x the
    small fixture: a 500-node chain (diameter >> any propagation
    budget) plus 60 disjoint 4-cliques, built with spark.range so the
    fixture scales without a driver-side edge list."""
    import pytest

    from multichannel_commerce_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
        star_contract,
    )

    chain = spark.range(500).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    base = F.lit(1_000_000) + F.col("id") * 4
    cliques = spark.range(60).select(
        F.explode(
            F.array(*[F.array(base + i, base + j)
                      for i in range(4) for j in range(i + 1, 4)])
        ).alias("e")
    ).select(F.col("e")[0].alias("doc_a"), F.col("e")[1].alias("doc_b"))
    pairs = chain.union(cliques).localCheckpoint()

    stats: dict = {}
    with pytest.warns(RuntimeWarning, match="did not converge"):
        via_fallback = dedup_clusters(pairs, max_iter=3, stats=stats)
    assert stats["fallback"] and stats["rounds"] == 3
    got = {r.doc: r.cluster_id for r in via_fallback.collect()}
    want = {r.doc: r.cluster_id for r in star_contract(pairs).collect()}
    assert got == want
    # 61 components, each labeled by its min id
    assert len(set(got.values())) == 61
    assert sum(1 for v in got.values() if v == 0) == 501


def test_star_contract_matches_union_find(spark):
    """Large-star/small-star contraction labels every component by its
    min id — checked against a driver-side union-find on a graph mixing
    a 60-long chain (diameter way past any label-propagation budget),
    a clique, an isolated pair, and random edges."""
    import random

    from multichannel_commerce_data_pipeline_spark.operators.dedup import (
        star_contract,
    )

    rng = random.Random(17)
    edges = [(i, i + 1) for i in range(100, 160)]           # long chain
    edges += [(a, b) for a in range(5) for b in range(a + 1, 5)]  # clique
    edges += [(900, 901)]                                   # isolated pair
    edges += [(rng.randrange(200, 260), rng.randrange(200, 260)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc: r.cluster_id for r in star_contract(df).collect()}
    assert got == expected


def test_udtf_sentence_split_edges(spark):
    """UDTF protocol edges: NULL text yields nothing, punctuation-free
    text is one sentence, leading/doubled terminators never emit empty
    fragments, and indexes stay 1-based over the UNfiltered enumeration
    (so they match the oracle's array positions)."""
    from multichannel_commerce_data_pipeline_spark.operators.udtf_ops import (
        SplitSentences,
    )

    spark.udtf.register("split_sentences_t", SplitSentences)
    spark.createDataFrame(
        [(1, "One. Two! Three"), (2, "no punctuation"), (3, None), (4, "!! Lead. ")],
        "doc_id long, text string",
    ).createOrReplaceTempView("udtf_edge_v")
    rows = spark.sql(
        "SELECT d.doc_id, s.sent_idx, s.sentence "
        "FROM udtf_edge_v d, LATERAL split_sentences_t(d.text) s"
    ).collect()
    got = {(r.doc_id, r.sent_idx): r.sentence for r in rows}
    assert got == {
        (1, 1): "One", (1, 2): "Two", (1, 3): "Three",
        (2, 1): "no punctuation",
        (4, 2): "Lead",  # idx 1 was the empty pre-terminator fragment
    }


def test_redact_pii_patterns_and_order(spark):
    from multichannel_commerce_data_pipeline_spark.operators.text import redact_pii

    rows = [
        (1, "mail me at john.doe+x@corp.example.org today"),
        (2, "call +1 (415) 555-2671 or 555-867-5309 now"),
        (3, "server at 192.168.0.1 responded"),
        (4, "user@10.0.0.1 is an email, not an IP"),
        (5, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, "id INT, text STRING")
    got = {r.id: r.t for r in df.select("id", redact_pii(F.col("text")).alias("t")).collect()}
    assert got[1] == "mail me at <EMAIL> today"
    assert got[2] == "call <PHONE> or <PHONE> now"
    assert got[3] == "server at <IP> responded"
    # numeric-TLD "emails" aren't matched by the email pattern (TLD must
    # be alphabetic); the embedded IP literal is still scrubbed
    assert got[4] == "user@<IP> is an email, not an IP"
    assert got[5] == rows[4][1]


def test_gopher_flags_edges(spark):
    from multichannel_commerce_data_pipeline_spark.operators.text import gopher_flags

    rows = [
        (1, ""),  # empty: everything fails, no div-by-zero
        (2, "the cat sat on a mat of cloth and more words here"),  # clean
        (3, "### {{{ }}} [[[ ]]] <<< >>> ||| #"),  # symbol soup
    ]
    df = spark.createDataFrame(rows, "id INT, text STRING")
    flags = gopher_flags(F.col("text"))
    out = {r.id: r for r in df.select("id", *[v.alias(k) for k, v in flags.items()]).collect()}
    assert out[1].n_words == 0 and not out[1].ok_word_count
    assert out[1].mean_word_len == 0.0 and out[1].symbol_ratio == 0.0
    assert out[2].ok_word_count and out[2].ok_word_len and out[2].ok_symbols and out[2].ok_stopwords
    assert not out[3].ok_symbols and not out[3].ok_stopwords


def test_decontaminate_flags_planted_overlap(spark):
    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows_bench = [(1, bench_text)]
    rows_train = [
        (21, "prefix words then alpha beta gamma delta epsilon zeta trailing"),
        (22, "no overlap with the held out set whatsoever in here"),
        (23, bench_text),  # verbatim copy: many contaminated 6-grams
    ]
    bench = spark.createDataFrame(rows_bench, "doc_id INT, text STRING")
    train = spark.createDataFrame(rows_train, "doc_id INT, text STRING")
    got = {
        r.doc: r.n_contaminated_ngrams
        for r in D.decontaminate_flags(train, bench, n=6).collect()
    }
    assert 21 in got and 23 in got and 22 not in got
    assert got[23] == 3  # 8 tokens -> 3 distinct 6-grams, all shared
    assert got[21] == 1  # exactly one 6-gram window overlaps


def test_dup_ngram_fraction_values(spark):
    from multichannel_commerce_data_pipeline_spark.operators.dedup import (
        dup_ngram_fraction,
        ngram_multiset,
    )
    from multichannel_commerce_data_pipeline_spark.operators.text import tokens

    rows = [
        (1, "spam spam spam spam spam"),   # bigrams: 4 occurrences, 1 distinct
        (2, "all words here are unique"),  # no repeats
        (3, "x"),                          # shorter than n: fraction 0
    ]
    df = spark.createDataFrame(rows, "id INT, text STRING")
    staged = df.select(
        "id", ngram_multiset(tokens(F.col("text")), 2).alias("g2")
    )
    got = {
        r.id: round(r.f, 4)
        for r in staged.select("id", dup_ngram_fraction(F.col("g2")).alias("f")).collect()
    }
    assert got[1] == 0.75 and got[2] == 0.0 and got[3] == 0.0


def test_quantize_int8_codes_in_range_and_faithful(spark, sf_dir):
    """int8 quantization: codes within [-127, 127], the max-|x|
    component hits exactly +/-127, and the dequantized direction stays
    within 1% of the original (64-dim, well-conditioned vectors)."""
    from multichannel_commerce_data_pipeline_spark.operators.similarity import (
        quantize_int8,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    e = load(spark, sf_dir, "embeddings")
    out = quantize_int8(e).persist()
    stats = out.select(
        F.array_min("q").alias("lo"),
        F.array_max("q").alias("hi"),
        "dequant_cos",
    ).collect()
    assert stats, "no rows"
    for r in stats:
        assert -127 <= r["lo"] and r["hi"] <= 127
        assert r["dequant_cos"] > 0.99
    # every vector's largest-magnitude component maps to +/-127
    extremes = out.filter(
        (F.array_max("q") != 127) & (F.array_min("q") != -127)
    ).count()
    assert extremes == 0
    out.unpersist()


def test_semantic_dedup_drops_planted_near_identical_vector(spark):
    """Plant a vector nearly identical to an existing one (same IVF
    cell by construction): the clone must lose the exemplar election to
    its original (higher centroid affinity or id tie-break) and be
    marked keep=false; orthogonal members of other cells stay kept."""
    import math

    from multichannel_commerce_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    dim = 8
    base = [1.0] * dim
    clone = [1.0] * (dim - 1) + [1.001]  # cosine ~0.99999 to base
    ortho = [1.0, -1.0] * (dim // 2)     # cosine 0 to base
    rows = [
        (0, base),    # id 0: centroid (stride 2 -> ids 0, 2 are centroids)
        (1, clone),   # same cell as 0, nearly identical
        (2, ortho),   # its own centroid/cell
        (3, [float(i) for i in range(1, dim + 1)]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    out = {
        r["id"]: r.asDict()
        for r in semantic_dedup(df, centroid_stride=2, threshold=0.9).collect()
    }
    assert len(out) == 4
    # the clone shares cell 0 with the base and exceeds the threshold
    assert out[1]["cell"] == out[0]["cell"]
    assert out[1]["cos_to_exemplar"] >= 0.9
    assert out[1]["keep"] is False
    # every cell's exemplar keeps itself
    for r in out.values():
        if r["id"] == r["exemplar_id"]:
            assert r["keep"] is True
    # the orthogonal vector is not dropped for cell 0's sake
    assert out[2]["keep"] is True
    assert math.isclose(out[0]["cos_to_exemplar"], 1.0, abs_tol=1e-6)


def test_passage_dedup_planted_boilerplate(spark):
    # 10-word passages; doc 0 owns the boilerplate, docs 1-2 repeat it.
    boiler = " ".join(f"b{i}" for i in range(10))
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"c{i}" for i in range(7))  # short tail passage
    df = spark.createDataFrame(
        [
            (0, boiler + " " + uniq_a),
            (1, boiler + " " + uniq_b),
            (2, boiler),  # nothing survives: emptied, not dropped
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in D.passage_dedup(df, "doc_id", "text").collect()
    }
    assert out[0].clean_text == boiler + " " + uniq_a
    assert out[0].n_kept == 2 and out[0].n_dropped == 0
    assert out[1].clean_text == uniq_b  # boilerplate stripped, tail kept
    assert out[1].n_kept == 1 and out[1].n_dropped == 1
    assert out[2].clean_text == "" and out[2].n_kept == 0
    assert out[2].n_passages == 1 and out[2].n_dropped == 1


def test_boilerplate_lines_planted_navbar(spark):
    """df > threshold kills the line EVERYWHERE (no survivor — the rule
    that distinguishes boilerplate removal from every dedup form), a
    line at exactly the threshold survives everywhere, and within-doc
    repeats count the document ONCE toward df."""
    nav = " ".join(f"n{i}" for i in range(10))  # in 3 docs: df=3 > 2
    foot = " ".join(f"f{i}" for i in range(10))  # in 2 docs: df=2, kept
    ua = " ".join(f"a{i}" for i in range(10))
    ub = " ".join(f"b{i}" for i in range(4))  # short tail line
    df = spark.createDataFrame(
        [
            (0, nav + " " + ua),
            (1, nav + " " + foot),
            (2, nav + " " + foot + " " + ub),
            # doc 3 repeats nav internally — still ONE df vote, and both
            # copies are removed once nav is over threshold
            (3, nav + " " + nav),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in D.boilerplate_lines(
            df, "doc_id", "text", line_words=10, df_threshold=2
        ).collect()
    }
    assert out[0].clean_text == ua and out[0].n_removed == 1
    assert out[1].clean_text == foot  # nav cut, df=2 footer survives
    assert out[2].clean_text == foot + " " + ub
    assert out[2].n_lines == 3 and out[2].n_removed == 1
    # emptied, never dropped: the all-boilerplate doc keeps its row
    assert out[3].clean_text == "" and out[3].n_kept == 0
    assert out[3].n_lines == 2 and out[3].n_removed == 2
    assert set(out) == {0, 1, 2, 3}


def test_boilerplate_cut_with_sketch_matches_exact_on_wide_grid(spark):
    """The sketch-backed APPLY half: with a collision-free grid (w far
    above the distinct-line count) the cut must equal the exact
    boilerplate_lines output row-for-row; with a colliding grid the cut
    is CONSERVATIVE — the removed-line set is a superset of the exact
    one, never a subset (est >= exact)."""
    from multichannel_commerce_data_pipeline_spark.operators.bloom import (
        _positions,
    )

    nav = " ".join(f"n{i}" for i in range(10))
    foot = " ".join(f"f{i}" for i in range(10))
    ua = " ".join(f"a{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (0, nav + " " + ua),
            (1, nav + " " + foot),
            (2, nav + " " + foot),
            (3, nav + " " + nav),  # within-doc repeat: one df vote
        ],
        "doc_id long, text string",
    )

    def grid_cells(w, d, seed):
        # the exact df grid the streaming maintain job would land:
        # each doc votes once per DISTINCT line
        votes = df.select(
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(0),
                            F.ceil(
                                F.size(F.split("text", " ")) / F.lit(10)
                            ).cast("int")
                            - 1,
                        ),
                        lambda k: F.md5(
                            F.concat_ws(
                                " ",
                                F.slice(F.split("text", " "), k * 10 + 1, 10),
                            )
                        ),
                    )
                )
            ).alias("ldigest")
        )
        pos = _positions(F.col("ldigest"), w, d, seed)
        rows = (
            votes.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(j).alias("j"), p.cast("int").alias("b")
                            )
                            for j, p in enumerate(pos)
                        ]
                    )
                ).alias("c")
            )
            .groupBy("c.j", "c.b")
            .count()
            .collect()
        )
        cells = [0] * (d * w)
        for r in rows:
            cells[r.j * w + r.b] = r["count"]
        return cells

    exact = {
        r.doc_id: r
        for r in D.boilerplate_lines(
            df, "doc_id", "text", line_words=10, df_threshold=2
        ).collect()
    }
    wide = {
        r.doc_id: r
        for r in D.boilerplate_cut_with_sketch(
            df, "doc_id", "text", grid_cells(4096, 3, 131), w=4096
        ).collect()
    }
    assert {k: (v.n_lines, v.n_kept, v.clean_text) for k, v in wide.items()} == {
        k: (v.n_lines, v.n_kept, v.clean_text) for k, v in exact.items()
    }
    # a 2-bucket grid forces collisions: conservative, never permissive
    tight = {
        r.doc_id: r
        for r in D.boilerplate_cut_with_sketch(
            df, "doc_id", "text", grid_cells(2, 3, 131), w=2
        ).collect()
    }
    for k in exact:
        assert tight[k].n_removed >= exact[k].n_removed
        kept_tight = set(tight[k].clean_text.split()) - {""}
        kept_exact = set(exact[k].clean_text.split()) - {""}
        assert kept_tight <= kept_exact


def test_passage_dedup_within_document_repeat(spark):
    # the SAME doc repeating a passage keeps only the first occurrence
    p = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(7, p + " " + p)], "doc_id long, text string")
    row = D.passage_dedup(df, "doc_id", "text").first()
    assert row.n_passages == 2 and row.n_kept == 1
    assert row.clean_text == p


def test_ann_recall_query_shape_and_bounds(spark, sf_dir):
    from multichannel_commerce_data_pipeline_spark.queries import load_registry

    rows = load_registry()["ann_recall_at_k"].fn(spark, sf_dir).collect()
    assert len(rows) == 8  # one row per sampled query vector
    for r in rows:
        assert 0 <= r.n_hits <= 10
        assert abs(r.recall_at_k - r.n_hits / 10.0) < 1e-9


def test_scd2_history_runs_versions_and_currency(spark):
    from multichannel_commerce_data_pipeline_spark.operators.scd import scd2_history

    df = spark.createDataFrame(
        [
            (1, 10, "bronze"),
            (1, 20, "bronze"),   # same run
            (1, 30, "gold"),     # new run
            (1, 40, "bronze"),   # bronze AGAIN -> third run, not merged
            (2, 10, None),       # null attr run
            (2, 20, None),       # null == null (null-safe): same run
            (2, 30, "silver"),
        ],
        "k long, t long, a string",
    )
    rows = {(r.k, r.version): r for r in scd2_history(df, "k", "a", "t").collect()}
    assert len(rows) == 5
    assert rows[(1, 1)].a == "bronze" and rows[(1, 1)].effective_to == 30
    assert rows[(1, 2)].a == "gold" and rows[(1, 2)].n_obs == 1
    assert rows[(1, 3)].a == "bronze" and rows[(1, 3)].is_current
    assert rows[(2, 1)].a is None and rows[(2, 1)].n_obs == 2
    assert rows[(2, 2)].a == "silver" and rows[(2, 2)].is_current
    # exactly one current row per key
    assert sum(1 for r in rows.values() if r.is_current) == 2


def test_merge_upsert_insert_update_delete_passthrough(spark):
    from multichannel_commerce_data_pipeline_spark.operators.merge import (
        merge_upsert,
    )

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double",
    )
    updates = spark.createDataFrame(
        [(2, "b2", 22.0, False), (3, "c", 0.0, True), (4, "d", 40.0, False)],
        "k long, name string, bal double, del boolean",
    )
    out = {r.k: r for r in merge_upsert(base, updates, ["k"], "del").collect()}
    assert set(out) == {1, 2, 4}          # 3 deleted
    assert out[1].name == "a"             # untouched base passes through
    assert out[2].name == "b2" and out[2].bal == 22.0  # updated wins
    assert out[4].name == "d"             # new key inserted
    # output schema is exactly the base schema (no merge bookkeeping)
    assert merge_upsert(base, updates, ["k"], "del").columns == base.columns


def test_merge_upsert_without_delete_col(spark):
    from multichannel_commerce_data_pipeline_spark.operators.merge import (
        merge_upsert,
    )

    base = spark.createDataFrame([(1, 1.0)], "k long, v double")
    updates = spark.createDataFrame([(1, 9.0), (2, 2.0)], "k long, v double")
    out = {r.k: r.v for r in merge_upsert(base, updates, ["k"]).collect()}
    assert out == {1: 9.0, 2: 2.0}


def test_scd2_apply_equals_full_rebuild(spark):
    from multichannel_commerce_data_pipeline_spark.operators.scd import (
        scd2_apply,
        scd2_history,
    )

    # keys: 1 continues its open run, 2 changes attr, 3 untouched,
    # 4 brand-new in the batch
    old = [(1, 10, "a"), (1, 20, "a"), (1, 30, "b"),
           (2, 10, "x"), (3, 10, "z")]
    new = [(1, 40, "b"), (1, 50, "c"),
           (2, 40, "y"), (4, 40, "q")]
    old_df = spark.createDataFrame(old, "k long, t long, a string")
    new_df = spark.createDataFrame(new, "k long, t long, a string")
    full = scd2_history(
        old_df.unionByName(new_df), "k", "a", "t"
    ).collect()
    inc = scd2_apply(
        scd2_history(old_df, "k", "a", "t"), new_df, "k", "a", "t"
    ).collect()
    key = lambda r: (r.k, r.version)  # noqa: E731
    assert sorted(map(tuple, full), key=str) == sorted(map(tuple, inc), key=str)
    by = {key(r): r for r in inc}
    assert by[(1, 2)].n_obs == 2 and by[(1, 2)].a == "b"  # extended run
    assert by[(1, 3)].a == "c" and by[(1, 3)].is_current
    assert by[(3, 1)].is_current                          # untouched
    assert by[(4, 1)].a == "q" and by[(4, 1)].version == 1  # new key


def test_scd2_apply_folds_multiple_batches(spark):
    """Chaining scd2_apply over N sequential batches must equal one
    full rebuild — the associativity that makes the daily refresh safe
    to run forever."""
    from multichannel_commerce_data_pipeline_spark.operators.scd import (
        scd2_apply,
        scd2_history,
    )

    batches = [
        [(1, 10, "a"), (2, 10, "x")],
        [(1, 20, "a"), (3, 20, "z")],
        [(1, 30, "b"), (2, 30, "x"), (3, 30, "w")],
        [(1, 40, "a"), (4, 40, "new")],
    ]
    dfs = [
        spark.createDataFrame(b, "k long, t long, a string") for b in batches
    ]
    hist = scd2_history(dfs[0], "k", "a", "t")
    for b in dfs[1:]:
        # materialize between refreshes — the production shape (the
        # stored dimension IS the materialization); see scd2_apply's
        # docstring for why a deep lazy chain is wrong anyway
        hist = scd2_apply(hist.localCheckpoint(eager=True), b, "k", "a", "t")
    all_obs = dfs[0]
    for b in dfs[1:]:
        all_obs = all_obs.unionByName(b)
    full = scd2_history(all_obs, "k", "a", "t")
    assert sorted(map(tuple, hist.collect()), key=str) == sorted(
        map(tuple, full.collect()), key=str
    )


def test_passage_dedup_hot_boilerplate_passage(spark):
    """Skew shape: ONE passage shared by every document (the 100 TB
    boilerplate case the partial-aggregated survivor is designed for).
    Only doc 0 keeps it; every doc keeps its unique tail."""
    boiler = " ".join(f"b{i}" for i in range(10))
    docs = [(d, boiler + f" unique{d}") for d in range(200)]
    out = {
        r.doc_id: r
        for r in D.passage_dedup(
            spark.createDataFrame(docs, "doc_id long, text string"), "doc_id", "text"
        ).collect()
    }
    assert len(out) == 200
    assert out[0].clean_text == boiler + " unique0"
    for d in range(1, 200):
        assert out[d].clean_text == f"unique{d}", d
        assert out[d].n_dropped == 1


def test_dsir_log_ratios_match_python_reference(spark):
    """Fit DSIR on a planted 4-doc corpus and check the per-doc weights
    against an independent pure-Python computation over the SAME
    feature space (unigrams+bigrams, hashed buckets, add-one
    smoothing). Target docs share the 'good' vocabulary, so they must
    outweigh the raw-only docs."""
    import hashlib
    import math
    from decimal import Decimal

    from multichannel_commerce_data_pipeline_spark.operators import importance as I

    docs = [
        (0, "t", "good clean text good clean"),
        (1, "t", "good clean prose"),
        (2, "r", "junk spam junk spam junk"),
        (3, "r", "spam junk noise"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, cls string, text string")
    with_b = df.select(
        "doc_id", "cls", I.feature_buckets(F.col("text")).alias("bs")
    )
    prof = I.bucket_class_profile(with_b, "bs", "cls").collect()
    ratios = I.dsir_log_ratios(prof, "t")
    got = {
        r["doc_id"]: Decimal(str(r["w"]))
        for r in with_b.select(
            "doc_id", I.score_buckets(F.col("bs"), ratios).alias("w")
        ).collect()
    }

    def py_bucket(f):
        h = int(hashlib.md5(f"{I.HASH_SEED}:{f}".encode()).hexdigest()[:8], 16)
        return h % I.N_BUCKETS

    def py_feats(text):
        toks = text.lower().split()
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    tgt, raw = {}, {}
    for _, cls, text in docs:
        for b in map(py_bucket, py_feats(text)):
            raw[b] = raw.get(b, 0) + 1
            if cls == "t":
                tgt[b] = tgt.get(b, 0) + 1
    t_tot, r_tot = sum(tgt.values()), sum(raw.values())
    D_ = I.N_BUCKETS
    lw = {
        b: I.quantize_logprob(
            math.log(
                ((tgt.get(b, 0) + 1) / (t_tot + D_)) / ((raw[b] + 1) / (r_tot + D_))
            )
        )
        for b in raw
    }
    for doc_id, _, text in docs:
        want = sum((lw[py_bucket(f)] for f in py_feats(text)), Decimal(0))
        assert got[doc_id] == want, doc_id
    assert min(got[0], got[1]) > max(got[2], got[3])


def test_nb_posterior_recovers_planted_classes(spark):
    """Hashed NB trained on a separable planted corpus must classify
    every training doc correctly (two disjoint vocabularies), and its
    argmax tie-break must be deterministic."""
    from multichannel_commerce_data_pipeline_spark.queries import load_registry  # noqa: F401
    from multichannel_commerce_data_pipeline_spark.operators import importance as I

    rows = [(i, "a", "alpha beta gamma delta") for i in range(6)] + [
        (i + 6, "b", "omega psi chi phi") for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    with_b = df.select(
        "doc_id", "lang", I.feature_buckets(F.col("text")).alias("bs")
    )
    prof = I.bucket_class_profile(with_b, "bs", "lang").collect()
    sizes = {r["lang"]: 6 for r in df.select("lang").distinct().collect()}
    priors, lls = I.nb_log_model(prof, sizes)
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
    out = with_b.select("doc_id", "lang", F.array_max(per_class)["c"].alias("pred"))
    for r in out.collect():
        assert r.pred == r.lang, (r.doc_id, r.lang, r.pred)


def test_incremental_lsh_probe_flags_only_batch_vs_index(spark):
    """A new batch probed against the index flags batch→corpus
    near-dups but NOT corpus→corpus or batch→batch pairs (those belong
    to the index build / within-batch pass). Planted: doc 101 copies
    corpus doc 0; docs 103 and 105 copy each other but nothing in the
    corpus."""
    base = " ".join(f"w{i}" for i in range(40))
    other = " ".join(f"x{i}" for i in range(40))
    corpus = [(0, base), (2, other)]
    batch = [(101, base + " tail"), (103, "q " + other.replace("x", "y")),
             (105, "q " + other.replace("x", "y"))]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    idx = D.minhash_lsh_index(mk(corpus), "doc_id", "text")
    sig = D.minhash_lsh_index(mk(batch), "doc_id", "text")
    out = D.minhash_lsh_probe(idx, sig, threshold=0.5).collect()
    assert {(r.new_doc, r.dup_of) for r in out} == {(101, 0)}
    assert all(r.jaccard >= 0.5 for r in out)


def test_pq_codebook_vectors_self_encode(spark, sf_dir):
    """Every stride-sampled codebook vector must encode to its own code
    in every subspace (score = dot(s,c) - |c|^2/2 is uniquely maximized
    at c = s) and reconstruct exactly (recon_cos == 1.0); other vectors
    get valid code ranges and a sane quality guard."""
    e = load(spark, sf_dir, "embeddings")
    out = {r.id: r for r in S.pq_encode(e, m=8, k=16, stride=25).collect()}
    for j in range(16):
        r = out[j * 25]
        assert list(r.codes) == [j] * 8, (j, r.codes)
        assert r.recon_cos == 1.0
    for r in out.values():
        assert len(r.codes) == 8
        assert all(0 <= c < 16 for c in r.codes)
        assert r.recon_cos is None or -1.0 <= r.recon_cos <= 1.0


def test_ivfpq_topk_shape_and_recall_overlap(spark, sf_dir):
    """ADC ranking must produce a full contiguous top-k per query with
    approx cosines in [-1-eps, 1+eps] (reconstruction error can push
    slightly past 1), and overlap the IVF-flat top-k far above the
    random baseline (10-of-500 random overlap ~= 0.02). The absolute
    overlap is modest BY CONSTRUCTION on this fixture: the stride
    codebook is untrained (median recon_cos ~= 0.57 on the random
    synthetic embeddings) and the true neighbors are barely separated;
    a trained k-means codebook at deployment raises recall with the
    identical plan."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    pq = S.ivfpq_topk(e, q, centroid_stride=50, n_probe=4, m=8,
                      k_codes=16, code_stride=25, k=10).collect()
    flat = S.ivf_topk(e, q, centroid_stride=50, n_probe=4, k=10).collect()
    by_q = {}
    for r in pq:
        by_q.setdefault(r.query_id, []).append(r)
        assert -1.05 <= r.adc_cos <= 1.05
    overlaps = []
    for qid, rows in by_q.items():
        assert sorted(r.rank for r in rows) == list(range(1, len(rows) + 1))
        mine = {r.neighbor_id for r in rows}
        exact = {r.neighbor_id for r in flat if r.query_id == qid}
        overlaps.append(len(mine & exact) / max(len(exact), 1))
    assert sum(overlaps) / len(overlaps) >= 0.1, overlaps


def test_lm_perplexity_prefers_predictable_text(spark):
    """A hashed bigram LM fitted on a corpus dominated by one repeated
    pattern must assign the predictable documents lower perplexity than
    the one-off word salad. (The curation semantics: drop/down-weight
    high-ppl docs.)"""
    from decimal import Decimal

    from multichannel_commerce_data_pipeline_spark.operators import importance as I

    rows = [(i, "the cat sat on the mat " * 4) for i in range(9)] + [
        (9, "zq xv plk wmb rrq hzt jkl vbn")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with_k = df.select(
        "doc_id", I.bigram_bucket_keys(F.col("text"), 64, 11).alias("ks")
    )
    model = I.lm_log_probs(
        with_k.select(F.explode("ks").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect(),
        64,
    )
    out = {
        r.doc_id: Decimal(str(r.s)) / r.nb
        for r in with_k.select(
            "doc_id",
            F.size("ks").alias("nb"),
            I.score_buckets(F.col("ks"), model).alias("s"),
        ).collect()
    }
    predictable = [out[i] for i in range(9)]
    assert max(predictable) > out[9] + 1  # >1 nat/bigram better


def test_misra_gries_bound_on_zipf_keys(spark):
    """MG guarantee on a skewed (zipf-ish) key distribution under a
    forced multi-partition layout: for EVERY key, the merged estimate
    must satisfy exact - N/(k+1) <= est <= exact, and every key with
    exact count > N/(k+1) must be present in the summary."""
    from multichannel_commerce_data_pipeline_spark.operators.frequency import (
        heavy_hitter_estimates,
    )

    # key = id % (1 + id % 37): heavily concentrates small keys
    rows = spark.range(0, 20000, 1, 16).select(
        (F.col("id") % (F.lit(1) + F.col("id") % 37)).alias("key")
    )
    k = 12
    est = {
        r.key: r.est
        for r in heavy_hitter_estimates(rows, F.col("key"), k=k).collect()
    }
    exact = {
        str(r.key): r.n
        for r in rows.groupBy("key").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_total = sum(exact.values())
    slack = n_total / (k + 1)
    for key, true_n in exact.items():
        e = est.get(key, 0)
        assert e <= true_n, (key, e, true_n)
        assert true_n - e <= slack, (key, e, true_n, slack)
        if true_n > slack:
            assert key in est, (key, true_n, slack)


def test_misra_gries_exact_when_keys_fit(spark):
    """With k >= distinct keys, MG never evicts: estimates are exact."""
    from multichannel_commerce_data_pipeline_spark.operators.frequency import (
        heavy_hitter_estimates,
    )

    rows = spark.range(0, 5000, 1, 8).select((F.col("id") % 7).alias("key"))
    est = {
        r.key: r.est
        for r in heavy_hitter_estimates(rows, F.col("key"), k=16).collect()
    }
    assert est == {str(i): len(range(i, 5000, 7)) for i in range(7)}


def test_pagerank_matches_hand_computed_star(spark):
    """2-round weighted PageRank on the 3-node star a-b, a-c (unit
    weights, symmetrized) against hand-computed values."""
    from multichannel_commerce_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1), ("a", "c", 1), ("c", "a", 1)],
        "src string, dst string, w long",
    )
    got = {r.node: r.r for r in pagerank(edges).collect()}
    # r1: a = .15+.85*(1+1) = 1.85 ; b = c = .15+.85*.5 = .575
    # r2: a = .15+.85*(.575+.575) = 1.1275 ; b = c = .15+.85*.925 = .93625
    assert got == {"a": 1.1275, "b": 0.93625, "c": 0.93625}


def test_balanced_sample_caps_every_class(spark, sf_dir):
    """balanced_class_sample yields at most n_per rows per language and
    is deterministic across builds."""
    from multichannel_commerce_data_pipeline_spark.queries import load_registry

    q = load_registry()["balanced_class_sample"]
    rows = q.fn(spark, sf_dir).collect()
    per = {}
    for r in rows:
        per[r.lang] = per.get(r.lang, 0) + 1
    assert per and all(n <= 40 for n in per.values()), per
    again = q.fn(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_transition_matrix_rows_normalize(spark, sf_dir):
    """Per prev_type, transition probabilities sum to ~1 (quantization
    leaves at most 1e-4 slack) and counts are positive."""
    from multichannel_commerce_data_pipeline_spark.queries import load_registry

    q = load_registry()["event_transition_matrix"]
    rows = q.fn(spark, sf_dir).collect()
    sums = {}
    for r in rows:
        assert r.n > 0
        sums[r.prev_type] = sums.get(r.prev_type, 0.0) + r.p
    assert sums and all(abs(s - 1.0) < 1e-4 for s in sums.values()), sums


def test_copurchase_mega_basket_is_capped(spark):
    """Planted mega-basket: a 200-item basket must emit C(64,2) pairs
    (the cap), not C(200,2) — one pathological basket can't go
    quadratic at 100 TB. Normal baskets are untouched and the cap keeps
    the SMALLEST item keys, so the truncation is deterministic."""
    from multichannel_commerce_data_pipeline_spark.operators.basket import (
        copurchase_pair_counts,
    )

    rows = [("mega", i) for i in range(200)] + [
        ("small", 0), ("small", 1), ("dup", 0), ("dup", 1), ("dup", 0)
    ]
    items = spark.createDataFrame(rows, "bk string, it int")
    pairs = copurchase_pair_counts(items, "bk", "it", min_baskets=1).collect()
    # mega contributes C(64,2) pairs over items 0..63; small+dup both
    # contain {0,1} so (0,1) has n_baskets=2 (duplicates collapsed)
    n_mega_side = 64 * 63 // 2
    assert len(pairs) == n_mega_side  # (0,1) merges across baskets
    by_pair = {(r.item_a, r.item_b): r.n_baskets for r in pairs}
    assert by_pair[(0, 1)] == 3  # mega + small + dup
    assert max(max(a, b) for a, b in by_pair) == 63  # items >=64 dropped


def test_bloom_no_false_negatives_and_low_fp(spark):
    """Every inserted key must pass (Bloom's hard guarantee); keys far
    outside the inserted set pass only at the designed false-positive
    rate (sanity-bounded at 5% for this sizing)."""
    from multichannel_commerce_data_pipeline_spark.operators.bloom import (
        bloom_build,
        bloom_contains,
    )
    from pyspark.sql import functions as F

    keys = spark.range(0, 500).withColumnRenamed("id", "k")
    words = bloom_build(keys, "k")
    inserted = keys.filter(bloom_contains(F.col("k"), words)).count()
    assert inserted == 500  # no false negatives, ever
    probes = spark.range(1_000_000, 1_002_000).withColumnRenamed("id", "k")
    fp = probes.filter(bloom_contains(F.col("k"), words)).count()
    assert fp / 2000 < 0.05, fp  # (1-e^(-4*500/65536))^4 ~ 7e-7


def test_artifact_rebuilds_for_new_session():
    """Cached per-sf_dir DataFrames are bound to the session that built
    them: after a stop/recreate, a plain dict[sf_dir] cache hands back
    a frame on a dead SparkContext. The artifact store keys by
    applicationId too — same session hits the store, a NEW session
    rebuilds and evicts the dead entry, releasing its frames (bounded
    store, no stale frames)."""
    from types import SimpleNamespace
    from unittest.mock import MagicMock

    from pyspark.sql import DataFrame

    from multichannel_commerce_data_pipeline_spark import artifacts

    mk = lambda app: SimpleNamespace(  # noqa: E731
        sparkContext=SimpleNamespace(applicationId=app)
    )
    builds, frame, tag = [], MagicMock(spec=DataFrame), {}

    @artifacts.artifact
    def index(spark, sf_dir):
        builds.append(tag["next"])
        return tag["next"], frame

    s1 = mk("app-1")
    tag["next"] = "a"
    assert index(s1, "/sf")[0] == "a"
    tag["next"] = "b"
    assert index(s1, "/sf")[0] == "a"  # cache hit
    assert builds == ["a"]
    s2 = mk("app-2")
    tag["next"] = "c"
    assert index(s2, "/sf")[0] == "c"  # rebuilt
    entries = [k for k in artifacts._STORE if k[1] is index.__wrapped__]
    assert entries == [("app-2", index.__wrapped__, ("/sf",))]  # dead evicted
    frame.unpersist.assert_called_once_with()  # evicted frame released


def test_bloom_km_split_exact_at_word_boundary(spark):
    """The h2 split must TRUNCATE like the oracle's integer ``//``.
    Spark's Divide is double-valued, and on a raw 60-bit h the naive
    ``h / 2^30`` can land within one ULP of the next integer and round
    UP (adversarial form: h = (q+1)*2^30 - 1 near 2^60 — every such h
    mismatched the oracle before the fix). Subtracting ``h % 2^30``
    first makes the numerator an exact multiple of 2^30 with <= 30
    significant bits after the division, so the double arithmetic is
    exact for ALL h. Planted boundary values prove the fixed form
    matches ``//`` exactly where the naive form provably diverges."""
    from pyspark.sql import functions as F

    qs = [(1 << 29) - 1, (1 << 29) - 2, (1 << 28) + 12345, 12345]
    hs = [(q + 1) * (1 << 30) - 1 for q in qs] + [0, 7, (1 << 60) - 1]
    df = spark.createDataFrame([(h,) for h in hs], "h long")
    h = F.col("h")
    h1 = h % (1 << 30)
    fixed = ((h - h1) / (1 << 30)).cast("long")
    naive = (h / (1 << 30)).cast("long")
    rows = {r.h: (r.f, r.n) for r in df.select(
        "h", fixed.alias("f"), naive.alias("n")).collect()}
    for hv in hs:
        assert rows[hv][0] == hv // (1 << 30), hv
    # the naive form really does round up on the adversarial values —
    # the planted divergence this test exists to keep fixed
    assert any(rows[hv][1] != hv // (1 << 30) for hv in hs[:2])


def test_zorder_prunes_both_dims_where_sort_prunes_one(spark):
    """The point of Z-order: with 64 files over a z-clustered layout,
    a narrow probe on EITHER dimension opens a minority of files; a
    single-column sort layout opens ~all files for the other dim."""
    from multichannel_commerce_data_pipeline_spark.operators.zorder import (
        bucketize,
        morton_key,
    )
    from pyspark.sql import functions as F

    n, bits, n_files = 4096, 8, 64
    span = (4**bits) // n_files
    df = spark.range(n).select(
        bucketize((F.col("id") * 37) % 256, 0.0, 256.0, bits).alias("x"),
        bucketize((F.col("id") * 101) % 256, 0.0, 256.0, bits).alias("y"),
    )
    z = df.select(
        "x", "y",
        F.floor(morton_key(F.col("x"), F.col("y"), bits) / span).alias("f"),
    )
    zstats = z.groupBy("f").agg(
        F.min("x").alias("xl"), F.max("x").alias("xh"),
        F.min("y").alias("yl"), F.max("y").alias("yh"),
    ).collect()
    # x-sorted layout: same file count, files = consecutive x ranges
    xsort = df.select(
        "x", "y", F.floor(F.col("x") / (256 / n_files)).alias("f")
    ).groupBy("f").agg(
        F.min("y").alias("yl"), F.max("y").alias("yh"),
    ).collect()
    probe = lambda lo, hi, l, h: l <= hi and h >= lo  # noqa: E731
    z_touch_y = sum(probe(64, 95, r.yl, r.yh) for r in zstats)
    xsort_touch_y = sum(probe(64, 95, r.yl, r.yh) for r in xsort)
    # y-probe under z-order opens a minority of files; under the
    # x-sorted layout every file spans all of y.
    assert z_touch_y < len(zstats) / 2, (z_touch_y, len(zstats))
    assert xsort_touch_y == len(xsort), (xsort_touch_y, len(xsort))
    z_touch_x = sum(probe(100, 119, r.xl, r.xh) for r in zstats)
    assert z_touch_x < len(zstats) / 2, (z_touch_x, len(zstats))


def test_compaction_jobs_bounded(spark, sf_dir):
    """Every compaction job's row volume is < target + its largest
    member day (the first-fit bound), and days stay contiguous within
    a job (job ids are non-decreasing in day order)."""
    from multichannel_commerce_data_pipeline_spark.queries import load_registry

    rows = sorted(
        load_registry()["compaction_plan"].fn(spark, sf_dir).collect(),
        key=lambda r: r.day,
    )
    assert rows
    jobs = {}
    last_job = -1
    for r in rows:
        assert r.job_id >= last_job
        last_job = r.job_id
        jobs.setdefault(r.job_id, []).append(r.n_rows)
    for job, sizes in jobs.items():
        assert sum(sizes) < 20_000 + max(sizes), (job, sizes)


def test_entity_golden_record_planted_variants(spark):
    """Planted name variants (edit distance 1 within one nation block)
    collapse to one cluster whose golden record is the max-acctbal
    member; an unrelated customer stays a singleton."""
    from multichannel_commerce_data_pipeline_spark.operators.dedup import (
        blocked_levenshtein_pairs,
        dedup_clusters,
    )
    from pyspark.sql import functions as F

    c = spark.createDataFrame(
        [
            (1, "Customer#000000001x", 10, 100.0),
            (2, "Customer#000000001y", 10, 900.0),
            (3, "Customer#000000001z", 10, 500.0),
            (9, "Totally Different Name", 10, 50.0),
        ],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double",
    )
    pairs = blocked_levenshtein_pairs(
        c, "c_custkey", "c_name", ["c_nationkey"], prefix_len=16, max_dist=2
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    asg = dedup_clusters(pairs)
    mem = c.join(asg, c.c_custkey == asg.doc, "left").select(
        F.col("c_custkey").alias("rid"), "c_acctbal",
        F.coalesce("cluster_id", "c_custkey").alias("cluster_id"),
    ).collect()
    by_cluster = {}
    for r in mem:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert sorted(len(v) for v in by_cluster.values()) == [1, 3]
    trio = next(v for v in by_cluster.values() if len(v) == 3)
    golden = max(trio, key=lambda r: (r.c_acctbal, -r.rid))
    assert golden.rid == 2


def test_matryoshka_recall_vs_exact(spark, sf_dir):
    """Coarse-to-fine funnel recall@10 vs brute force. On this RANDOM
    synthetic corpus the first 16 dims carry only 1/4 of the signal
    (no MRL training front-loads it), so the floor is modest; the
    assertion pins the funnel mechanics (shortlist -> exact rerank
    must beat shortlist-sized random chance ~ 50/N), not embedding
    quality."""
    from multichannel_commerce_data_pipeline_spark.queries import load_registry

    reg = load_registry()
    exact = {
        (r.query_id, r.neighbor_id)
        for r in reg["ann_cosine_topk"].fn(spark, sf_dir).collect()
    }
    mat = {
        (r.query_id, r.neighbor_id)
        for r in reg["ann_matryoshka_topk"].fn(spark, sf_dir).collect()
    }
    assert len(exact & mat) / len(exact) >= 0.35


def test_fs_linkage_planted_pairs(spark):
    """Planted registry rows: same registration number + nation links
    (score >= 2); agreeing only on weak fields stays 'possible'; no
    shared field at all falls below the floor and is absent."""
    from multichannel_commerce_data_pipeline_spark.operators.linkage import (
        fs_score,
        fs_weights,
    )
    from pyspark.sql import functions as F

    fields = [
        (F.col("ra") == F.col("rb"), 0.9, 0.001),
        (F.col("ba") == F.col("bb"), 0.6, 0.05),
        (F.col("sa") == F.col("sb"), 0.95, 0.55),
    ]
    rows = [
        # regno match, band+sign match -> strong link
        (1, 42, 3, True, 42, 3, True),
        # only band+sign -> possible (0.73)
        (2, 10, 5, True, 99, 5, True),
        # nothing agrees -> deep negative
        (3, 10, 5, True, 99, 8, False),
    ]
    df = spark.createDataFrame(
        rows, "pid int, ra long, ba long, sa boolean, rb long, bb long, sb boolean"
    )
    got = {
        r.pid: r.s
        for r in df.select("pid", fs_score(fields).alias("s")).collect()
    }
    w1a, w1d = fs_weights(0.9, 0.001)
    w2a, w2d = fs_weights(0.6, 0.05)
    w3a, w3d = fs_weights(0.95, 0.55)
    assert abs(got[1] - (w1a + w2a + w3a)) < 1e-9
    assert got[1] >= 2.0
    assert 0.5 <= got[2] < 2.0
    assert got[3] < 0.5


def test_fs_em_fit_recovers_planted_parameters(spark):
    """EM recovery on a planted two-class mixture: pattern counts are
    generated EXACTLY from known (m*, u*, p*) under conditional
    independence, so a correct EM implementation must walk from the
    generic start (0.8/0.1/0.1) to the generating parameters — the
    property that distinguishes a learner from a scorer. Tolerance is
    loose (EM converges geometrically; 8 rounds on exact expected
    counts lands within a few hundredths on a well-separated
    mixture)."""
    from itertools import product

    from multichannel_commerce_data_pipeline_spark.operators.linkage import (
        fs_em_fit,
    )

    m_true, u_true, p_true = [0.95, 0.9, 0.85], [0.05, 0.1, 0.2], 0.2
    n = 1_000_000
    rows = []
    for a in product((0, 1), repeat=3):
        pm = p_true
        pu = 1.0 - p_true
        for i, ai in enumerate(a):
            pm *= m_true[i] if ai else 1.0 - m_true[i]
            pu *= u_true[i] if ai else 1.0 - u_true[i]
        rows.append((list(a), int(round(n * (pm + pu)))))
    patterns = spark.createDataFrame(rows, "a array<int>, cnt bigint")
    got = fs_em_fit(patterns, n_fields=3, n_iters=8).collect()[0]
    for i in range(3):
        assert abs(got["m"][i] - m_true[i]) < 0.05, (i, got["m"])
        assert abs(got["u"][i] - u_true[i]) < 0.05, (i, got["u"])
    assert abs(got["p"] - p_true) < 0.05, got["p"]


def test_fs_clamp_degenerate_fit_cross_engine():
    """The splink-style degenerate-fit guard: m/u quantized to exactly
    0.0 or 1.0 must clamp so the log-odds stay finite, and the clamped
    weights must be bit-identical between the Python driver-side fold
    (py_dround(log(...))) and the DuckDB oracle rendering
    (oracle_dround(ln(...)) over _fs_clamp_sql) — the same contract the
    non-degenerate path already satisfies. No SparkSession needed: the
    Spark side folds plain Python doubles into literals."""
    import math

    import duckdb

    from multichannel_commerce_data_pipeline_spark.functions import (
        oracle_dround,
        py_dround,
    )
    from multichannel_commerce_data_pipeline_spark.queries.dedup import (
        _fs_clamp_py,
        _fs_clamp_sql,
    )

    cases = [(0.0, 0.0), (1.0, 1.0), (1.0, 0.0), (0.9, 0.0), (1.0, 0.05),
             (0.9, 0.001)]
    for m, u in cases:
        mc, uc = _fs_clamp_py(m), _fs_clamp_py(u)
        wa = py_dround(math.log(mc / uc), 6)
        wd = py_dround(math.log((1.0 - mc) / (1.0 - uc)), 6)
        assert math.isfinite(wa) and math.isfinite(wd), (m, u)
        sql = (
            f"SELECT {oracle_dround('ln(mi / ui)', 6)} AS wa,"
            f" {oracle_dround('ln((1.0 - mi) / (1.0 - ui))', 6)} AS wd"
            f" FROM (SELECT {_fs_clamp_sql(repr(m))} AS mi,"
            f" {_fs_clamp_sql(repr(u))} AS ui)"
        )
        got = duckdb.sql(sql).fetchone()
        assert got == (wa, wd), (m, u, got, (wa, wd))


def test_skew_profile_shape(spark, sf_dir):
    """Top-N is ordered by count desc, shares are consistent with a
    common denominator, and n_keys is the same on every row."""
    from multichannel_commerce_data_pipeline_spark.queries import load_registry

    rows = load_registry()["skew_profile"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    cnts = [r.cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    assert len({r.n_keys for r in rows}) == 1
    assert all(0 < r.share < 1 for r in rows)


def test_bm25_scores_positive_and_bounded(spark, sf_dir):
    """Every matched doc has positive BM25 (idf > 0 since no term is in
    more than half the corpus) and matches at most the 3 query terms;
    per-term saturation bounds the score by (k1+1)*sum(idf)."""
    import math

    from multichannel_commerce_data_pipeline_spark.queries import load_registry

    rows = load_registry()["bm25_search"].fn(spark, sf_dir).collect()
    assert rows
    # loose upper bound: 3 terms * (k1+1) * ln(1 + N+0.5/0.5)
    cap = 3 * 2.2 * math.log(1 + (500 + 0.5) / 0.5)
    for r in rows:
        assert 0 < r.bm25 < cap
        assert 1 <= r.n_terms_matched <= 3


def test_cdc_apply_drops_deleted_keys(spark, sf_dir):
    """Keys whose LAST change is the tombstone must be absent; present
    keys carry the value of their latest non-ignored change."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from multichannel_commerce_data_pipeline_spark.queries import load_registry
    from multichannel_commerce_data_pipeline_spark.tables import load

    got = {
        r.user_id: (r.last_event_id, r.last_value)
        for r in load_registry()["cdc_apply_snapshot"].fn(spark, sf_dir).collect()
    }
    ops = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase", "error")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    last = (
        ops.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    )
    for r in last:
        if r.event_type == "error":
            assert r.user_id not in got
        else:
            assert got[r.user_id] == (r.event_id, r.value)


def test_equi_depth_buckets_are_balanced_and_ordered(spark, sf_dir):
    """8 buckets, each within 2% of N/8 (octile boundaries), value
    ranges ordered and non-overlapping."""
    from multichannel_commerce_data_pipeline_spark.queries import load_registry

    rows = sorted(
        load_registry()["equi_depth_histogram"].fn(spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.bucket for r in rows] == list(range(8))
    total = sum(r.n_rows for r in rows)
    for r in rows:
        assert abs(r.n_rows - total / 8) <= total * 0.02, (r.bucket, r.n_rows)
    for a, b in zip(rows, rows[1:]):
        assert a.hi <= b.lo


def test_reconcile_localizes_planted_damage(spark):
    """Digest reconciliation flags exactly the buckets containing
    damaged rows: a dropped key and a value drift each flip only their
    own bucket; identical buckets stay green."""
    from pyspark.sql import functions as F

    from multichannel_commerce_data_pipeline_spark.operators.reconcile import (
        bucket_digests,
        reconcile,
        row_fingerprint,
    )

    src = spark.createDataFrame(
        [(i, f"name{i}", float(i)) for i in range(100)], "k long, nm string, v double"
    )
    # replica: key 7 missing, key 20's value drifted
    tgt = src.filter(F.col("k") != 7).withColumn(
        "v", F.when(F.col("k") == 20, F.col("v") + 1).otherwise(F.col("v"))
    )
    fp = lambda df: row_fingerprint(  # noqa: E731
        [df.k, df.nm, (df.v.cast("decimal(18,2)") * 100).cast("bigint")]
    )
    got = {
        r.bucket: r.match
        for r in reconcile(
            bucket_digests(src, src.k, fp(src), 16),
            bucket_digests(tgt, tgt.k, fp(tgt), 16),
        ).collect()
    }
    assert len(got) == 16
    bad = {b for b, ok in got.items() if not ok}
    assert bad == {7 % 16, 20 % 16}


def test_snapshot_diff_applied_to_old_equals_new(spark, sf_dir):
    """CDF inverse property: applying the emitted diff to the old
    snapshot reproduces the new snapshot exactly (insert/update set the
    new value, delete removes the key, unchanged keys carry over)."""
    from multichannel_commerce_data_pipeline_spark.queries import load_registry
    from multichannel_commerce_data_pipeline_spark.testing import oracle_connection
    from multichannel_commerce_data_pipeline_spark.queries.warehouse_queries import (
        _cdf_state_sql,
        _CDF_T1,
        _CDF_T2,
    )

    diff = {
        r.user_id: (r.change_type, r.new_value)
        for r in load_registry()["snapshot_diff_cdf"].fn(spark, sf_dir).collect()
    }
    con = oracle_connection(sf_dir)
    old = {r[0]: r[2] for r in con.sql(_cdf_state_sql(_CDF_T1)).fetchall()}
    new = {r[0]: r[2] for r in con.sql(_cdf_state_sql(_CDF_T2)).fetchall()}
    applied = dict(old)
    for uid, (op, nv) in diff.items():
        if op == "delete":
            applied.pop(uid, None)
        else:
            applied[uid] = nv
    assert applied == new


def test_zorder_written_layout_has_rectangular_file_stats(spark, tmp_path):
    """End-to-end layout write: repartitionByRange on the Morton key +
    per-file sort produces parquet files whose (x, y) footprints are
    small rectangles — the min/max stats a lake reader prunes with.
    Verified against the actual written files via input_file_name()."""
    from pyspark.sql import functions as F

    from multichannel_commerce_data_pipeline_spark.operators.zorder import (
        bucketize,
        morton_key,
    )

    n, bits, n_files = 8192, 8, 16
    df = spark.range(n).select(
        bucketize((F.col("id") * 37) % 256, 0.0, 256.0, bits).alias("x"),
        bucketize((F.col("id") * 101) % 256, 0.0, 256.0, bits).alias("y"),
    )
    out = str(tmp_path / "zorder_lake")
    (
        df.withColumn("z", morton_key(F.col("x"), F.col("y"), bits))
        .repartitionByRange(n_files, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite").parquet(out)
    )
    stats = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("x").alias("xl"), F.max("x").alias("xh"),
            F.min("y").alias("yl"), F.max("y").alias("yh"),
        )
        .collect()
    )
    assert len(stats) >= n_files * 0.75  # range partitioner may merge a few
    # every file's footprint is a small rectangle: area well under the
    # full 256x256 domain (z-locality), so single-dim probes can skip.
    # repartitionByRange SAMPLES its boundaries, so one straddling file
    # can exceed the ideal 1/n_files share — bound the worst file at a
    # third of the domain and the median tightly.
    areas = sorted(
        (r.xh - r.xl + 1) * (r.yh - r.yl + 1) for r in stats
    )
    assert areas[-1] <= 256 * 256 / 3, areas[-3:]
    assert areas[len(areas) // 2] <= 256 * 256 / 8, areas
    probe = lambda lo, hi, l, h: l <= hi and h >= lo  # noqa: E731
    touched = sum(probe(64, 95, r.yl, r.yh) for r in stats)
    assert touched <= len(stats) / 2, (touched, len(stats))


def test_cm_sketch_never_underestimates_and_bounds_overcount(spark):
    """Count-Min hard guarantee on skewed keys under a forced
    multi-partition layout: for EVERY key est >= exact (no
    underestimate, the dual of the MG no-overestimate bound), and with
    the fixed hash family the worst observed overcount stays within
    the expected collision mass (deterministic given the seed)."""
    from multichannel_commerce_data_pipeline_spark.operators.frequency import (
        cm_estimate,
        cm_sketch,
    )

    rows = spark.range(0, 20000, 1, 16).select(
        (F.col("id") % (F.lit(1) + F.col("id") % 37)).alias("key")
    )
    w, d = 64, 3
    sk = cm_sketch(rows, F.col("key"), w=w, d=d, seed=131)
    cells = sk.collect()
    assert len(cells) <= w * d
    # every grid row counts every input exactly once
    per_row = {}
    for r in cells:
        per_row[r.j] = per_row.get(r.j, 0) + r.cell
    assert per_row == {j: 20000 for j in range(d)}

    probes = rows.distinct()
    est = {
        r.key: r.est_count
        for r in cm_estimate(sk, probes, "key", w=w, d=d, seed=131).collect()
    }
    exact = {
        r.key: r.n
        for r in rows.groupBy("key").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(est) == set(exact)
    overs = {k: est[k] - exact[k] for k in exact}
    assert all(o >= 0 for o in overs.values()), overs  # no underestimate
    # expected overcount per hash row is N/w ≈ 312; min over d=3 rows on
    # this fixed (data, seed) layout stays well under 3x that
    assert max(overs.values()) <= 3 * 20000 // w, max(overs.values())


def test_cluster_safe_split_never_separates_near_dups(spark, sf_dir):
    """The leakage guard itself: every LSH near-dup pair lands in ONE
    split, and docs outside any cluster keep their plain dataset_split
    assignment bit-for-bit."""
    from multichannel_commerce_data_pipeline_spark.operators import dedup as D
    from multichannel_commerce_data_pipeline_spark.operators.training_prep import (
        split_assign,
    )
    from multichannel_commerce_data_pipeline_spark.queries.dedup import _THRESHOLD
    from multichannel_commerce_data_pipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=_THRESHOLD)
    clusters = D.dedup_clusters(pairs).cache()
    rep = (
        docs.select("doc_id")
        .join(clusters, F.col("doc_id") == F.col("doc"), "left")
        .select("doc_id", F.coalesce("cluster_id", "doc_id").alias("rep"))
    )
    from multichannel_commerce_data_pipeline_spark.functions import portable_hash64

    bucket = portable_hash64(F.col("rep").cast("string"), 13) % 100
    labeled = rep.select(
        "doc_id",
        "rep",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    ).cache()

    a = labeled.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    b = labeled.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    crossing = pairs.join(a, "doc_a").join(b, "doc_b").filter(
        F.col("sa") != F.col("sb")
    )
    assert pairs.count() > 0  # the guard is exercised, not vacuous
    assert crossing.count() == 0

    plain = split_assign(docs).select(
        F.col("doc_id"), F.col("split").alias("plain_split")
    )
    unclustered = labeled.filter(F.col("rep") == F.col("doc_id")).join(
        plain, "doc_id"
    )
    assert unclustered.filter(F.col("split") != F.col("plain_split")).count() == 0


def test_kmeans_cells_nonempty_and_inertia_improves(spark, sf_dir):
    """Lloyd sanity on the embeddings table at the query's default
    config: every one of the k cells keeps members after 2 rounds, and
    total inertia under the trained centroids is no worse than under
    the stride-sampled init."""
    from multichannel_commerce_data_pipeline_spark.operators.clustering import (
        kmeans_fit,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    e = load(spark, sf_dir, "embeddings")
    a0, _ = kmeans_fit(e, k=8, n_iters=0, gap=7)
    a2, cents = kmeans_fit(e, k=8, n_iters=2, gap=7)
    sizes = {r.cell: r.n for r in a2.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(sizes) == set(range(8)) and all(v > 0 for v in sizes.values())
    assert cents.count() == 8
    inertia = lambda a: a.agg(  # noqa: E731
        F.sum(F.col("d2").cast("decimal(28,6)")).cast("double")
    ).collect()[0][0]
    assert inertia(a2) <= inertia(a0)


def test_ivf_accepts_trained_kmeans_centroids(spark, sf_dir):
    """The deployment seam: ivf_topk with kmeans-trained centroids must
    produce a well-formed top-k and keep recall vs brute force in the
    same band as the stride-centroid configuration (trained cells are
    at least as balanced, so probing the same number of cells covers
    no fewer true neighbors on this corpus)."""
    from multichannel_commerce_data_pipeline_spark.operators.clustering import (
        kmeans_fit,
    )
    from multichannel_commerce_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    _, cents = kmeans_fit(e, k=8, n_iters=2, gap=7)

    def recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        truth = {
            (r.query_id, r.neighbor_id) for r in cosine_topk(e, q, k=10).collect()
        }
        return len(got & truth) / len(truth)

    trained = ivf_topk(e, q, n_probe=4, k=10, centroids=cents)
    rows = trained.collect()
    assert {r.query_id for r in rows} == set(range(8))
    assert all(1 <= r.rank <= 10 for r in rows)
    r_trained = recall(trained)
    r_stride = recall(ivf_topk(e, q, centroid_stride=50, n_probe=4, k=10))
    assert r_trained >= r_stride - 0.05, (r_trained, r_stride)


def test_minhash_distinct_sketch_accuracy_and_merge(spark):
    """The cardinality sketch on a known key space: estimate within the
    ~1/sqrt(m) stochastic-averaging band of the true distinct count
    (deterministic given the fixed hash seed), and bucket-wise MIN of
    two partition sketches equals the sketch of the union — the merge
    law that makes it a sketch and not just a statistic."""
    from multichannel_commerce_data_pipeline_spark.operators.frequency import (
        minhash_distinct_sketch,
    )

    m = 128
    rows = spark.range(0, 60000, 1, 16).select((F.col("id") % 5000).alias("k"))
    sk = {
        r.bucket: r.min_h
        for r in minhash_distinct_sketch(rows, F.col("k"), m=m).collect()
    }
    s_sum = sum(v / (1 << 60) for v in sk.values())
    est = m * m / s_sum - m
    assert abs(est - 5000) / 5000 < 3 / (m ** 0.5), est  # ~0.27 band

    a = rows.filter(F.col("k") < 3000)
    b = rows.filter(F.col("k") >= 2000)
    ska = {
        r.bucket: r.min_h
        for r in minhash_distinct_sketch(a, F.col("k"), m=m).collect()
    }
    skb = {
        r.bucket: r.min_h
        for r in minhash_distinct_sketch(b, F.col("k"), m=m).collect()
    }
    merged = {
        bkt: min(
            ska.get(bkt, 1 << 62), skb.get(bkt, 1 << 62)
        )
        for bkt in set(ska) | set(skb)
    }
    assert merged == sk


def test_kmeans_empty_cell_keeps_previous_centroid(spark):
    """The empty-cell carry-forward branch: two IDENTICAL init vectors
    make every point tie between their cells, the (d2, cell) tie-break
    sends everything to the lower cell, and the emptied cell must keep
    its previous centroid through the update (left-join coalesce)
    instead of vanishing."""
    from multichannel_commerce_data_pipeline_spark.operators.clustering import (
        kmeans_fit,
    )

    dup = [1.0, 1.0]
    rows = [(0, dup), (7, dup)] + [(i, [0.1 * i, 0.2]) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assign, cents = kmeans_fit(df, k=2, n_iters=2, gap=7)
    cent_rows = {r.cell: list(r.cv) for r in cents.collect()}
    assert set(cent_rows) == {0, 1}
    assert cent_rows[1] == dup  # carried forward unchanged
    cells = {r.vid: r.cell for r in assign.collect()}
    # the kept centroid is still live: once cell 0's centroid moved to
    # the cluster mean, the duplicate points (distance 0 to the carried
    # centroid) re-assign to cell 1 in the final pass
    assert cells[0] == 1 and cells[7] == 1
    assert all(cells[i] == 0 for i in range(1, 7))


def test_kmeans_empty_cell_oracle_agrees(spark):
    """The divergence the r6 advisor flagged: the unrolled DuckDB
    oracle used to LOSE a cell that emptied mid-fit while kmeans_fit
    carried its centroid forward — only a test pin on the default
    config guarded it. The oracle now unrolls the same LEFT JOIN +
    COALESCE branch; this runs BOTH engines on the duplicate-init
    construction that empties a cell and demands identical output."""
    import duckdb

    from multichannel_commerce_data_pipeline_spark.functions import dround
    from multichannel_commerce_data_pipeline_spark.operators import (
        similarity as S,
    )
    from multichannel_commerce_data_pipeline_spark.operators.clustering import (
        kmeans_fit,
    )
    from multichannel_commerce_data_pipeline_spark.queries.similarity import (
        _kmeans_oracle,
    )

    dup = [1.0, 1.0]
    rows = [(0, dup), (7, dup)] + [(i, [0.1 * i, 0.2]) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assign, cents = kmeans_fit(df, k=2, n_iters=2, gap=7)
    stats = assign.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("d2").cast("decimal(28,6)")).cast("double").alias(
            "inertia"
        ),
    )
    norms = cents.select(
        "cell", dround(S._norm(F.col("cv")), 6).alias("centroid_norm")
    )
    got = {
        r.cell: (r.n_members, r.inertia, r.centroid_norm)
        for r in stats.join(norms, "cell").collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({vid}, {vec!r}::DOUBLE[])".replace("'", "") for vid, vec in rows
        )
        + ") t(vec_id, embedding)"
    )
    want = {
        cell: (n, inertia, norm)
        for cell, n, inertia, norm in con.execute(
            _kmeans_oracle(k=2, gap=7, iters=2, dim=2)
        ).fetchall()
    }
    assert got == want


def test_triangle_counts_planted_graph(spark):
    # K4 on {1,2,3,4} (4 triangles, lcc 1.0 everywhere) plus a pendant
    # node 5 attached to 1 (deg 1 -> zero triangles, lcc 0.0), plus a
    # path 6-7-8 (open wedge, no triangle).
    pairs = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (1, 5), (6, 7), (7, 8),
    ]
    edges = spark.createDataFrame(
        [(a, b, 1) for a, b in pairs] + [(b, a, 1) for a, b in pairs],
        "src LONG, dst LONG, w LONG",
    )
    from multichannel_commerce_data_pipeline_spark.operators.graph import (
        triangle_counts,
    )

    got = {r.node: (r.deg, r.tri, r.lcc) for r in triangle_counts(edges).collect()}
    assert got[2] == (3, 3, 1.0) and got[3] == (3, 3, 1.0)
    assert got[4] == (3, 3, 1.0)
    assert got[1] == (4, 3, 0.5)  # 3 of C(4,2)=6 neighbor pairs linked
    assert got[5] == (1, 0, 0.0)
    assert got[6] == (1, 0, 0.0) and got[8] == (1, 0, 0.0)
    assert got[7] == (2, 0, 0.0)  # open wedge: deg 2, no triangle


def test_triangle_counts_hub_generates_no_quadratic_wedges(spark):
    # a star (hub 0 joined to 1..40, no other edges) has ZERO wedges
    # under degree orientation: every spoke orients spoke->hub (deg 1
    # < deg 40), so the hub has out-degree 0 and contributes no pairs.
    spokes = [(0, i) for i in range(1, 41)]
    edges = spark.createDataFrame(
        [(a, b, 1) for a, b in spokes] + [(b, a, 1) for a, b in spokes],
        "src LONG, dst LONG, w LONG",
    )
    from multichannel_commerce_data_pipeline_spark.operators.graph import (
        triangle_counts,
    )

    out = triangle_counts(edges)
    assert out.agg(F.sum("tri")).first()[0] == 0
    assert out.count() == 41


def test_label_propagation_two_cliques_converge(spark):
    # two triangles {1,2,3} and {10,11,12} joined by one weak bridge
    # 3-10: after 2 rounds each clique carries its minimum label.
    pairs = [
        (1, 2, 5), (1, 3, 5), (2, 3, 5),
        (10, 11, 5), (10, 12, 5), (11, 12, 5),
        (3, 10, 1),
    ]
    edges = spark.createDataFrame(
        [(a, b, w) for a, b, w in pairs] + [(b, a, w) for a, b, w in pairs],
        "src LONG, dst LONG, w LONG",
    )
    from multichannel_commerce_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    got = {r.node: r.label for r in label_propagation(edges, n_iters=2).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == got[12]
    assert got[10] != got[1]


def test_containment_catches_what_jaccard_misses(spark):
    # doc 2 is a verbatim quote of doc 1's opening embedded in a much
    # longer body: containment(2 in 1)... actually 2 contains 1's text
    # fully -> containment(1 in 2) = 1.0, while Jaccard is tiny.
    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i} tok{i} item{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, quote), (2, quote + " " + filler), (3, "unrelated text entirely here")],
        "doc_id LONG, text STRING",
    )
    cont = {
        (r.doc, r.container): r.containment
        for r in D.containment_pairs(df, "doc_id", "text", threshold=0.9).collect()
    }
    assert cont[(1, 2)] == 1.0
    assert (2, 1) not in cont  # asymmetric: the long doc is not contained
    jac = D.jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()
    assert not any(r.doc_a == 1 and r.doc_b == 2 for r in jac)


def test_psi_detects_planted_distribution_shift(spark, tmp_path):
    # reference: values near 10; current: half shifted near 260 for one
    # event type only — its PSI must dwarf the stable type's.
    import datetime as dt

    rows = []
    for i in range(400):
        ref_ts = dt.datetime(2024, 1, 5, 0, 0, i % 60)
        cur_ts = dt.datetime(2024, 1, 25, 0, 0, i % 60)
        rows.append((i, ref_ts, 1, "stable", 10.0 + (i % 5), "{}"))
        rows.append((10_000 + i, cur_ts, 1, "stable", 10.0 + (i % 5), "{}"))
        rows.append((20_000 + i, ref_ts, 1, "shifted", 10.0 + (i % 5), "{}"))
        rows.append((
            30_000 + i, cur_ts, 1, "shifted",
            (260.0 + (i % 5)) if i % 2 == 0 else (10.0 + (i % 5)), "{}",
        ))
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    )
    out = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(out)
    # point the query at a synthetic sf_dir holding just this table
    from multichannel_commerce_data_pipeline_spark.queries.time_windows import (
        psi_drift_monitor,
    )

    got = {
        r.event_type: (r.psi, r.drifted)
        for r in psi_drift_monitor(spark, str(tmp_path)).collect()
    }
    assert got["shifted"][0] > 0.25 and got["shifted"][1]
    assert got["stable"][0] < 0.05 and not got["stable"][1]


def test_pit_scd2_join_attributes_to_historical_not_current_version(spark, sf_dir):
    """The defining property of a point-in-time join: purchases land on
    the version valid AT the purchase day. A latest-snapshot join (every
    purchase -> is_current version) must disagree whenever any user's
    status changed after a purchase — and the PIT totals must cover
    every purchase exactly once."""
    from multichannel_commerce_data_pipeline_spark.queries.warehouse_queries import (
        pit_scd2_join,
        scd2_user_status,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    pit = pit_scd2_join(spark, sf_dir)
    n_pit = pit.agg(F.sum("n_purchases")).first()[0]
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    assert n_pit == ev.count()  # exactly-once: intervals partition time
    hist = scd2_user_status(spark, sf_dir).filter(F.col("is_current"))
    latest = (
        ev.select("user_id")
        .join(hist, "user_id")
        .groupBy(F.col("status").alias("status_at_purchase"))
        .agg(F.count(F.lit(1)).alias("n_latest"))
    )
    diff = (
        pit.join(latest, "status_at_purchase", "full")
        .filter(
            F.coalesce(F.col("n_purchases"), F.lit(-1))
            != F.coalesce(F.col("n_latest"), F.lit(-1))
        )
        .count()
    )
    assert diff > 0  # as-was reporting differs from the latest snapshot


def test_association_rules_lift_is_affinity_not_popularity(spark, sf_dir):
    from multichannel_commerce_data_pipeline_spark.queries.joins import (
        basket_association_rules,
        _n_baskets,
    )

    rules = basket_association_rules(spark, sf_dir)
    rows = rules.collect()
    assert rows, "fixture should yield rules"
    nb = _n_baskets(spark, sf_dir)
    for r in rows[:50]:
        # internal consistency: support = pair/n, confidence >= support,
        # and the symmetric rule exists with the same pair count
        assert 0.0 < r.support <= r.confidence <= 1.0
        assert r.pair_orders >= 2
        assert abs(r.support - r.pair_orders / nb) < 1e-4
    bykey = {(r.antecedent, r.consequent): r for r in rows}
    for (a, c), r in list(bykey.items())[:50]:
        assert (c, a) in bykey and bykey[(c, a)].pair_orders == r.pair_orders


def test_ivf_index_merge_preserves_base_assignments(spark, sf_dir):
    """Merging a new batch must not move any already-indexed vector:
    the base corpus assigned against base-trained centroids yields the
    same cells whether or not the batch participates."""
    from multichannel_commerce_data_pipeline_spark.operators import similarity as S2
    from multichannel_commerce_data_pipeline_spark.queries.similarity import (
        _IVF_STRIDE,
    )
    from multichannel_commerce_data_pipeline_spark.tables import (
        load,
        parallelize_small_scan,
    )

    e = parallelize_small_scan(spark, load(spark, sf_dir, "embeddings"))
    base = e.filter(F.col("vec_id") % 10 != 7)
    assign_before, cents = S2.ivf_assign(base, _IVF_STRIDE)
    assign_all, _ = S2.ivf_assign(e, _IVF_STRIDE, centroids=cents)
    before = {r.vid: r.cell for r in assign_before.select("vid", "cell").collect()}
    after = {
        r.vid: r.cell
        for r in assign_all.filter(F.col("vid") % 10 != 7)
        .select("vid", "cell")
        .collect()
    }
    assert before == after


def test_kmeans_silhouette_bounds_and_final_assignment_consistency(spark, sf_dir):
    """Silhouette values live in [-1, 1]; under the FINAL centroids
    every vector sits in its argmin cell, so a <= b for all points and
    every per-cell mean is non-negative."""
    from multichannel_commerce_data_pipeline_spark.queries.similarity import (
        _KM_K,
        kmeans_silhouette,
    )

    rows = kmeans_silhouette(spark, sf_dir).collect()
    assert 0 < len(rows) <= _KM_K
    for r in rows:
        assert -1.0 <= r.mean_silhouette <= 1.0
        assert r.mean_silhouette >= 0.0  # argmin assignment => b >= a
        assert r.n_members > 0


def test_substring_dedup_planted_overlap(spark):
    """ExactSubstr semantics (Lee et al. 2022): a 12-word span shared
    across docs — deliberately straddling where a 10-word passage cut
    would fall, the case passage_dedup cannot see — is reported at its
    exact word boundaries in every NON-first occurrence, and only
    there."""
    span = " ".join(f"s{i}" for i in range(12))
    pre_a = " ".join(f"a{i}" for i in range(5))
    post_a = " ".join(f"x{i}" for i in range(6))
    pre_b = " ".join(f"b{i}" for i in range(9))
    df = spark.createDataFrame(
        [
            (0, pre_a + " " + span + " " + post_a),  # first occurrence
            (1, pre_b + " " + span),                 # repeat, offset 10
            (2, "too short to gram"),                # < 8 words: no rows
        ],
        "doc_id long, text string",
    )
    words = D.doc_words(df, "doc_id", "text")
    out = D.substring_dedup_spans(D.substring_grams(words, 8), words, 8).collect()
    assert len(out) == 1  # doc 0 is the survivor; doc 2 has no grams
    r = out[0]
    assert r.doc == 1
    assert (r.span_start, r.span_end, r.span_words) == (10, 21, 12)
    assert r.span_text == span


def test_substring_dedup_within_doc_and_merge(spark):
    """Within-document repeats mark the LATER occurrence, and marked
    window starts whose 8-word intervals overlap or touch coalesce
    into one maximal span."""
    run = " ".join(f"r{i}" for i in range(8))
    mid = " ".join(f"m{i}" for i in range(3))
    # doc: run mid run  -> second run (positions 12..19) is the repeat
    df = spark.createDataFrame(
        [(5, run + " " + mid + " " + run)], "doc_id long, text string"
    )
    words = D.doc_words(df, "doc_id", "text")
    out = D.substring_dedup_spans(D.substring_grams(words, 8), words, 8).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc, r.span_start, r.span_end, r.span_words) == (5, 12, 19, 8)
    assert r.span_text == run


def test_decontamination_cut_leaves_no_shared_window(spark):
    """The composed decontaminate-then-rewrite chain (the heart of the
    corpus_prepare_decontaminated pipeline): after cutting the
    contamination span bounds out of the train docs, NO 8-word window
    of any rewritten train doc appears anywhere in the eval set — the
    guarantee checked by recomputing grams on the rewritten output."""
    leak = " ".join(f"l{i}" for i in range(10))
    tr_pre = " ".join(f"t{i}" for i in range(6))
    ev_pre = " ".join(f"e{i}" for i in range(4))
    docs = spark.createDataFrame(
        [
            (0, ev_pre + " " + leak),            # eval
            (1, tr_pre + " " + leak),            # train: leaked tail
            (2, " ".join(f"c{i}" for i in range(12))),  # train: clean
        ],
        "doc_id long, text string",
    )
    words = D.doc_words(docs, "doc_id", "text")
    grams = D.substring_grams(words, 8)
    bounds = D.contamination_span_bounds(
        grams.filter(F.col("doc") != 0), grams.filter(F.col("doc") == 0), 8
    )
    out = D.substring_dedup_rewrite(bounds, words.filter(F.col("doc") != 0))
    rows = {r.doc: r for r in out.collect()}
    assert rows[1].n_removed == 10 and rows[1].clean_text == tr_pre
    assert rows[2].n_removed == 0  # clean doc passes through unchanged
    # recompute grams over the rewritten train docs: zero overlap left
    clean_words = out.select(
        "doc", F.split("clean_text", " ").alias("words")
    )
    eval_digests = (
        D.substring_grams(words.filter(F.col("doc") == 0), 8)
        .select("pdigest")
        .distinct()
    )
    residue = (
        D.substring_grams(clean_words, 8).join(eval_digests, "pdigest").count()
    )
    assert residue == 0


def test_eval_overlap_counts_fraction(spark):
    """Per-eval-doc integrity counts: a fully-leaked eval doc scores
    n_contaminated == n_windows, a partially-leaked one counts exactly
    its matching windows, a clean one scores zero, and a too-short doc
    has no row."""
    leak = " ".join(f"l{i}" for i in range(10))  # 3 windows of 8
    docs = spark.createDataFrame(
        [
            (0, leak),                                   # eval: fully leaked
            (1, leak + " " + " ".join(f"u{i}" for i in range(8))),  # partial
            (2, " ".join(f"c{i}" for i in range(9))),    # eval: clean
            (3, "short eval doc"),                       # < 8 words: no row
            (100, "x " + leak),                          # train carrier
        ],
        "doc_id long, text string",
    )
    grams = D.substring_grams(D.doc_words(docs, "doc_id", "text"), 8)
    out = {
        r.doc: r
        for r in D.eval_overlap_counts(
            grams.filter(F.col("doc") >= 100), grams.filter(F.col("doc") < 100)
        ).collect()
    }
    assert out[0].n_windows == 3 and out[0].n_contaminated == 3
    # doc 1: 11 windows over 18 words; only the 3 all-inside-leak match
    assert out[1].n_windows == 11 and out[1].n_contaminated == 3
    assert out[2].n_windows == 2 and out[2].n_contaminated == 0
    assert 3 not in out


def test_substring_dedup_distinct_spans_stay_separate(spark):
    """Two repeated spans in one doc separated by more than the window
    length produce TWO span rows, not one merged region."""
    s1 = " ".join(f"p{i}" for i in range(8))
    s2 = " ".join(f"q{i}" for i in range(8))
    gap = " ".join(f"g{i}" for i in range(9))  # > min_words: no merge
    df = spark.createDataFrame(
        [
            (0, s1 + " " + s2),                    # survivors
            (1, s1 + " " + gap + " " + s2),        # two separated repeats
        ],
        "doc_id long, text string",
    )
    words = D.doc_words(df, "doc_id", "text")
    rows = sorted(
        D.substring_dedup_spans(D.substring_grams(words, 8), words, 8).collect(),
        key=lambda r: r.span_start,
    )
    assert [(r.doc, r.span_start, r.span_end) for r in rows] == [
        (1, 1, 8),
        (1, 18, 25),
    ]
    assert [r.span_text for r in rows] == [s1, s2]


def test_substring_dedup_rewrite_cuts_exactly_the_spans(spark):
    span = " ".join(f"s{i}" for i in range(12))
    pre_a = " ".join(f"a{i}" for i in range(5))
    pre_b = " ".join(f"b{i}" for i in range(9))
    df = spark.createDataFrame(
        [
            (0, pre_a + " " + span),   # survivor: untouched
            (1, pre_b + " " + span),   # repeat: span cut, prefix kept
            (2, span),                 # fully duplicated: emptied
            (3, "tiny doc"),           # < 8 words: untouched
        ],
        "doc_id long, text string",
    )
    words = D.doc_words(df, "doc_id", "text")
    spans = D.substring_span_bounds(D.substring_grams(words, 8), 8)
    out = {r.doc: r for r in D.substring_dedup_rewrite(spans, words).collect()}
    assert len(out) == 4  # total over the corpus: every doc has a row
    assert out[0].clean_text == pre_a + " " + span and out[0].n_removed == 0
    assert out[1].clean_text == pre_b and out[1].n_removed == 12
    assert out[2].clean_text == "" and out[2].n_removed == 12
    assert out[3].clean_text == "tiny doc" and out[3].n_removed == 0
    assert out[1].n_words == 21 and out[3].n_words == 2


def test_contamination_spans_planted_leak(spark):
    """A 10-word benchmark passage leaked into two train docs is
    reported at exact boundaries in BOTH (no survivor rule: every
    train occurrence of an eval window is contaminated), and train
    text absent from the eval set is never flagged."""
    leak = " ".join(f"l{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (0, "eval set doc " + leak),               # benchmark (doc < 2)
            (1, "another eval doc with nothing else"),
            (2, leak + " " + " ".join(f"t{i}" for i in range(5))),
            (3, " ".join(f"u{i}" for i in range(4)) + " " + leak),
            (4, " ".join(f"v{i}" for i in range(12))),  # clean train doc
        ],
        "doc_id long, text string",
    )
    words = D.doc_words(df, "doc_id", "text")
    grams = D.substring_grams(words, 8)
    out = sorted(
        D.contamination_spans(
            grams.filter(F.col("doc") >= 2),
            grams.filter(F.col("doc") < 2),
            words.filter(F.col("doc") >= 2),
            8,
        ).collect(),
        key=lambda r: r.doc,
    )
    assert [(r.doc, r.span_start, r.span_end, r.span_text) for r in out] == [
        (2, 1, 10, leak),
        (3, 5, 14, leak),
    ]


def test_normalize_text_scrubs_every_stage(spark):
    """Each NORMALIZE_STAGES class does its one job: controls and
    format chars deleted (zero-width INSIDE a word rejoins the word —
    the property that makes digest dedup work again), NBSP becomes a
    real space, whitespace runs collapse, edges trim. Clean ASCII
    passes through byte-identical."""
    from multichannel_commerce_data_pipeline_spark.operators.text import (
        normalize_text,
    )

    dirty = "  zer​o-wid­th bell\x07 nb sp‏ end\x0b\t"
    df = spark.createDataFrame([(1, dirty), (2, "plain ascii text")], "i long, t string")
    got = {r.i: r.c for r in df.select("i", normalize_text(F.col("t")).alias("c")).collect()}
    assert got[1] == "zero-width bell nb sp end"
    assert got[2] == "plain ascii text"


def test_rule_ablation_invariants(spark, sf_dir):
    """Attribution arithmetic: self-overlap equals docs_killed, pairwise
    overlaps are symmetric, unique kills never exceed docs killed, and
    the union bound holds against the decision frame — total docs
    dropped equals docs failing ANY rule, which the per-rule uniques
    can never exceed."""
    from multichannel_commerce_data_pipeline_spark.queries import load_registry

    reg = load_registry()
    abl = {r.rule: r for r in reg["curation_rule_ablation"].fn(spark, sf_dir).collect()}
    assert set(abl) == {"gopher", "repetition", "clean", "ppl_tail"}
    for rule, r in abl.items():
        assert r[f"ov_{rule}"] == r.docs_killed
        assert 0 <= r.unique_kills <= r.docs_killed
        assert r.tokens_killed >= r.docs_killed  # every doc has >=1 word
        for other in abl:
            assert r[f"ov_{other}"] == abl[other][f"ov_{rule}"], (rule, other)
            assert r[f"ov_{other}"] <= min(r.docs_killed, abl[other].docs_killed)
    dec = reg["corpus_keep_decision"].fn(spark, sf_dir).collect()
    dropped = sum(1 for d in dec if not d.keep)
    assert sum(r.unique_kills for r in abl.values()) <= dropped
    # a doc dropped by exactly one rule IS that rule's unique kill:
    # reconstruct from the decision frame and compare per rule
    per_doc_kills = [
        {
            "gopher": not d.keep_gopher,
            "repetition": not d.keep_repetition,
            "clean": not d.keep_clean,
            "ppl_tail": d.ppl_bucket == "tail",
        }
        for d in dec
    ]
    for rule, r in abl.items():
        expect_uniq = sum(
            1
            for k in per_doc_kills
            if k[rule] and not any(v for o, v in k.items() if o != rule)
        )
        assert r.unique_kills == expect_uniq, rule
        assert r.docs_killed == sum(1 for k in per_doc_kills if k[rule])


def test_cm_inner_product_join_size_bounds(spark):
    """AMS/CM join-size estimate: with a collision-free grid (w far
    above key cardinality) the inner product equals the exact join
    size Σ_k fA(k)·fB(k); with a tiny colliding grid it may only
    OVER-estimate — never under (the min-over-rows guarantee)."""
    from multichannel_commerce_data_pipeline_spark.operators.frequency import (
        cm_inner_product,
        cm_sketch,
    )

    a = spark.createDataFrame([(k,) for k in [1, 1, 1, 2, 2, 9]], "k long")
    b = spark.createDataFrame([(k,) for k in [1, 2, 2, 7]], "k long")
    exact = 3 * 1 + 2 * 2  # key 1: 3x1, key 2: 2x2; 9/7 unmatched
    for w, expect_exact in ((4096, True), (2, False)):
        sa = cm_sketch(a, F.col("k"), w=w, d=3, seed=131)
        sb = cm_sketch(b, F.col("k"), w=w, d=3, seed=131)
        est = cm_inner_product(sa, sb).collect()[0].est_join_size
        assert est >= exact, (w, est)
        if expect_exact:
            assert est == exact, (w, est)


def test_cm_inner_product_disjoint_is_zero(spark):
    """Disjoint key sets share no (j,bucket) cell: the inner product
    frame is empty and the estimate must be 0 (the tight, valid
    answer: est >= true = 0), never NULL (ADVICE r13)."""
    from multichannel_commerce_data_pipeline_spark.operators.frequency import (
        cm_inner_product,
        cm_sketch,
    )

    a = spark.createDataFrame([(1,), (2,)], "k long")
    b = spark.createDataFrame([(7,), (9,)], "k long")
    sa = cm_sketch(a, F.col("k"), w=4096, d=3, seed=131)
    sb = cm_sketch(b, F.col("k"), w=4096, d=3, seed=131)
    row = cm_inner_product(sa, sb).collect()[0]
    assert row.est_join_size is not None and int(row.est_join_size) == 0


def test_threshold_sweep_invariants(spark, sf_dir):
    """The sweep is consistent with the decision it generalizes: the
    (0.2, drop_tail) cell IS the shipped policy, so its kept counts
    must equal the decision frame's; kept docs/tokens are monotone
    non-decreasing in the bigram cap and drop_none dominates
    drop_tail at every cap."""
    from multichannel_commerce_data_pipeline_spark.queries import load_registry
    from multichannel_commerce_data_pipeline_spark.queries.curation import (
        _SWEEP_CAPS,
        _decision_frame,
    )

    reg = load_registry()
    cells = {
        (r.bigram_cap, r.ppl_policy): (r.kept_docs, r.kept_tokens)
        for r in reg["curation_threshold_sweep"].fn(spark, sf_dir).collect()
    }
    assert set(cells) == {
        (c, p) for c in _SWEEP_CAPS for p in ("drop_tail", "drop_none")
    }
    dec = _decision_frame(spark, sf_dir).collect()
    keep_docs = sum(1 for d in dec if d.keep)
    keep_toks = sum(d.n_words for d in dec if d.keep)
    assert cells[(0.2, "drop_tail")] == (keep_docs, keep_toks)
    for pol in ("drop_tail", "drop_none"):
        seq = [cells[(c, pol)] for c in sorted(_SWEEP_CAPS)]
        assert seq == sorted(seq), pol  # monotone in the cap
    for c in _SWEEP_CAPS:
        assert cells[(c, "drop_none")][0] >= cells[(c, "drop_tail")][0]
        assert cells[(c, "drop_none")][1] >= cells[(c, "drop_tail")][1]


def test_sampled_cuts_degrade_planted(spark, tmp_path):
    """The degrade path, exercised for real: a language present in the
    mart whose every document hashes OUT of the sample gets NULL
    sampled cuts, n_sampled 0, and ALL its documents counted in
    n_unknown_sampled (they bucket 'unknown' and pass — degraded
    visibly, never dropped); a language with sampled scored documents
    gets non-NULL cuts bracketed by its value range."""
    import hashlib as _hl

    from multichannel_commerce_data_pipeline_spark.queries.curation import (
        _SPC_MOD,
        _SPC_SEED,
        sampled_percentile_cuts,
    )

    def in_sample(i: int) -> bool:
        h = int(
            _hl.md5(f"{_SPC_SEED}:{i}".encode()).hexdigest()[:15], 16
        )
        return h % _SPC_MOD == 0

    outs = [i for i in range(20, 4000) if not in_sample(i)]
    ins = [i for i in range(20, 4000) if in_sample(i)]
    de_ids, en_out = outs[:6], outs[6:12]
    en_in = ins[:6]
    rows = []
    for n, i in enumerate(de_ids):
        rows.append((i, f"der hund und katze haus nummer {n} baum", "de"))
    for n, i in enumerate(en_in + en_out):
        rows.append((i, f"the quick brown fox number {n} jumps high", "en"))
    df = spark.createDataFrame(
        [(i, t, lg, "plant", len(t)) for i, t, lg in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.guessed_lang: r
        for r in sampled_percentile_cuts(spark, str(tmp_path)).collect()
    }
    de, en = got["de"], got["en"]
    assert de.n_docs == len(de_ids) and de.n_sampled == 0
    assert de.c33_sampled is None and de.c66_sampled is None
    assert de.c33_exact is not None  # the exact fit still sees it
    assert de.n_unknown_sampled == de.n_docs  # degraded, not dropped
    assert en.n_sampled == len(en_in) and en.c33_sampled is not None
    assert en.c33_sampled <= en.c66_sampled
    assert en.n_unknown_sampled == 0


# --- r15 query behavior tests ----------------------------------------


def test_weighted_sample_matches_bruteforce(spark):
    """Sequential Poisson sampling on a planted frame must equal the
    brute-force ranking (xi = md5-uniform / weight, k smallest per
    stratum) computed independently in Python — and the map-side
    prefilter must be value-invisible: a huge oversample (no filtering
    in practice) returns the identical sample."""
    import hashlib

    from pyspark.sql import functions as F

    from multichannel_commerce_data_pipeline_spark.operators.training_prep import (
        weighted_sample_topn,
    )

    rows = [(i, "a" if i % 2 == 0 else "b", float(1 + (i * 7) % 50)) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, stratum string, w double").select(
        "id", "stratum", F.col("w").cast("decimal(18,2)").alias("weight")
    )
    tot = df.groupBy("stratum").agg(
        F.sum("weight").alias("wsum"),
        F.lit(5).alias("n_target"),
        F.count("*").alias("n_rows"),
    )
    keyed = df.join(F.broadcast(tot), "stratum")
    got = {
        (r.stratum, r.sample_rank): r.id
        for r in weighted_sample_topn(keyed, "stratum", "id", 99, 8).collect()
    }

    def xi(i: int, w: float) -> float:
        h = int(hashlib.md5(f"99:{i}".encode()).hexdigest()[:15], 16)
        return (h / float(1 << 60)) / w

    expect = {}
    for s in ("a", "b"):
        ranked = sorted(
            ((xi(i, w), i) for i, st, w in rows if st == s),
        )[:5]
        for rk, (_, i) in enumerate(ranked, 1):
            expect[(s, rk)] = i
    assert got == expect
    unfiltered = {
        (r.stratum, r.sample_rank): r.id
        for r in weighted_sample_topn(
            keyed, "stratum", "id", 99, 10**9
        ).collect()
    }
    assert unfiltered == got


def test_weighted_sample_underfill_trips(spark):
    """The fill tripwire (ADVICE r15): when a stratum's weight mass
    concentrates on one row, the xi prefilter cut = oversample*k/wsum
    collapses and light rows cannot pass — the sample comes back
    short of min(n_target, stratum size). That must RAISE (both
    engines apply the identical prefilter, so the driver row would
    stay green on a silently short sample), and check_fill=False must
    keep the raw short-sample behavior for callers that have already
    proven fill."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from multichannel_commerce_data_pipeline_spark.operators.training_prep import (
        weighted_sample_topn,
    )

    rows = [(0, "a", 1e9)] + [(i, "a", 1.0) for i in range(1, 10)]
    df = spark.createDataFrame(rows, "id long, stratum string, w double").select(
        "id", "stratum", F.col("w").cast("decimal(18,2)").alias("weight")
    )
    tot = df.groupBy("stratum").agg(
        F.sum("weight").alias("wsum"),
        F.lit(5).alias("n_target"),
        F.count("*").alias("n_rows"),
    )
    keyed = df.join(F.broadcast(tot), "stratum")
    with _pytest.raises(RuntimeError, match="underfilled"):
        weighted_sample_topn(keyed, "stratum", "id", 99, 1)
    short = weighted_sample_topn(
        keyed, "stratum", "id", 99, 1, check_fill=False
    ).collect()
    assert 0 < len(short) < 5
    # a well-fed stratum passes the tripwire untouched
    assert (
        len(weighted_sample_topn(keyed, "stratum", "id", 99, 10**12).collect())
        == 5
    )
    # a stratum SMALLER than n_target bypasses the prefilter outright
    # (its correct without-replacement sample is the whole stratum; no
    # finite oversample could guarantee fill once one heavy row
    # collapses the cut) — all rows come back even at oversample=1
    small = spark.createDataFrame(
        [(100, "b", 1e9)] + [(100 + i, "b", 1.0) for i in range(1, 4)],
        "id long, stratum string, w double",
    ).select("id", "stratum", F.col("w").cast("decimal(18,2)").alias("weight"))
    tot_b = small.groupBy("stratum").agg(
        F.sum("weight").alias("wsum"),
        F.lit(5).alias("n_target"),
        F.count("*").alias("n_rows"),
    )
    keyed_b = small.join(F.broadcast(tot_b), "stratum")
    assert len(weighted_sample_topn(keyed_b, "stratum", "id", 99, 1).collect()) == 4


def test_cusum_closed_form_equals_recursion(spark, sf_dir):
    """The windowed closed form S_t = P_t - min(0, min P_j) must equal
    the textbook recursion S_t = max(0, S_{t-1} + dv_t) replayed in
    exact Decimal arithmetic over the engine's own daily deviations —
    per series: same flag count, same first flagged day, same max."""
    from decimal import Decimal

    from multichannel_commerce_data_pipeline_spark.functions import dround
    from multichannel_commerce_data_pipeline_spark.queries import load_registry
    from multichannel_commerce_data_pipeline_spark.queries.time_windows import (
        _CUSUM_MAD_MULT,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("series"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(dround(F.sum("o_totalprice"), 2).alias("x"))
        .collect()
    )
    import statistics

    by_series: dict[str, list] = {}
    for r in daily:
        by_series.setdefault(r.series, []).append((r.day, r.x))
    expect = {}
    for s, pts in by_series.items():
        pts.sort()
        xs = [Decimal(str(x)).quantize(Decimal("0.01")) for _, x in pts]
        med = Decimal(str(statistics.median(xs))).quantize(Decimal("0.001"))
        devs = [x - med for x in xs]
        mad = Decimal(
            str(_CUSUM_MAD_MULT * statistics.median(sorted(abs(d) for d in devs)))
        ).quantize(Decimal("0.001"))
        s_t, flags, first, mx = Decimal(0), 0, None, Decimal(0)
        sn_t, flags_dn, first_dn, mx_dn = Decimal(0), 0, None, Decimal(0)
        for (day, _), dv in zip(pts, devs):
            s_t = max(Decimal(0), s_t + dv)
            mx = max(mx, s_t)
            if s_t > mad:
                flags += 1
                first = first or day
            # the r16 mirrored recursion: S-_t = max(0, S-_{t-1} - dv)
            sn_t = max(Decimal(0), sn_t - dv)
            mx_dn = max(mx_dn, sn_t)
            if sn_t > mad:
                flags_dn += 1
                first_dn = first_dn or day
        expect[s] = (
            len(pts), flags, first, float(mx),
            flags_dn, first_dn, float(mx_dn),
        )
    got = {
        r.series: (
            r.n_days,
            r.n_flagged,
            r.first_flag_day.date() if r.first_flag_day else None,
            r.max_cusum,
            r.n_flagged_down,
            r.first_flag_day_down.date() if r.first_flag_day_down else None,
            r.max_cusum_down,
        )
        for r in load_registry()["cusum_changepoint"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for s in expect:
        n, f, d, m, f2, d2, m2 = expect[s]
        assert got[s][0] == n and got[s][1] == f and got[s][2] == d
        assert abs(got[s][3] - m) < 1e-6, (s, got[s][3], m)
        assert got[s][4] == f2 and got[s][5] == d2
        assert abs(got[s][6] - m2) < 1e-6, (s, got[s][6], m2)


def test_skyline_matches_bruteforce_dominance(spark, sf_dir):
    """The windowed sweep must return exactly the parts no same-brand
    part strictly dominates — checked against the O(n^2) definition in
    Python, which also exercises the equal-price and duplicate-point
    tie rules the sweep encodes."""
    from multichannel_commerce_data_pipeline_spark.queries import load_registry
    from multichannel_commerce_data_pipeline_spark.tables import load

    parts = load(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_retailprice", "p_size"
    ).collect()
    by_brand: dict[str, list] = {}
    for r in parts:
        by_brand.setdefault(r.p_brand, []).append(r)
    expect = set()
    for brand, rows in by_brand.items():
        for p in rows:
            dominated = any(
                q.p_retailprice <= p.p_retailprice
                and q.p_size >= p.p_size
                and (q.p_retailprice < p.p_retailprice or q.p_size > p.p_size)
                for q in rows
            )
            if not dominated:
                expect.add((brand, p.p_partkey))
    got = {
        (r.p_brand, r.p_partkey)
        for r in load_registry()["skyline_pareto"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_kanon_bruteforce_and_ladder_monotonicity(spark, sf_dir):
    """Each rung's suppression count must equal the brute-force QI
    group-size census, and generalizing (dropping a QI) can only
    shrink or hold the below-k row count — the property the ladder
    report exists to show."""
    from collections import Counter

    from multichannel_commerce_data_pipeline_spark.queries import load_registry
    from multichannel_commerce_data_pipeline_spark.tables import load

    cust = load(spark, sf_dir, "customer").collect()
    levels = {
        "segment+nation+band": lambda r: (
            r.c_mktsegment,
            r.c_nationkey,
            int(r.c_acctbal // 1000),
        ),
        "segment+nation": lambda r: (r.c_mktsegment, r.c_nationkey),
        "segment": lambda r: (r.c_mktsegment,),
        "none": lambda r: (),
    }
    expect = {}
    for name, key in levels.items():
        sizes = Counter(key(r) for r in cust)
        expect[name] = sum(v for v in sizes.values() if v < 5)
    got = {
        r.generalization: r.rows_below_k
        for r in load_registry()["k_anonymity_audit"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    ladder = ["segment+nation+band", "segment+nation", "segment", "none"]
    for a, b in zip(ladder, ladder[1:]):
        assert got[b] <= got[a], (a, b, got)


def test_expectation_counter_null_is_violation(spark):
    """A NULL predicate result must COUNT as a violation: a range
    check over a NULL column cannot silently pass (the COALESCE(cond,
    TRUE) clause), and unique counts duplicate keys only."""
    from multichannel_commerce_data_pipeline_spark.queries.pipeline_queries import (
        _check_counter,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, -1.0), (1, 2.0)],
        "k long, v double",
    )
    row = df.agg(
        _check_counter("positive", "v", "NOT (v > 0)").alias("pos"),
        _check_counter("unique", "k", "").alias("uni"),
        _check_counter("not_null", "v", "v IS NULL").alias("nn"),
    ).collect()[0]
    assert row.pos == 2  # the NULL and the -1.0
    assert row.uni == 1  # one duplicated key
    assert row.nn == 1


def test_phrase_search_counts_adjacent_pairs(spark, sf_dir):
    """Phrase occurrences must equal the brute-force count of adjacent
    (t1, t2) token pairs per document — including overlapping runs
    like 't1 t1 t2' (one match) and 't1 t2 t1 t2' (two)."""
    from multichannel_commerce_data_pipeline_spark.queries import load_registry
    from multichannel_commerce_data_pipeline_spark.queries.text import _PHRASE
    from multichannel_commerce_data_pipeline_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    expect = {}
    for r in docs:
        toks = r.text.lower().split()
        hits = [
            i
            for i in range(len(toks) - 1)
            if toks[i] == _PHRASE[0] and toks[i + 1] == _PHRASE[1]
        ]
        if hits:
            expect[r.doc_id] = (len(hits), hits[0] + 1)
    got = {
        r.doc_id: (r.n_matches, r.first_pos)
        for r in load_registry()["phrase_search"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_ldiversity_bruteforce_and_monotonicity(spark, sf_dir):
    """Each rung's low-diversity census must equal the brute-force
    distinct-sensitive-value count per QI group, and generalizing
    (merging groups) can only RAISE the worst group's diversity —
    min_l is non-decreasing down the ladder."""
    from collections import defaultdict

    from multichannel_commerce_data_pipeline_spark.queries import load_registry
    from multichannel_commerce_data_pipeline_spark.queries.warehouse_queries import (
        _LDIV_L,
    )
    from multichannel_commerce_data_pipeline_spark.tables import load

    cust = load(spark, sf_dir, "customer").collect()
    levels = {
        "segment+nation": lambda r: (r.c_mktsegment, r.c_nationkey),
        "segment": lambda r: (r.c_mktsegment,),
        "none": lambda r: (),
    }
    expect = {}
    for name, key in levels.items():
        sens = defaultdict(set)
        size = defaultdict(int)
        for r in cust:
            k = key(r)
            sens[k].add(int(r.c_acctbal // 1000))
            size[k] += 1
        low = [k for k in sens if len(sens[k]) < _LDIV_L]
        expect[name] = (
            len(sens),
            min(len(v) for v in sens.values()),
            len(low),
            sum(size[k] for k in low),
        )
    got = {
        r.generalization: (r.n_groups, r.min_l, r.groups_below_l, r.rows_in_low_groups)
        for r in load_registry()["l_diversity_audit"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    ladder = ["segment+nation", "segment", "none"]
    for a, b in zip(ladder, ladder[1:]):
        assert got[b][1] >= got[a][1], (a, b, got)


def test_phrase_probe_three_token_chain(spark):
    """The n-token phrase probe must chain positional joins correctly:
    on planted postings, a 3-token phrase matches only true
    consecutive runs — including back-to-back occurrences — and never
    a scrambled ordering of the same tokens."""
    from multichannel_commerce_data_pipeline_spark.queries.text import (
        phrase_probe,
    )

    docs = {
        1: "a b c x a b c",      # two occurrences of (a, b, c)
        2: "c b a a c b",        # all tokens present, never in order
        3: "a b x c",            # broken run
        4: "a b c a b c a b c",  # three back-to-back occurrences
    }
    rows = [
        (doc, pos, tok)
        for doc, text in docs.items()
        for pos, tok in enumerate(text.split())
    ]
    idx = spark.createDataFrame(rows, "doc_id long, pos int, token string")
    got = {
        (r.doc_id, r.pos)
        for r in phrase_probe(idx, ("a", "b", "c")).collect()
    }
    assert got == {(1, 0), (1, 4), (4, 0), (4, 3), (4, 6)}
