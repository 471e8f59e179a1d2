#!/usr/bin/env python
"""Regenerate PLANS.md: the formatted physical plans of the headline
queries, with a one-paragraph reading of why each plan is the one we
want at scale. Run from the repo root:

    PYTHONPATH=. python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

COMMENTARY = {
    "exec_daily_kpi": (
        "Single pass over lineitem computes both the revenue and freight "
        "rollups. The 3-channel IN-list is pushed into the orders parquet "
        "scan (PushedFilters, row-group pruning at scale) and the filtered "
        "orders join runs BEFORE the rollup, so excluded orders' lineitems "
        "never reach the decimal aggregation; the keyed fan-out exchange on "
        "l_orderkey doubles as the groupBy's distribution — one shuffle of "
        "the fact rows total, with map-side partial aggregation. The rollup "
        "joins the bare customer scan, whose file-size estimate makes the "
        "initial plan broadcast customer at this scale, so the build side "
        "does not depend on which stage finishes first; at 100 TB both "
        "sides are over the broadcast threshold and the join stays a "
        "sort-merge join on custkey. Nation and region names attach to the "
        "joined rows by BroadcastHashJoins (tests/test_plans.py asserts the "
        "final adaptive plan). No cartesian stage, no second fact-table "
        "exchange."
    ),
    "pricing_summary": (
        "Filter pushed to the parquet scan, column-pruned ReadSchema, and a "
        "two-phase HashAggregate (partial_sum/partial_avg map-side) so the "
        "exchange carries 6 partial states per (flag, status) group instead "
        "of raw rows."
    ),
    "minhash_lsh_dupes": (
        "The whole MinHash pipeline is map-side until banding: shingles, "
        "md5-derived hash arrays, and all 16 signature slots are computed in "
        "one projection (array_min over zip_with — no explode, no group-by). "
        "Candidates come from an equi-join on band keys, and verification "
        "joins the persisted compact per-doc frame — two shuffles total, "
        "never an all-pairs stage."
    ),
    "ann_cosine_topk": (
        "The broadcast side is the tiny query set; the corpus streams "
        "through one narrow stage (BroadcastNestedLoopJoin IS the exact "
        "all-pairs scoring, applied corpus-side without a shuffle). Norms "
        "are materialized per row, so each pair costs exactly one O(d) dot "
        "product; per-query top-k is a keyed window, not a global sort."
    ),
    "ann_ivf_topk": (
        "Inverted lists shuffle once on cell id; the probed query side "
        "(|Q| x n_probe rows) broadcasts. Candidate cost is bounded by "
        "probed-cell occupancy — the same plan shape at 10^9 vectors with "
        "trained centroids. Cell assignment is a max(struct) group-by, so "
        "the partial aggregate collapses the N x C scored rows to N "
        "map-side before the exchange — the old keyed-window argmax "
        "sort-shuffled the full N x C frame."
    ),
    "incremental_watermark": (
        "The checkpoint high-watermark is a broadcast scalar subquery, not "
        "a driver collect: the filter stays distributed and pushes into the "
        "scan."
    ),
    "asof_join_latest_order": (
        "As-of join as union-and-window: both sides tagged and unioned, one "
        "shuffle on the key, last_value over the event-time window — "
        "instead of a per-row range join that would explode candidates."
    ),
    "salted_skew_agg": (
        "Three distinct group keys over the whole fact table: phase 1 "
        "aggregates per (key, salt16) so no reduce task owns a whole hot "
        "key; phase 2 combines 48 tiny partials. Decimal sums keep the "
        "two-phase combine bit-identical to a direct GROUP BY."
    ),
    "simhash_near_dupes": (
        "SimHash votes fold map-side over the per-row token-hash array "
        "(no token explode, no (doc,bit) group-by); banded Hamming "
        "candidates come from an equi-join on 4-bit band keys shipping "
        "only (doc, fingerprint) longs, with pigeonhole-guaranteed recall "
        "at the distance bound."
    ),
    "tfidf_top_terms": (
        "Term frequency and document frequency are two partial-aggregated "
        "group-bys (df counts rows of the already-distinct doc-term frame "
        "— no second distinct); corpus size broadcasts as a one-row frame; "
        "per-doc top-k is a keyed window, never a global sort."
    ),
    "chunk_documents": (
        "Chunk spans are computed per row from the materialized token "
        "array and exploded narrow — the whole chunker adds ZERO shuffles "
        "to a corpus scan."
    ),
    "stratified_sample_mix": (
        "Corpus mixing as a pure hash-bucket predicate: no shuffle, no "
        "sample-order dependence, pushes down like any filter, and "
        "re-runs reproduce the identical sample row-for-row."
    ),
    "corpus_prepare": (
        "The composed training-data pipeline (quality filter -> exact "
        "dedup -> split -> per-(split, shard) packing) is JOIN-FREE: "
        "split and shard are pure hash functions of doc_id, so the whole "
        "DAG shuffles exactly twice (dedup fingerprint window, pack "
        "window) no matter the corpus size."
    ),
    "embedding_semantic_dedup": (
        "Cluster-level semantic dedup: the ivf_assign argmax collapses "
        "map-side before its one exchange, the per-cell exemplar election "
        "is a second partial-agg exchange, and the exemplar frame "
        "(corpus/stride rows) broadcasts back — the corpus itself never "
        "reshuffles for the similarity comparison."
    ),
    "embedding_quantize_int8": (
        "int8 compression is a straight-line map plan: scale, codes, L1 "
        "mass and dequant cosine all evaluate inside one projection chain "
        "over the scan — zero semantic shuffles at any corpus size."
    ),
    "bucketed_join_rollup": (
        "Both sides read from bucketed+sorted warehouse tables. At this "
        "tiny SF the customer side falls under the broadcast threshold, "
        "so the plan below shows a BroadcastHashJoin (also exchange-free "
        "for the fact side); with broadcast disabled the same tables join "
        "bucket-wise with NO exchange and NO per-task sort — asserted in "
        "tests/test_sources.py. Either way the only shuffle is the final "
        "25-key aggregate, which is what the storage layout buys at "
        "100 TB."
    ),
    "passage_dedup_docs": (
        "The duplicate decision never shuffles document text: a narrow "
        "(doc, pidx, md5) frame is projected map-side and the per-digest "
        "survivor is min(struct(doc, pidx)) through a TWO-PHASE hash "
        "aggregate — partial_min reduces every mapper's copies of a "
        "boilerplate digest to one candidate before the shuffle, the "
        "skew case a keyed row_number window cannot partial-aggregate "
        "away (plan-pinned in tests/test_plans.py). Surviving indices "
        "fold per doc and the cleaned text is rebuilt map-side after "
        "the doc-id join by re-slicing the word array that never left "
        "the scan stage."
    ),
    "scd2_user_status": (
        "One explicit hash exchange on user_id satisfies the "
        "(user_id, day) snapshot window, the gaps-and-islands windows, "
        "AND the (user_id, version) aggregate — EnsureRequirements adds "
        "only partition-local sorts. Exactly one hashpartitioning, no "
        "range exchange, no join (asserted in tests/test_plans.py)."
    ),
    "scd2_incremental_refresh": (
        "The refresh reads the OLD history (runs-sized, MATERIALIZED — "
        "in production the stored dimension, here a localCheckpoint; "
        "the plan below shows it as an ExistingRDD scan) plus the new "
        "batch, never the accumulated observation stream: seeds for "
        "touched keys come from a semi-join of current rows against the "
        "batch keyset, the islands machinery re-runs on seed+batch only, "
        "and closed/untouched rows union through untouched. Its oracle "
        "is the full-rebuild SQL, so the green row proves incremental "
        "maintenance equals rebuild."
    ),
    "merge_upsert_customers": (
        "MERGE as UNION ALL + one partial-aggregated keyed max(struct): "
        "base and updates shuffle once on the key and the "
        "highest-priority candidate survives, with map-side combine "
        "collapsing hot keys before the exchange — no full outer join "
        "(which would shuffle both sides AND null-fight the "
        "matched/unmatched combinations), no skew-prone keyed window. "
        "The update side here is itself a keyed window over orders."
    ),
    "ann_recall_at_k": (
        "Both ANN paths (brute-force and IVF) stream the corpus narrow "
        "with the 8-query side broadcast; the recall join then matches "
        "two k-row-per-query frames — negligible. At scale the sampled "
        "query set keeps the exact side tractable; the corpus is never "
        "joined all-pairs."
    ),
    "dsir_importance_weights": (
        "The returned scoring plan is pure map work: bucket hashing, the "
        "broadcast ratio-map literal, and a DECIMAL fold — no hash or "
        "range exchange anywhere (the only Exchange is the bench-scale "
        "round-robin fan-out of the single-row-group parquet). The model "
        "fit ran as a separate bounded job at query-build time: one "
        "explode + group-by over <=128 bucket keys, fully "
        "partial-aggregated, then a 128-row collect. A 100 TB corpus is "
        "scored in one narrow pass."
    ),
    "incremental_lsh_dedup": (
        "The batch side probes the index via an equi-join on band keys — "
        "no index self-join, no corpus rescan; verification joins the "
        "compact (n_sh, h1a) frames by id. At deployment the index is a "
        "persisted table bucketed on the band key, so only the arriving "
        "batch shuffles; here both sides derive from the parity split so "
        "the oracle reproduces the exact state."
    ),
    "embedding_pq_codes": (
        "Codebook collected once (16 rows, cached per sf_dir) and parsed "
        "into the plan as one SQL array literal per subspace; the encode "
        "is three stacked projections (subvector slices, ONE transform "
        "fold per subspace producing all 16 dots as an array, argmax by "
        "element_at) with no join and no hash/range exchange — a 100 TB "
        "encode job is one narrow pass writing 8 bytes per vector. The "
        "one-fold-per-subspace shape also keeps plan analysis O(m), not "
        "O(m*k) (measured 6s of flat per-build cost before)."
    ),
    "lm_perplexity_score": (
        "Bigram-LM scoring is the same zero-shuffle shape as DSIR: the "
        "D^2-bucket model is fitted by one bounded aggregate (collected, "
        "cached), and each document folds looked-up log-probs over its "
        "bigram keys map-side — the plan has no hash exchange, no join."
    ),
    "bpe_segment_stats": (
        "The learned merges become an 8-deep literal replace chain "
        "applied inside transform/aggregate per pre-token — one narrow "
        "pass, no explode (no Generate node), no exchange; tokenizer "
        "APPLY costs the same as any map-side scan at 100 TB."
    ),
    "corpus_prepare_curated": (
        "Model-based selection costs zero shuffles: the DSIR fold "
        "replaces the heuristic quality predicate as a map-side filter, "
        "so the curated pipeline keeps corpus_prepare's exact shape — "
        "two hash exchanges (dedup survivor, pack window), no join "
        "(plan-pinned in tests/test_plans.py)."
    ),
    "ann_ivfpq_topk": (
        "One keyed shuffle (the coarse argmax assignment, partial-"
        "aggregated so N rows move, never N*cells); the candidate join "
        "broadcasts the probed queries and carries (id, cell, codes) — "
        "8 small ints per corpus vector instead of 64 floats, which is "
        "the 32x inverted-list compression that makes IVF-PQ the "
        "billion-scale layout. ADC terms are JVM Column folds against "
        "the codebook literals."
    ),
    "salted_skew_join": (
        "A ShuffledHashJoin whose keys include the deterministic __salt "
        "column (plan-pinned, no broadcast): each hot l_returnflag spreads "
        "over 16 sub-keys while the fee dim replicates via a narrow explode "
        "— the escape hatch for a skewed join whose dim is too big to "
        "broadcast. The follow-up group-by is partial-aggregated, and the "
        "result is row-identical to the unsalted join per the oracle."
    ),
    "event_heavy_hitters": (
        "The production path is the ArrowEvalPython/mapInPandas stage: O(k) "
        "state per partition, emitting <= k (key, est) rows each, merged by "
        "one tiny hash exchange. The exact group-by alongside it is the "
        "validation harness (the approx-sketch convention) — drop it and "
        "only the bounded-state pass remains; at 100 TB the full-key "
        "shuffle the exact plan needs is exactly what MG avoids."
    ),
    "copurchase_pagerank": (
        "Edge build is the per-basket-quadratic self-join co-partitioned on "
        "l_orderkey; each PageRank round is one rank-onto-edges equi-join "
        "plus one partial-aggregated dst group-by over DECIMAL(28,9) "
        "contributions (order-independent sums). Rounds materialize via "
        "localCheckpoint, so the visible plan stays one join deep no matter "
        "the iteration count — the label-propagation plan-growth lesson "
        "applied to ranking."
    ),
    "last_touch_attribution": (
        "One keyed shuffle: the per-user window carries a running "
        "max(struct(ts, event_id, type)) over preceding non-purchase rows "
        "— no self-join, no per-user quadratic — then the 7-day filter and "
        "a partial-aggregated rollup on the attributed channel. The "
        "quadratic prior-event join lives only in the oracle."
    ),
    "bloom_semi_prune": (
        "The Bloom membership predicate is a Filter of pure literal-array "
        "arithmetic that Catalyst pushes all the way into the fact scan "
        "stage — rows that fail the filter die before ANY exchange, which "
        "is the operator's entire purpose at 100 TB (only probable matches "
        "reach the broadcast exact join). One md5 per row "
        "(Kirsch-Mitzenmacher double hashing derives all k positions); the "
        "filter build is a bounded partial-aggregated bit_or collect."
    ),
    "zorder_layout_prune": (
        "Morton key + file assignment are a single projection (no join "
        "anywhere in the plan); the only exchanges are the partial+final "
        "hash aggregates of the 64-file footprint rollup. The layout write "
        "path (repartitionByRange on the key) is one range shuffle, "
        "asserted end-to-end against real parquet file stats in "
        "tests/test_operators.py."
    ),
    "table_reconcile": (
        "Each side digests its own copy with one partial-aggregated scan "
        "(partial_bit_xor map-side), and the ONLY join in the plan is the "
        "full-outer of two 64-row digest frames — table rows never cross "
        "the join, which is what makes nightly reconciliation of a 100 TB "
        "pair affordable."
    ),
    "mv_incremental_merge": (
        "Two sources: the stored accumulator table (tiny) and a delta "
        "events scan whose timestamp cutover appears as a PushedFilter — "
        "history rows are never read, only merged as state. The merge is "
        "a union + one keyed aggregate over per-group accumulators."
    ),
    "ann_matryoshka_topk": (
        "Both funnel stages keep the corpus map-side: stage 1 joins the "
        "broadcast query set over TRUNCATED vectors (1/4 the arithmetic), "
        "stage 2 joins the broadcast 50-id shortlist back onto the corpus "
        "scan for the exact rerank. The only exchanges are the two "
        "per-query top-k windows over (id, id, score) triples."
    ),
    "cdc_apply_snapshot": (
        "Last-writer-wins is ONE partial-aggregated max(struct(ts, id, "
        "type, value)) group-by — each partition collapses its changes "
        "map-side before the single keyed exchange; no window, no sort of "
        "the full change feed. Tombstones filter after the collapse."
    ),
    "cm_sketch_estimate": (
        "The sketch build is a map-side explode of d (row, bucket) "
        "increments feeding ONE partial-aggregated group-by — the "
        "exchange carries at most d*w*partitions counter rows at any key "
        "cardinality, and the built grid enters the probe side as a "
        "BroadcastHashJoin. The exact-count branch exists only as the "
        "oracle's bound harness; the sketch path itself never shuffles "
        "keys."
    ),
    "kmeans_centroid_fit": (
        "The whole 2-round Lloyd chain is ONE lazy plan: each assign is "
        "a broadcast-centroid join whose argmin collapses map-side "
        "(partial min(struct(d2, cell)) before the N-row exchange), each "
        "update is a (cell, dim)-bounded mean aggregate rebuilt into "
        "k-row centroid frames in-plan (array_sort of collected (pos, m) "
        "structs) — zero driver collects, and nothing in the iteration "
        "scales with N beyond the per-round corpus scan. Local warm time "
        "is stage-count overhead (~7 stages), not compute: the SCALING "
        "row is flat across a 10x data step."
    ),
    "cluster_safe_split": (
        "The near-dup machinery reuses the proven LSH plan (map-side "
        "signatures, band equi-join, never all-pairs); the split itself "
        "adds one keyed left join of docs onto the small clustered-doc "
        "label frame and a map-side hash bucket — the final rollup is a "
        "3-key aggregate. No stage rescans the corpus text after the "
        "signature pass."
    ),
    "minhash_distinct_estimate": (
        "The register build is one partial-aggregated MIN group-by over "
        "at most m=128 bucket keys — each partition contributes <= m "
        "rows to the exchange at ANY key cardinality, which is the "
        "whole advantage over the exact COUNT DISTINCT branch beside it "
        "(kept only as the validation harness; its expand/distinct "
        "exchange carries every distinct key). The estimator itself is "
        "a single-row arithmetic projection."
    ),
    "copurchase_triangles": (
        "Runs on the persisted apex-partitioned orientation (the graph "
        "layout index — InMemoryTableScan, no lineitem re-scan). Both "
        "wedge sides derive from the SAME cached exchange layout, so the "
        "self-join shuffles nothing; the closing (v1, v2) equi-join is the "
        "only new exchange, and the per-triangle node fan-out is one "
        "3-element array explode feeding a partial-aggregated count — a "
        "triple union here would re-execute the triangle subtree three "
        "times (the shape the r7 fix removed). Degree orientation bounds "
        "wedge generation at O(m^1.5) regardless of hub skew."
    ),
    "copurchase_communities": (
        "Two LPA rounds as two (join + two partial-aggregated group-bys) "
        "blocks over the cached src-partitioned edge frame: only the "
        "label vector moves per round, the edge side never re-shuffles. "
        "The argmax is a max(struct(s, -label)) group-by, not a window — "
        "map-side collapse to one row per node before the exchange. "
        "Integral weights make the sums exact at any partitioning."
    ),
    "containment_dupes": (
        "Consumes the persisted capped shingle index (one tokenization "
        "pass per corpus version, shared with jaccard_near_dupes) — the "
        "un-cached plan re-scanned documents 4x with the tokenizer inlined "
        "into scan filters. One shared-count aggregate per unordered pair, "
        "then BOTH directed readings fan out of a single array explode "
        "(a union of two selects would re-run the join+aggregate per "
        "branch). The df cap bounds the candidate join at sum(df^2)."
    ),
    "basket_association_rules": (
        "The rules frame is the cached symmetrized co-purchase edge index "
        "joined twice onto per-item basket counts (shuffle on part key, "
        "partial-aggregated), with n_baskets embedded as a bounded "
        "collected scalar — the support/confidence/lift arithmetic is "
        "pure map-side Column work, dround-quantized for the oracle."
    ),
    "pit_scd2_join": (
        "The SCD2 history build is the single-shuffle gaps-and-islands "
        "plan (one hash exchange on user_id serves the snapshot window, "
        "the island windows, and the version aggregate); the "
        "point-in-time join is then an equi-join on user_id with the "
        "validity interval as a post-join filter — match amplification "
        "bounded by versions-per-key, each side shuffles once. Revenue "
        "is decimal-quantized per row before the rollup sum."
    ),
    "ivf_index_merge": (
        "Both assignment passes are the broadcast-centroid max(struct) "
        "argmax: the k-row centroid frame (built from the BASE corpus "
        "stride only) broadcasts, every vector scores map-side, and the "
        "partial aggregate collapses C scored rows to one per vector "
        "before the single N-row exchange. The per-list occupancy rollup "
        "is a k-bounded group-by — merge cost tracks the batch, the "
        "index never rebuilds."
    ),
    "kmeans_silhouette": (
        "Consumes the persisted trained model (no retraining in-plan): "
        "assignments join the broadcast k-row centroid frame, the k-1 "
        "other-centroid distances reduce through a partial-aggregated "
        "min per vector (exchange carries N rows once), and the per-cell "
        "mean is a k-row rollup with DECIMAL-quantized terms. N*k "
        "map-side arithmetic replaces the O(N^2) pairwise silhouette."
    ),
    "embedding_top_pc": (
        "Each power round is: broadcast the 1-row direction frame onto "
        "the corpus (map-side dot product), posexplode into ONE (dim) "
        "group-by whose exchange is bounded by dim*partitions rows "
        "(DECIMAL-quantized addends), rebuild the 64-struct direction "
        "and normalize in-plan — no driver collect between rounds, the "
        "whole 2-round fit is one lazy plan. Corpus is touched twice "
        "total regardless of N."
    ),
    "negative_samples": (
        "Candidate generation is a map-side sequence explode + portable "
        "hash over the distinct-user frame (no candidate table); the only "
        "fact-sized work is the left-anti join against the distinct "
        "(cust, part) positives. Collision dedup and first-k both run as "
        "keyed windows over user-bounded frames. Deterministic by seed: "
        "every epoch regenerates the identical triplet set."
    ),
    "boilerplate_line_removal": (
        "C4/CCNet corpus-frequency line removal: line TEXT never leaves "
        "the map side — only (doc, lidx, md5) triples shuffle. Document "
        "frequency is a distinct-(doc, digest) partial-merged aggregate "
        "then a per-digest count; the over-threshold digest set is tiny "
        "by construction (the head of the df distribution), so the cut "
        "is a LEFT ANTI join the optimizer executes broadcast "
        "(BroadcastHashJoin LeftAnti) — the corpus-sized line frame is "
        "filtered map-side and never shuffles for the removal. Surviving "
        "indices fold per doc and clean text is re-sliced map-side after "
        "the doc-id join."
    ),
    "eval_overlap_report": (
        "Benchmark-integrity counts without moving the training corpus: "
        "the eval digest set broadcasts onto the persisted gram index "
        "(InMemoryTableScan), matched digests reduce through a "
        "partial-aggregated distinct bounded by |eval digests|, and the "
        "per-eval-doc rollup joins that small matched set back broadcast. "
        "The only exchanges carry digest-width rows."
    ),
    "target_mix_sample": (
        "The whole quota fit is in-plan: a bounded per-class count "
        "aggregate, a broadcast share table, a 1-row min aggregate for "
        "the feasible total T, and a broadcast quota join back onto the "
        "corpus. The per-class top-n_target never sorts a whole class: "
        "the hash prefilter (~8x quota / count) bounds each window "
        "partition's input by sample size — the balanced_class_sample "
        "idiom generalized to per-class quotas."
    ),
    "corpus_prepare_decontaminated": (
        "The end-to-end prep pipeline with the contamination cut wired "
        "between dedup and packing. The curated words frame is persisted "
        "once (InMemoryTableScan — the DAG diamond's checkpoint: grams "
        "and rewrite both consume it without re-running filter+dedup). "
        "Eval-split window digests reduce to a distinct set that "
        "BROADCASTS onto the train grams (the train corpus never "
        "shuffles for the marking); islands and the per-doc span fold "
        "share one hash(doc) layout; the rewrite is map-side indexed "
        "array filtering; split and shard are pure hashes of doc_id so "
        "no label join exists anywhere. Exchanges: dedup survivor, eval "
        "digest distinct, islands window, pack window."
    ),
    "domain_cap_sample": (
        "Per-domain cap via the hash-prefilter bounded-window idiom: a "
        "bounded per-domain count aggregate broadcasts back, the map-side "
        "prefilter keeps ~8x cap expected rows per domain BEFORE the "
        "shuffle, so the per-domain row_number window sorts sample-sized "
        "partitions regardless of domain size — the million-page mirror "
        "never funnels through one sort. One keyed exchange total."
    ),
    "dup_span_histogram": (
        "Duplication profile straight off the persisted gram index "
        "(InMemoryTableScan): the survivor aggregate and the mark join "
        "run exchange-free on the index's pdigest layout, islands "
        "coalesce per doc on one hash(doc) exchange, and the final "
        "length histogram is a bounded partial-merged aggregate — at "
        "most max-doc-words output rows. No new shuffle shape vs "
        "substring_dedup_spans; the text re-slice join is absent "
        "entirely (boundaries only)."
    ),
    "pack_sequences_bfd": (
        "Best-fit-decreasing is sequential within a packing unit, so the "
        "shard is the unit: one keyed exchange groups each shard's "
        "(doc, tokens) pairs into a sorted array and the whole placement "
        "loop runs as one in-plan aggregate fold — shards fold in "
        "parallel, no driver collect, no per-step shuffle. The candidate "
        "argmin binds through a one-element transform so the scan of "
        "open packs happens once per placement."
    ),
    "curation_signal_table": (
        "The signal mart: Gopher flags, repetition fractions, lang-ID, "
        "LM perplexity and NB posterior all score MAP-SIDE in one "
        "projection chain (models are cached bounded-aggregate fits "
        "shared with their standalone queries). The only owned shuffle "
        "is the contamination count's hash(doc) groupBy over the "
        "persisted gram index (eval digests broadcast), and the count "
        "joins back broadcast — the corpus-wide frame never shuffles. "
        "The repeated WindowExec 'No Partition Defined' warnings seen "
        "in bench logs do NOT come from this family — the repo's "
        "unpartitioned-window sites (the post-limit rank stamps in "
        "event_path_topn / corpus_top_terms / keyword_extraction, the "
        "BPE merge ranking in bpe_pair_counts, hybrid_search_rrf's "
        "<=50-row fuse, and compaction_plan's per-day metadata window) "
        "all operate on frames bounded by construction (top-20 "
        "survivors, <=50-row RRF fuse, calendar-bounded compaction "
        "metadata); the warnings are cosmetic, not scale hazards."
    ),
    "curation_rule_ablation": (
        "Attribution adds NO shuffle beyond the decision frame it "
        "explains: the per-rule docs/tokens/unique/overlap measures "
        "are ONE global conditional-sum aggregate (partial-reduced "
        "map-side to a single row — every measure an integer sum, no "
        "float anywhere), and the four report rows come from exploding "
        "a literal struct array over that row. Upstream is the SHARED "
        "persisted decision frame (one build per corpus version — "
        "map-side signals, one keyed contamination count, broadcast "
        "tercile cuts — then MEMORY_AND_DISK, the storage-investment "
        "rule), so attribution is literally one pass over the decided "
        "table, here as at 100 TB; re-thresholding a rule re-runs "
        "only this aggregate."
    ),
    "mv_join_delta_merge": (
        "The IVM classic for aggregate-over-join views: "
        "delta(A JOIN B) = dA JOIN B + A JOIN dB + dA JOIN dB, merged "
        "into stored month-grain accumulators. Each delta term "
        "BROADCASTS its delta side, so both history scans stream "
        "map-side through BroadcastHashJoins (no SortMergeJoin in the "
        "plan) with the order/ship cutovers pushed into the parquet "
        "scans (PushedFilters on o_orderdate / l_shipdate); history "
        "months enter only as the tiny mvj_state parquet, never "
        "re-joined. Refresh cost tracks delta size x matched history "
        "rows, flat in view history — the economics that replace the "
        "reference's rerun-the-whole-gold-join-every-300s loop for its "
        "join views, not just its single-table rollups. Asserted in "
        "tests/test_plans.py (broadcasts + pushed cutovers + state "
        "source)."
    ),
    "compaction_apply_reconcile": (
        "The OPTIMIZE loop with proof: the planned day bins are "
        "rewritten via one repartition on the plan's job_id (one "
        "~TARGET-row file per job), and equality with the small-file "
        "landing is established by the table_reconcile idiom — per "
        "job, row count + order-independent XOR of portable row "
        "fingerprints from each layout, full-outer joined. Each side "
        "is one partial-aggregated scan of its own layout; only "
        "n_jobs digest rows shuffle, so verify-after-OPTIMIZE costs "
        "two scans regardless of table size. The plan's running-total "
        "window runs over per-day METADATA rows (calendar-bounded, "
        "the documented cosmetic WindowExec warning), never data."
    ),
    "join_size_estimate": (
        "AMS/Count-Min join-size estimation — the statistic a CBO "
        "consults before committing a many-many join plan: each input "
        "is summarized INDEPENDENTLY into a d x w grid (one map-side "
        "explode + one partial-aggregated group-by each, bounded by "
        "d*w cells no matter the key cardinality — the inputs never "
        "join, no key ever shuffles), and the estimate is the min "
        "over hash rows of the bucket-wise product sum, a join of "
        "two broadcastable grid frames. est >= true always "
        "(collisions only add); E[over] <= Na*Nb/w per row. The "
        "exact join count rides along as the validation harness "
        "only — the 100 TB deployment drops it, which is the point: "
        "the estimate costs two narrow scans where the exact count "
        "costs the very shuffle it exists to predict."
    ),
    "dq_quarantine_router": (
        "The dead-letter half of data quality: a declarative "
        "expectation suite (null keys, invalid money, non-positive "
        "quantities, unparseable timestamps) compiled into ONE "
        "map-side projection — per-row failed-rule list via concat_ws "
        "over CASE marks, violation count as an integer sum — and a "
        "filter, all inside the scan stage: no shuffle, no UDF, no "
        "extra pass. The keep side is the same projection negated. "
        "At 100 TB the router costs exactly the scan the conformance "
        "was already paying; the reference loads conformed rows "
        "unconditionally, so a negative price flows straight into "
        "revenue — this is the operator that stops that."
    ),
    "stream_mv_join_refresh_rollup": (
        "The streaming form of mv_join_delta_merge: each arriving "
        "lineitem micro-batch folds into the stored month-revenue "
        "join view as state(bid) = merge(state(bid-1) UNION "
        "agg(orders JOIN broadcast(batch))) — the batch is the "
        "broadcast side by construction, so the orders scan streams "
        "map-side per trigger and the only exchange is the bounded "
        "month-grain merge. Each batch's state is a snapshot built "
        "from the one before it (a replayed batch re-reads exactly "
        "the state it saw first), and the newest two are kept, so "
        "storage holds at two snapshots regardless of stream length. "
        "The report reads the newest snapshot, located from the "
        "directory listing: one parquet scan and a projection, no "
        "job to find it. History is "
        "never rescanned in EITHER dimension: not across data (delta "
        "terms, not full joins) and not across time (per-arrival "
        "folds, not the reference's 300 s polling rerun)."
    ),
    "stream_domain_admit_rollup": (
        "Ingest-time URL-level curation: per-domain admitted counts "
        "live as applyInPandasWithState state (ONE bigint per domain, "
        "O(domains) regardless of stream length, checkpoint-restored "
        "so admission is cumulative across restarts). Each micro-batch "
        "shuffles only on the domain key for the state operator; the "
        "landed admit_seq is the all-time admission index, so the "
        "driver compare itself proves the cross-batch state (the "
        "oracle is the batch arrival-rank cap). Batch/backfill twin: "
        "domain_cap_sample (smallest-hash survivors); admission is "
        "the arrival-order form a live crawl needs."
    ),
    "sampled_percentile_cuts": (
        "The scale path for the keep decision's per-language tercile "
        "fit — the one remaining full-pass in the re-threshold loop. "
        "Sampled and exact cut points are CONDITIONAL aggregates in "
        "ONE per-language group-by over the zero-shuffle signal "
        "chain (percentile ignores the NULLs the deterministic "
        "md5-hash sample predicate leaves), so the report costs "
        "exactly the bounded keyed exchange the exact fit already "
        "paid: one parquet scan, one hashpartitioning(guessed_lang), "
        "no join, no window (asserted in tests/test_plans.py). At "
        "100 TB the exact columns drop and re-fitting cuts reads "
        "12.5% of the corpus — or less, the modulus is the knob. A "
        "language absent from the sample degrades VISIBLY: NULL cuts "
        "and n_unknown_sampled = n_docs (every doc buckets 'unknown' "
        "and passes — the r13 LEFT-join hardening, now exercised for "
        "real with a planted corpus in tests)."
    ),
    "curation_threshold_sweep": (
        "The report that justifies a threshold BEFORE a 100 TB cut: "
        "kept docs/tokens for each cell of a policy grid (dup-bigram "
        "cap x perplexity policy), evaluated in ONE global "
        "conditional-sum aggregate over the persisted decision frame "
        "— which since r14 carries the raw repetition fractions so "
        "policy sweeps never touch the signal chain. Every cell is a "
        "pair of map-side integer counters; the grid rows come from "
        "exploding a literal struct array over the single aggregate "
        "row (the rule-ablation unpivot — no Union, no per-cell "
        "recompute, no keyed exchange beyond the decision's own, "
        "asserted in tests/test_plans.py). Adding a candidate costs "
        "two counters: a 100-cell grid still reads the artifact once."
    ),
    "erasure_propagation": (
        "Right-to-be-forgotten with proof: tombstoned customers, "
        "their orders, and those orders' lineitems are removed via "
        "BROADCAST anti-joins (a GDPR batch is small by nature — no "
        "SortMergeJoin, no keyed exchange anywhere, asserted in "
        "tests/test_plans.py), written once per corpus version with "
        "atomic publish. Proof is the table_reconcile XOR idiom: per "
        "table, the WRITTEN survivors' count + fingerprint digest "
        "must equal the complement computed independently from the "
        "source, plus an orphan audit over the written warehouse — "
        "both partial-aggregate to one row per table, so at 100 TB "
        "the proof costs two scans and shuffles three digest rows. "
        "Doubles enter fingerprints only as DECIMAL cents, "
        "timestamps only as DATE strings. The reference has no "
        "delete path at all; this is the compliance pass it would "
        "need the day a deletion request arrives."
    ),
    "histogram_delta_merge": (
        "Incremental CBO-statistics maintenance, completing the pair "
        "join_size_estimate started: the stored equi-depth histogram "
        "(per-bucket count/lo/hi binned against the old slice's "
        "octile boundaries, boundary VALUES carried on the <=8 state "
        "rows) absorbs a delta by binning ONLY the post-cutover rows "
        "against the stored boundaries, read from the state's parquet "
        "footers into literals (no Spark job at construction) — the "
        "l_shipdate cutover is "
        "pushed into the parquet scan, history is never rescanned, "
        "and the merge is the mv_incremental_merge accumulator fold "
        "(cnt+cnt, min/max) over <=16 rows. Per-bucket share vs the "
        "equi-depth target 1/8 doubles as the re-ANALYZE trigger: "
        "drifted buckets say when re-fitting boundaries is worth its "
        "full scan. One keyed exchange (bucket) and no join (asserted in "
        "tests/test_plans.py); the total is summed on the same single row "
        "that collects the <= 8 merged buckets, which then explode back "
        "out, so the merged histogram executes once: two scans (state, "
        "delta)."
    ),
    "stream_cusum_rollup": (
        "The ARRIVAL-TIME twin of cusum_changepoint: per-series "
        "median/5-MAD constants fit in batch on the pre-1999 "
        "reference slice (the production monitoring shape — a live "
        "monitor cannot know its own future's median), then the "
        "monitored days arrive as two day-partitioned checkpointed "
        "micro-batches and applyInPandasWithState advances the "
        "textbook recursion S_t = max(0, S_{t-1} + dv) in exact "
        "int64-milli arithmetic — six integers of state per series, "
        "O(series) regardless of stream length (bound MEASURED from "
        "listener telemetry in tests/test_streaming.py). The oracle "
        "is the batch closed form over the same constants and slice, "
        "so the driver row proves recursion == closed form AND that "
        "the statistic survived the micro-batch/state-store boundary "
        "— batch==stream in the compared values themselves. The "
        "landed summary reads back as each series' newest batch "
        "(streaming.jobs.read_latest: max(__bid) per series, "
        "broadcast-joined back) — no window over the landed rows, "
        "which grow with trigger count."
    ),
    "histogram_quantile_estimate": (
        "The CONSUMER half of the maintained CBO statistic: quantiles "
        "SERVED from the incrementally-maintained equi-depth "
        "histogram — cumulative walk over the <= 8 accumulator rows, "
        "linear interpolation inside the covering bucket, targets "
        "exploded from a literal array and joined on an INTEGER "
        "index. The exact percentile rides along as the accuracy "
        "harness (the join_size_estimate convention; measured rel_err "
        "<= 8e-4 at sf0.01 — equi-depth bounds the error to one "
        "bucket-width). The harness is FIT ONCE per corpus version "
        "and enters as literals (the bm25/kmeans fit-then-broadcast "
        "shape): with it inline the probe grew 7.1x across the 10x "
        "step (percentile is the one full-column read); cached, the "
        "warm path is the 8-row walk + delta scan and probes 1.0x; "
        "the stored boundaries enter as literals read from the state's "
        "parquet footers, so a warm construction runs no Spark job. The "
        "running count and the total are two frames of one window over "
        "the bucket rows, so the merged histogram executes once (two "
        "scans: state and delta). "
        "The delta filter stays pushed into the parquet scan "
        "(asserted in tests/test_plans.py)."
    ),
    "cusum_changepoint": (
        "One-sided CUSUM mean-shift detection as pure window algebra: "
        "the recursion S_t = max(0, S_{t-1} + dv) is the closed form "
        "P_t - min(0, min P_j) — two running windows over one sort. "
        "The per-series median and MAD are windows over the SAME "
        "series partitioning (not grouped subqueries joined back, "
        "which re-scanned orders once per constant — the no-"
        "DataFrame-CSE lesson), so the whole chain is ONE orders scan "
        "and ONE keyed exchange of day-level rollup rows (asserted "
        "in tests/test_plans.py). Every accumulated term is DECIMAL: "
        "the prefix sums are exact and association-free, so the flag "
        "comparison can never sit on a float boundary two engines "
        "associate differently. tests/test_operators.py replays the "
        "textbook recursion in exact Decimal arithmetic against the "
        "closed form."
    ),
    "skyline_pareto": (
        "Per-brand Pareto frontier without the quadratic dominance "
        "self-join: group to one row per (brand, price) carrying the "
        "price's max size (partial-agg shuffle), sweep a running max "
        "over DISTINCT prices per brand (one window, state = one "
        "number), equi-join back to parts (broadcast at this scale, "
        "AQE decides at 100 TB). Survivor rule encodes the strict-"
        "somewhere dominance definition including equal-price and "
        "duplicate-point ties; tests/test_operators.py checks the "
        "whole frontier against the O(n^2) definition. All "
        "comparisons are raw parquet values — no arithmetic for "
        "cross-engine floats to disagree about."
    ),
    "weighted_sample_topk": (
        "Sequential Poisson sampling (Ohlsson 1998): rank by "
        "xi = md5-uniform / weight, keep the k smallest per stratum — "
        "weighted sampling without replacement whose key is ONE IEEE "
        "division (the Efraimidis-Spirakis -ln(u)/w key would hang "
        "rank order on a libm ulp). Stratum weight totals are an "
        "exact-DECIMAL broadcast agg; the xi prefilter runs map-side "
        "BEFORE the stratum shuffle, bounding each sort's input at "
        "~oversample*k expected rows regardless of stratum size, and "
        "Spark plants WindowGroupLimit on BOTH sides of the exchange "
        "(asserted in tests/test_plans.py). The oracle applies the "
        "identical prefilter, so cross-engine equality is exact by "
        "construction."
    ),
    "k_anonymity_audit": (
        "The generalization ladder (segment+nation+band -> ... -> "
        "none) is GROUP BY ROLLUP: every rung's QI group-size census "
        "in ONE Expand + ONE keyed exchange with map-side partial "
        "aggregation, then a rung-count-sized gid aggregate — never "
        "one pass per rung (asserted in tests/test_plans.py: one "
        "customer scan, two exchanges, no joins). Reports per rung "
        "the groups, smallest group, rows needing suppression under "
        "k=5, and suppressed share — the privacy release gate next "
        "to erasure_propagation, checked against a brute-force "
        "census plus ladder monotonicity in tests/test_operators.py."
    ),
    "revenue_trend_slope": (
        "REGR_SLOPE done exactly: per-brand OLS trend over (month "
        "index, monthly revenue) from the closed-form sufficient "
        "statistics, every sum accumulated in DECIMAL (month indices "
        "are integers, monthly revenue is 2dp) so all five statistics "
        "are exact and association-free — the native covar/var "
        "aggregates sum doubles in engine-specific order, which is "
        "why the formula is spelled out identically on both sides. "
        "One broadcast dim join (part onto lineitem), one fact-sized "
        "(brand, month) rollup with map-side partials, a brand-count "
        "stats rollup; the fact is scanned once (asserted in "
        "tests/test_plans.py). NULL slope for single-month brands."
    ),
    "l_diversity_audit": (
        "The homogeneity-attack companion to the k-anonymity ladder "
        "(a k-anonymous group whose members all share one sensitive "
        "value still leaks it): per generalization rung, the QI "
        "groups, the worst group's distinct-sensitive-value count, "
        "and the groups/rows failing l=3 — same one-ROLLUP-pass "
        "shape, with the COUNT(DISTINCT) planned as the standard "
        "two-phase Expand over the rollup output; still one customer "
        "scan, no joins (asserted in tests/test_plans.py). "
        "Generalizing merges groups, so min_l is non-decreasing down "
        "the ladder — pinned with the brute-force census in "
        "tests/test_operators.py. Erasure + k-anonymity + "
        "l-diversity form the complete release-compliance gate."
    ),
    "expectation_suite": (
        "The dbt-style contract suite as DATA: each (table, column, "
        "expectation, violation-SQL) row compiles to one conditional "
        "counter — F.expr and the DuckDB oracle parse the IDENTICAL "
        "predicate text, single-sourced from the spec tuple — so "
        "nine checks over three tables cost exactly three column-"
        "pruned scans (asserted in tests/test_plans.py), unpivoted "
        "to a row per check by the literal-struct-array Generate. "
        "NULL predicate results count as violations (COALESCE(cond, "
        "TRUE)): a range check cannot silently pass on a NULL "
        "column (tests/test_operators.py). FK relationships stay "
        "referential_integrity's job."
    ),
    "phrase_search": (
        "Exact phrase retrieval over a PERSISTED positional postings "
        "index (doc_id, pos, token — the positional sibling of "
        "bm25's doc-term index, built once per corpus version and "
        "repartitioned on token): the probe filters the cached "
        "layout to the phrase terms' postings and intersects on "
        "(doc_id, pos+1) — probe cost scales with posting-list "
        "size, not corpus size, which is why search engines store "
        "positions instead of rescanning text. The probe plan "
        "contains no tokenizer (asserted in tests/test_plans.py: "
        "InMemoryTableScan on both sides, Generate only inside the "
        "cached build). Overlap semantics checked brute-force in "
        "tests/test_operators.py."
    ),
    "ndv_delta_merge": (
        "Incremental NDV maintenance never rescans history: the "
        "stored m=128 min-hash registers enter as a <=128-row "
        "parquet source (ndv_state), the only lineitem scan carries "
        "the pushed post-cutover filter (PushedFilters: l_shipdate "
        ">=), and registers fold by bucket-wise MIN through one "
        "bucket-keyed exchange — min over a partition union equals "
        "min of partition minima, the merge law the register "
        "construction exists for. The from-scratch full-corpus "
        "registers and the exact COUNT DISTINCT are the VALIDATION "
        "harness, fit once per corpus version and entering as a "
        "from_json literal (no second lineitem read appears in the "
        "plan — asserted in tests/test_plans.py); at 100 TB an NDV "
        "question costs the state read plus the delta scan."
    ),
    "ivf_rebalance_apply": (
        "The rebalance PROOF reads only the two persisted "
        "cell-partitioned list layouts (ivf_lists / "
        "ivf_lists_rebalanced — built once per corpus version; the "
        "split itself happens in the layout build, where only the "
        "top-2 occupied lists' partitions are rewritten). Each side "
        "folds count + XOR vid-fingerprint digests with "
        "partial-aggregated group-bys, so the verify shuffles one "
        "digest row per list, never members — the "
        "compaction_apply_reconcile economics applied to the index. "
        "No embeddings scan and no cosine arithmetic at report "
        "time (asserted in tests/test_plans.py)."
    ),
    "stream_erasure_rollup": (
        "The report side mirrors erasure_propagation: per table, one "
        "broadcast-flagged scan of the SOURCE computes the expected "
        "complement (count + XOR digest) and one scan of the "
        "stream's final snapshot computes what was actually "
        "published — both partial-aggregate to a single row, so the "
        "proof shuffles three digest rows. The cascade itself ran "
        "in foreachBatch micro-batches (broadcast anti-joins per "
        "batch against the snapshot before it, copy-on-write "
        "publish through the snapshot chain); "
        "driver-green means the cross-batch cascade converged to "
        "the batch erasure over the cumulative tombstone set."
    ),
    "metrics_backlog_report": (
        "Monitoring cost scales with batches observed, not data "
        "processed: the telemetry history is a narrow JSON scan, "
        "the gaps-and-islands lag-run grouping windows on "
        "query_name, and the median/MAD duration bands and "
        "integer-exact OLS state slope are per-query-name "
        "aggregates joined broadcast — every exchange keys on "
        "query_name, whose cardinality is the number of streaming "
        "queries, not their data volume."
    ),
    "groupwise_ndv_estimate": (
        "Group-wise cardinality from one scan: the per-(day, bucket) "
        "register build partial-aggregates map-side (partial_min — "
        "each partition ships at most m register rows per day no "
        "matter the day's traffic), and the ALL row folds the day "
        "registers by bucket-wise MIN, giving the deduplicated total "
        "without a second scan (summing daily exacts double-counts "
        "returning users). The exact COUNT DISTINCT harness adds the "
        "only other exchanges (its own group key and the two-phase "
        "distinct's user_id partial) — enumerated in "
        "tests/test_plans.py so an unowned shuffle cannot creep in."
    ),
    "postings_delta_merge": (
        "Incremental search-index refresh: the stored postings enter "
        "as a parquet source, ONLY the arriving docs are tokenized "
        "(a single live Generate — plan-asserted; the union-of-"
        "aggregates form re-executed the delta tokenize per proof "
        "granularity until the ROLLUP grouping-sets rewrite), and "
        "the from-scratch harness rides the session-cached doc-term "
        "index (InMemoryTableScan — the one-time build is printed "
        "inside the cached relation for provenance, not re-run). "
        "Postings over disjoint doc sets merge by plain union, so "
        "the refresh shuffles delta-sized rows only."
    ),
}


def main() -> None:
    from multichannel_commerce_data_pipeline_spark.queries import load_registry
    from multichannel_commerce_data_pipeline_spark.session import get_spark

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_registry()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        "Generated by `scripts/dump_plans.py` (explain mode: formatted, "
        f"sf_dir: {SF_DIR}). Plan-shape properties asserted in "
        "`tests/test_plans.py`.",
        "",
    ]
    for name, commentary in COMMENTARY.items():
        df = registry[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(mode)
        out += [f"## {name}", "", commentary, "", "```", plan.rstrip(), "```", ""]

    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(COMMENTARY)} plans)")


if __name__ == "__main__":
    main()
