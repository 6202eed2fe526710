"""Regenerate PLANS.md — physical-plan audit of the engine's key
operators.  Usage: python tools/gen_plans.py > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CASES = [
    ("q1_pricing_summary", "Scan→partial agg→final agg entirely inside WholeStageCodegen; decimal sums; only the 5 needed columns read."),
    ("q5_revenue_per_nation", "Dimension chain broadcast (no shuffle on the fact side until the final group)."),
    ("q6_forecast_revenue", "Pure scan-predicate query: every filter pushed to the parquet reader."),
    ("scd2_merge_orders", "The SCD2 merge: ONE full-outer join on the pk, 0-2 output rows per joined row via explode; closed history unioned back scan-only."),
    ("global_rank_leaderboard", "Two-phase global rank: range exchange, per-partition window, broadcast offsets - no full-data SinglePartition sort."),
    ("minhash_lsh_pairs", "Shingle explode → map-side partial min per hash → band table checkpointed once → size-routed pair emission: bounded collect_list for small buckets, AQE-splittable self-join for oversized ones."),
    ("text_analysis", "Per-token work as explode + ONE hash aggregate (conditional sums + first(text)) - fully codegen, map-side partial collapses each doc before the single doc_id shuffle."),
    ("pack_sequences_budget", "Two-phase global cumsum (range exchange, per-partition window, broadcast offsets) - no single-partition Sort/Window; sequence assignment is arithmetic + explode."),
    ("ann_lsh_bucketed", "Bucket assignment as plain sum aggregates over posexploded vectors (codegen), bucket equi-join, per-query top-k."),
    ("asof_join_events", "As-of join as union-sort: one hash shuffle, per-key window carry-forward - no nested-loop range join."),
    ("q21_waiting_suppliers", "EXISTS/NOT EXISTS decorrelated to left-semi + left-anti equi-joins."),
    ("incremental_mart_merge", "Delta partial-agg unioned with state, re-aggregated on the mart key - refresh cost bounded by the delta."),
    ("q18_large_orders", "Single fact scan: the HAVING aggregate carries the quantity sum and joins directly - no semi-join + re-aggregation second scan."),
    ("knn_graph_embeddings", "LSH collision self-join and pair dedup ship bare (src,dst) ids; embeddings join back only at scoring (no exchange carries a vector column)."),
    ("interval_overlap_sessions", "Interval x interval overlap as chunk-exploded equi-join + owner-chunk codegen filter - one shuffle, no BroadcastNestedLoop."),
    ("mixture_sample_domains", "Data-derived keep rates from one stratum aggregate broadcast back; membership is a scan-local hash filter."),
    ("pagerank_parts_copurchase", "Iterative graph op: per-round edges joins a BROADCAST node-sized rank/degree table then one aggregate on dst; lineage checkpoint-bounded (plan reads ExistingRDD, not a 3x-unrolled tree); co-occurrence edges from ONE groupBy + in-task pair expansion, no fact self-join."),
    ("jaccard_prefix_join_docs", "Exact set-similarity join: prefix filtering on globally-RARE hashed shingles (the frequency ordering is the skew defense); integer threshold test; verification bounded by candidates."),
    ("dau_wau_stickiness", "Trailing-7-day distinct as bounded day-explode + equi-join and plain per-day aggregate - no range join, no unbounded window state."),
    ("vocab_truncate_docs", "Top-V vocab aggregate BROADCAST to the token stream; reassembly sorts (pos,token) structs inside one hash aggregate per doc."),
    ("curate_corpus_end_to_end", "Four curation stages composed without re-scans: filter at the source, one fingerprint aggregate, bucketed LSH + checkpoint-bounded components, two-phase budget cumsum."),
    ("hybrid_search_rrf", "All three RRF rankings two-phase (range exchange + pid-partitioned window + broadcast offsets); scored leaves checkpointed once - no unpartitioned corpus window, no recomputed BM25 subtree."),
    ("exact_percentiles", "Exact quantiles with NO buffering aggregate: range exchange on (key, value), per-(key,partition) local ranks, broadcast offsets, bounding-rank interpolation."),
    ("triangle_counts_parts", "Edge-iterator triangles: oriented out-neighborhoods packed per node (r10: the node-dimension pack is the ONLY checkpoint and the edge view re-derives from it map-only), closure via in-task array_intersect, all three credit classes emitted in ONE fused explode - the wedge set never becomes shuffle rows and the probe pipeline executes once."),
    ("entity_clusters_parts", "Collapse-exact entity resolution: fuzzy join + components over distinct-name representatives; parts inherit labels via a broadcast map."),
    ("bpe_train_merges_docs", "Iterative BPE: corpus collapses to the word-frequency aggregate up front; each merge round is vocabulary-sized windows + a 1-row broadcast argmax; lineage checkpoint-bounded per round."),
    ("tfidf_topk_docs", "tf/df hash aggregates, vocabulary-sized idf BROADCAST back, one doc-partitioned rank window - no global window, no corpus-side re-scan."),
    ("cms_heavy_hitters_events", "Count-min grid: the d-way fanout collapses in the map-side partial aggregate, so the exchange carries grid cells (<= d*w per task), never fact rows; point queries probe a BROADCAST grid."),
    ("pareto_frontier_parts", "Sort-based skyline: tier collapse, then the strict-prefix running max range-exchanges the TIER table (pid-partitioned window + broadcast prefix maxes) - no NOT-EXISTS self-join, no single-task window."),
    ("bfs_khop_parts", "Frontier BFS: each hop joins only the newly-reached node set against the edge list (ExistingRDD scans = checkpoint-bounded lineage); the visited union never re-joins."),
    ("ks_drift_orders", "Exact KS: two STACKED two-phase cumsums over one persisted range exchange (InMemoryRelation pins a single execution for every branch); the argmax is an ordinary aggregate, no global sort."),
    ("weighted_median_lineitem", "Weighted median with no per-group buffer: per-(key,value) weight collapse, persisted range exchange, pid-local weight cumsum + broadcast per-key offsets, crossing-value aggregate."),
    ("ppr_parts_seeded", "Personalized PageRank: per-round edges join a BROADCAST rank/degree table and a BROADCAST seed reset vector; lineage checkpoint-bounded like pagerank."),
    ("attribution_linear_events", "Multi-touch pairing as a chunk equi-join (purchases exploded to candidate days) over PRE-COLLAPSED weighted clicks - no theta range join, duplicates fold before the pairwise step."),
    ("encoding_advisor_lineitem", "Ordered run-length stats with NO global window: range exchange + pid-local change counts + a partitions-sized boundary reconciliation, x3 columns unioned."),
    ("hll_distinct_audit", "Own-impl HLL: register build partial-aggregates map-side (<= groups*256 rows per task); the estimate is exact-integer arithmetic until one shared double expression."),
    ("label_propagation_parts", "Fixed-round LPA: per round one edges-joins-labels hash join + (node,label) count aggregate (rows <= E) + node-partitioned argmax window; lineage checkpoint-bounded."),
    ("adamic_adar_parts", "SEEDED link prediction: the seed set broadcasts into the first hop so wedge expansion is |seeds|*avg_deg^2, never the global sum of C(deg,2); AA terms round-6 then sum as exact decimal."),
    ("pca_top_component_embeddings", "Power iteration on the exact integer Gram: corpus touched once (dim^2-cell mapInPandas build); each round is a dim^2-sized broadcast join with exact decimal matvec."),
    ("bootstrap_ci_lineitem", "Poisson bootstrap: ONE md5 per row split into 32 replicate draws by bijective affine mixing; weights projected once, 64 bigint partial aggregates, no explode, no Sample/rand."),
    ("covariance_matrix_embeddings", "Order-free Gram: quantized int64 per-block matmuls inside mapInPandas, decimal(38,0) cell sums - bit-identical under any partition layout."),
    ("pipeline_employee_data", "Round-7: declared-uniqueness hints elide every provably-identity DISTINCT (union-dedup, projection dedup, membership dedup, mart output dedup) on top of the round-6 shared actor checkpoint - 9 exchanges total, zero redundant ones."),
    ("simhash_hamming_pairs_collapsed", "Production simhash near-dup: sig-identical docs collapse to representatives with multiplicity BEFORE the 4x8-bit banded equi-join; popcount verify; no cartesian anywhere."),
    ("rerank_agreement_audit", "First stage one broadcast-query corpus scan; everything after bounded by the FIXED k=20 candidate set (windows/pair joins on 20 rows)."),
    ("ngram_novelty_batch", "Distinct-shingle anti-membership: one hash-partitioned left join on the shingle string; base set collapses map-side before the exchange."),
    ("curriculum_mixture_schedule", "Two scans: per-source totals, then membership via a 3-row epoch broadcast and an integer hash rule - no windows, no per-source skew."),
    ("hll_rollup_lattice", "One fine-grain register build (map-side MAX collapses to <= groups*256 rows), MAX-merged up the lattice; direct coarse registers bit-equal by commutativity."),
    ("rolling_revenue_range_frame", "RANGE frame over the per-(nation, day) aggregate - the window runs nation-partitioned on a calendar-bounded series, never over fact rows."),
    ("triplet_mining_embeddings", "5 anchors broadcast into one corpus scan; hardest positive/negative via round-6-score windows partitioned by anchor."),
    ("heaps_law_vocab_growth", "Value-based checkpoints (max_id*k/10): no global rank, no window; one vocab-sized first-occurrence frame x 10 broadcast checkpoints."),
    ("gopher_quality_filter_docs", "Rule battery = one token explode + two hash aggregates (both map-side combinable) + source rollup: zero joins, zero windows."),
    ("boilerplate_chunk_removal_docs", "Non-overlapping chunk explode (zero-shuffle codegen) -> fp aggregate -> hash join back -> per-doc rollup with bounded collect_list; no cartesian."),
    ("embedding_isotropy_audit", "mapInPandas integer Gram (dim^2-sized) + one dim-sized component-sum aggregate; all combines are broadcast 1-row joins."),
    ("cluster_safe_split_docs", "LSH pairs materialized ONCE feeding CC + both crossing audits; split is one hash expression; label join is the only extra shuffle."),
    ("cdc_apply_multi_clause_orders", "Full MERGE in one pass: one left equi-join on the key (delete filter + update coalesce inline) + one anti-join for inserts; no windows."),
    ("asof_forward_tolerance_events", "Forward as-of keeps the backward shape: one union + one per-key window scan with the time axis reversed; tolerance nulls the carried struct - never a theta-join."),
    ("semiadditive_balance_monthly", "Last-in-month via max_by; accounts x months spine from a BROADCAST months side; carry-forward window per account over <=|months| rows; dimension-sized throughout."),
    ("hierarchy_rollup_parts", "Recursion pre-folded: ancestor closure = one arithmetic explode (transform(sequence) digit truncations), then one aggregate - zero joins, zero iteration."),
    ("ndcg_retrieval_audit", "3 anchors broadcast into one corpus scan; graded candidates checkpointed once; DCG terms round-6'd then summed as int64 1e-6 units (order-free)."),
    ("t_closeness_audit_customers", "One (QI, segment) contingency materialized once; group/segment/grand totals + densify all cell-sized; exact cross-multiplied integers."),
    ("fair_interleave_topk_docs", "Within-source rank window partitioned by source; global cut plans as TakeOrderedAndProject (per-partition top-k + merge); position window only over the 40 survivors."),
    ("median_ci_lineitem", "Order-statistic selection through the two-phase global rank (range exchange + local rank + broadcast offsets); rank cutoffs broadcast from a 1-row aggregate."),
    ("hits_suppliers_parts", "Two unrolled HITS rounds as plain join+aggregate over the distinct bipartite edge list; per-role top-25 cuts plan as TakeOrderedAndProject; scores exact int64."),
    ("winnowing_fingerprints_docs", "Per-doc windows only (lead + bounded min-frame); fingerprint selection is the k-gram min inside a w-frame - no global window, no join before the final aggregate."),
    ("dsir_selection_docs", "Importance ratios from two hash-aggregate LMs joined back; the top-10% cut rides the two-phase global rank (rangepartitioning visible)."),
    ("wasserstein_drift_orders", "ECDF rank + BOTH cumulative counts through ONE fused range exchange (rank.global_prefix); ordered adjacency is an rn+1 equi-join, never a global window; breakpoint terms accumulate in decimal(38,0)."),
    ("shapley_source_valuation_docs", "One shingle-distinct corpus reduction to a <=31-row mask table; the 32-coalition algebra and Shapley weights are all broadcast joins over dimension-sized frames."),
    ("bradley_terry_brands", "Contests reduce map-side to the brand-pair matrix (in-task pair expansion over <=7-line baskets); both MM iterations are joins+ordered folds over dimension-sized frames."),
    ("frequent_triples_parts", "Cubic expansion in-task (flatten/transform over sorted per-order baskets, <=35 triples/order) - no 3-way fact self-join; top-20 cut is TakeOrderedAndProject."),
    ("km_survival_users", "Corpus reduces to the calendar day spine; the prefix PRODUCT folds inside ONE array (aggregate(slice)) - no exp/ln, no data-sized window."),
    ("quantile_normalize_embeddings", "Per-dim ranks = ONE two-phase global rank over (dim, value) + arithmetic dim*N offset - never a 64-partition window; profile join on the rank key."),
    ("cka_quantization_audit", "The only corpus-scale work is one mapInPandas block-matmul emitting three dim^2 Gram grids + column sums; centering, Frobenius folds and the final ratio are dim^2-bounded."),
    ("neardup_cluster_tightness", "Intra-cluster pair expansion bounded by the size-12 cluster cap; shingle-set frame materialized once; intersections via hash joins on (doc, shingle) rows - no cartesian."),
    ("linear_interp_user_hours", "No hour spine: per-gap interpolation sums aggregate analytically (arithmetic series) over OBSERVED rows only; all windows per-user."),
    ("substring_dup_spans_docs", "Exactly two data-sized exchanges: one on the char 16-gram (uniform key) for the duplicate-count window, one on doc_id whose single sort serves BOTH interval-merge windows; spans groupBy rides the doc partitioning."),
    ("retraction_ivm_orders", "Signed-multiplicity deltas from one base scan; ONE groupBy collapses the delta; the view merge is a co-partitioned full-outer on custkey - refresh cost |delta| + touched groups, never a base rescan."),
    ("tokenizer_fertility_drift", "Corpus touched once per vocab (word-frequency aggregate); both encodes are vocabulary-sized broadcast joins onto one corpus word explode - no corpus-scale shuffle repeats."),
    ("char_entropy_docs", "Char explode collapses map-side into (doc, char) counts before the ONE data-sized shuffle; the entropy fold runs inside a per-doc array (deterministic char order) - no second pass, no window."),
    ("length_bucketing_audit_docs", "Token counts are one scan-local expression; the only data-sized exchange is the two-phase global rank's range partitioning (no single-task sort); bucketing is closed-form rank arithmetic + one 4-group aggregate."),
    ("brier_decomposition_docs", "Corpus reduces to 10 calibration bins in one hash aggregate (map-side combinable); the Murphy terms fold bin-ordered arrays on a 1-row frame - every post-reduction op is broadcast-sized."),
    ("acf_ljungbox_daily", "One calendar-bounded day aggregate is the only data-sized work; centering, all 7 lag products and the Q fold run inside day-ordered arrays on a 1-row frame - no self-join per lag, no window."),
    ("mcnemar_rules_docs", "Both quality rules evaluate in ONE shared token-explode aggregate pass (conditional sums); the 2x2 discordant table and the statistic are a 1-row frame - zero joins of corpus-sized sides."),
    ("ab_power_sample_size_events", "Variant moments from one conditional aggregate over events; the z-quantile/power algebra is a 4-row literal-grid cross join against a broadcast 1-row stats frame - scan + one reduction, nothing else data-sized."),
    ("lcs_doc_pairs_docs", "Gram positions explode scan-locally; the hot-gram cap (corpus-frequency 2..16) bounds the equi-join fan-out to cap^2 per gram BEFORE pairs form; diagonal runs use a pair-keyed window - no suffix sort, no all-pairs."),
    ("lcs_doc_pairs_collapsed", "Production path: exact-fingerprint collapse to min-id representatives BEFORE the gram join kills the Sum|clone-family|^2 pair law (16x-replica probe 25.5x naive -> 1.1x collapsed); multiplicities re-expand pair counts."),
    ("contamination_wave_attribution_docs", "Eval index is eval-set-bounded and BROADCAST into the corpus-shingle scoring join; shingling is transform/sequence codegen (no window shuffle on the eval side); one doc-keyed aggregate ends it."),
    ("domain_calibration_drift_docs", "Corpus reduces once to (source, bin) counts (materialized, <= sources x 10 rows); both PAV minimax passes and the drift join are broadcast joins over that dimension-sized grid."),
    ("fuzzy_match_part_names", "Collapse-exact rewrite (r9): the Levenshtein fuzzy join runs over the NAME dimension (64 rows), not the 20k-part table - same-name matches resolve arithmetically (min/2nd-min partkey), the 49s/3.1M-pair naive self-join is gone (1.1s)."),
    ("source_overlap_matrix_docs", "Two fingerprint aggregates (exact + 8-word prefix) collapse the corpus; the matrix is a source x source join over per-(key, source) rows - 20-source-dimension bounded, never doc x doc."),
    ("flesch_readability_docs", "One scan: words/sentences/vowel-run counts are three regexp expressions inside codegen; the only exchange is the 20-row source rollup."),
    ("effective_token_mass_docs", "One fingerprint aggregate for clone-group sizes joined back on the uniform md5 key; the 1/min(s,12) weight is the exact integer 27720/min(s,12), so per-source mass is int64 partial sums - one division per output cell."),
    ("confident_noise_docs", "Two shared corpus reductions (logit features, Gopher labels) join on doc_id; class thresholds are a broadcast 1-row frame and every comparison cross-multiplies integers - no division enters a filter."),
    ("url_domain_dedup_docs", "Web-corpus domain audit: host/canonical extraction as codegen regexps, ONE hash shuffle on the registrable domain; blocklist is a literal predicate (broadcast join for a real list)."),
    ("crosslingual_neardup_collapsed", "Production cross-lingual near-dup: exact dups collapse per (fingerprint, lang) BEFORE the prefix-filtered set-similarity join (Sigma|clone|^2 law), multiplicities re-expand pair counts exactly."),
    ("kmeans_lloyd_embeddings", "Fixed-round Lloyd: assignment is map-only against k*dim literal centroids (zip_with/aggregate in codegen); recentering is one (k*dim)-row aggregate per round - no data-sized join anywhere."),
    ("kmv_overlap_sources", "KMV sketches: one distinct aggregate + two-phase grouped_topk k-mins (no per-source window); all 190 pairwise overlaps answered from a dimension-sized sketch self-join."),
    ("influence_selection_docs", "grouped_topk two-phase selection: map-side partial top-20 per (partition, source), bounded shuffle, posexplode rank - no WindowExec over corpus-sized partitions."),
]

def main() -> None:
    from imdb_metacritic_data_warehouse_spark.session import get_spark
    import imdb_metacritic_data_warehouse_spark.entry_queries as eq
    from imdb_metacritic_data_warehouse_spark.operators.materialize import plan_only

    spark = get_spark("plans", cpus=8)
    sf = "/root/testdata/sf0.001"

    print("# PLANS — physical-plan audit (generated; `local[8]`, sf0.001)")
    print()
    print("Evidence that the plans are the ones a 100 TB deployment wants —")
    print("regenerate with `python tools/gen_plans.py`.  Each section: the")
    print("scale-relevant property, then the executed plan (AQE initial).")
    for name, note in CASES:
        # plan audit only: materializations are skipped, so building
        # runs no materialization job and the plan is the whole tree
        with plan_only():
            df = eq.QUERIES[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = re.sub(r"file:[^,\]]*", "file:<path>", plan)
        plan = re.sub(r"#\d+[L]?", "", plan)
        lines = plan.splitlines()
        if len(lines) > 44:
            lines = lines[:44] + [f"  ... ({len(lines)-44} more lines)"]
        print(f"\n## {name}\n\n{note}\n\n```\n" + "\n".join(lines) + "\n```")


if __name__ == "__main__":
    main()
