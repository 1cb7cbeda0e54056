"""Regenerate PLANS.md: executed physical-plan audit of gated queries.

Runs each audited query to completion (noop sink) so the *post-AQE*
executed plan is captured — pre-action `.explain` hides final
exchange/broadcast decisions — then extracts the lines that prove the
scale property each query's docstring claims.

Usage: python tools/plan_audit.py [--sf /root/testdata/sf0.01]
       python tools/plan_audit.py --check   # exit 1 if PLANS.md is stale
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from convert_parquet_to_csv_spark import get_spark  # noqa: E402
from convert_parquet_to_csv_spark.plans import registry  # noqa: E402

CASES = {
    "q6_revenue_filter": "full predicate pushdown + column pruning",
    "q5_region_revenue": "star join: dims broadcast, single shuffled fact join",
    "asof_click_attribution": "as-of join: one exchange (union+window)",
    "error_click_pressure": "interval join: hash join on (key,bin), no nested loop",
    "user_event_gaps": "window/groupBy exchange reuse",
    "sample_exact_n_hash": "exact-n sample: TakeOrderedAndProject, no global sort",
    "convert_roundtrip": "scan->sink pipeline, no exchange",
    "dedup_exact": "exact dedup: one shuffle on the content hash",
    "similarity_topk_bruteforce": "ANN baseline: broadcast queries, no vector-table shuffle before top-k",
    "sessionize_events": "sessionization: lag->flag->running-sum->agg on one reused user_id exchange",
    "partition_pruned_scan": "partition pruning: PartitionFilters, single directory read",
    "range_layout_scan": "range layout: pushed range filter over disjoint-span files",
    "window_zoo_yearly_priority": "6 window functions, one shared sort",
    "hll_distinct_customers": "HLL: partial_hll_sketch_agg map-side, sketch reuse for global row",
    "kafka_roundtrip_events": "kafka envelope: JVM-side json roundtrip, partition-pruned dump scan",
    "disjunctive_filter_parts": "q19 shape: OR-of-ANDs factored into PushedFilters on BOTH scans",
    "promo_revenue_ratio": "q14 shape: broadcast dim join, single (year,month) shuffle",
    "curation_pipeline": "curation: per-doc features map-side, one fingerprint shuffle",
    # r8 wave-2/3/4 flagships: prove the docstring shapes from the
    # executed plans (doc-keyed exchanges only; broadcast model
    # table; no window anywhere in the removal family)
    "dedup_within_doc_repeats": "within-doc repeats: doc-keyed exchanges only, min(pos) groupBy, array-native reassembly, no window",
    "line_dedup_boilerplate": "line dedup: min-struct winner groupBy (no window), one line-keyed join, doc-keyed reassembly",
    "quality_classifier_linear": "linear classifier: weight table BROADCAST; only the (doc,bucket) exchange is corpus-volume — the rest are doc/id-scale aggregates and the distinct-id spine",
    "embedding_jl_projection": "JL projection: sign matrix broadcast, ONE id-keyed exchange, no spine join",
    # r9 flagships: prove the docstring shapes from the executed plans
    "dedup_maximal_extents": "maximal extents: suffix window PARTITIONED by the leading-gram hash (never single-partition), LCP as codegen'd zip_with (no UDF), doc-keyed suppression lag",
    "unigram_lm_encode": "unigram LM: ONE corpus exchange (word freq); vocab-scale piece agg; cost MAP built engine-side and broadcast (1-row close); Viterbi fold is a map-side projection over distinct words",
    "quality_classifier_train": "classifier train: counts persisted PRE-PARTITIONED on the doc id (one upfront exchange; every epoch's logits groupBy and gradient join reuse the cached distribution — the r11 2.8x fix); weight table broadcast into the logit join; epochs separated by bounded localCheckpoints (audited plan is the final update stage)",
    "paragraph_dedup_boilerplate": "paragraph dedup: same kernel as line dedup at the \\n{2,} knob — min-struct winner groupBy, paragraph-keyed join, doc-keyed reassembly, no window",
    # r9 wave-2 flagships
    "ngram_lm_perplexity": "bigram LM: ONE corpus exchange (map-side zip_with transitions -> per-doc bigram groupBy); bigram/context/V model tables roll up from it; one model-keyed scoring join; id-spine close",
    "wordpiece_encode": "WordPiece: ONE corpus exchange (word freq); vocab-scale piece ranking; 1-row broadcast piece map; greedy fold is a map-side projection over distinct words (the unigram plan shape)",
    "source_js_divergence": "JS divergence: ONE corpus exchange (source,token counts); token-keyed pair self-join bounded by vocab x K^2; per-source totals broadcast; K^2 pair spine restores disjoint pairs",
    "decontaminate_semantic": "semantic decontamination: benchmark folded to a 1-row broadcast array; corpus STREAMS through a map-side array_max(transform) scoring projection — zero corpus shuffles",
    "bm25_topk_docs": "BM25: ONE corpus exchange (doc,term tf); dl/df/idf roll up from it; query terms + idf broadcast into the postings; per-query WindowGroupLimit top-k",
    "bm25_rerank_topk": "hybrid retrieval: BM25 chain unchanged, then candidate + query-vector tables BROADCAST against embeddings (two map-side vector passes, no vector shuffle, no corpus-wide cosine), candidate-scale re-rank window",
    "dedup_maximal_extents_c3": "extents c>=3: lead(c-1) LCP + trailing ROWS max ride ONE per-gram window sort (total order), count>=3 hot filter cuts sorted volume below the c=2 plan",
    "decontaminate_exact_substr": "cross-set ExactSubstr: both sides union into per-gram windows, nearest-bench-neighbor carries on one total-order sort, cross-side hot filter bounds volume by the intersection footprint",
    "langid_line_segments": "line langid: explode + map-side marker scoring (no UDF), one (id, lang) partial-agg shuffle, doc-keyed close",
    "quality_classifier_holdout": "holdout calibration: the train chain's epoch exchanges on the parity-0 labels, apply's one corpus exchange, 1-row min/max close, 8-row aggregate vs the parity-1 labels",
    "dedup_minhash_incremental": "incremental minhash: all x NEW bucket join (batch-bounded candidates), candidate-pruned exact-Jaccard verify, min-partner groupBy — no corpus-wide pair fan-out",
    "bigram_lm_buckets": "bigram-LM buckets: the LM chain's one corpus exchange, then the ccnet tercile device — per-lang ntile on the md5-bit SAMPLE only, |langs|-row cutoff broadcast, CASE assignment",
    "events_daily_gapfill": "gap fill: spine explode bounded by keys x days, one daily-agg shuffle",
    "salted_join_revenue": "salted join: (key,salt) hash join, dim replicated map-side, result invariant",
    "funnel_view_click_purchase": "funnel: per-stage cohorts shrink; AQE broadcasts the cohort joins",
    "zorder_layout_scan": "z-order: 2-D predicate pushed to the clustered scan",
    "trailing_7d_window": "RANGE frame: one user_id exchange shared by both window functions",
    "doc_chunking": "chunking: explode fan-out with zero exchanges",
    "sample_weighted_docs": "weighted sample: TakeOrderedAndProject heap, no global sort",
    "sequence_packing": "packing: one single-partition window (verification flavor; part_col shards it) + one small groupBy",
    "split_train_val_test": "split: one stratified window shuffle, Bresenham dealing map-side",
    "table_profile_lineitem": "profile: ONE scan, count-distinct expand, map-side long-form pivot",
    "incremental_agg_refresh": "incremental refresh: two partial aggs merged, no full-table re-agg",
    "map_functions_zoo": "map zoo: ONE orderkey exchange shared by both groupBys (subset clustering)",
    "right_join_enrichment": "right outer: pre-agg'd left, preserved dim side, two exchanges total",
    "similarity_topk_lsh": "LSH: nested-literal signatures, broadcast query buckets, no vector-table shuffle before candidates",
    "dedup_minhash": "minhash: signature shuffle carries num_perm longs/doc (sets built in a candidate-pruned second pass), banded bucket self-join, candidate-bounded verify",
    "q4_order_priority": "q4: EXISTS as LEFT SEMI with non-equi conjunct, no per-row subquery",
    "q8_market_share": "q8: 5 broadcast dims, lone shuffled fact-fact join, CASE sums in one agg",
    "q13_customer_distribution": "q13: LEFT OUTER preserved, two-level agg",
    "q17_small_quantity_revenue": "q17: correlated scalar subquery decorrelated to per-part agg + join",
    "q21_suppliers_waiting": "q21: EXISTS/NOT-EXISTS as two groupBys on one reused orderkey exchange",
    "decontaminate_ngram_overlap": "decontamination (exact, hash-accelerated): bench gram strings DISTINCT+broadcast with slice hashes, training side joins on xxhash64(token slice) map-side (no corpus gram strings) + array-equality verify in-stage, one per-doc count shuffle",
    "distinctive_terms_tfidf": "tf-idf: (doc,term)/(term) partial-agg shuffles, 1-row corpus count broadcast, WindowGroupLimit top-k",
    "source_mix_temperature": "mixing: per-source agg broadcast back as targets, one per-source window shuffle",
    "arrow_vector_checksum": "mapInArrow: ArrowEvalPython-free batch op, zero exchanges",
    "dq_constraint_checks": "DQ: all row-level checks fused into one scan per table, FK checks as left-anti joins",
    "scd2_user_state_history": "SCD2: lag->filter->lead on ONE reused user_id exchange",
    "streaming_stream_join_live": "stream-stream join: watermarked interval join, state-evicting",
    "bigram_collocations_lift": "collocations: one posexplode, lead(token) window on one doc_id exchange (no token-stream self-join), unigram counts broadcast back",
    "q16_parts_supplier_relationship": "q16: distinct-pair derivation shuffle, broadcast part filter + anti denylist",
    "multi_touch_attribution": "attribution: binned interval join + one count window per purchase",
    "cohort_retention_matrix": "cohorts: two aggs + join reuse one user_id exchange",
    "q2_min_cost_supplier": "q2: scalar-MIN via single window pass, region dims broadcast, ONE partkey exchange, partsupp scanned once",
    "q11_important_stock": "q11: nation-filtered partsupp aggregated twice (per-part + 1-row total broadcast), no re-scan",
    "q20_potential_promotion": "q20: part filter broadcast, correlated qty agg decorrelated to one pair-key shuffle, semi-join to suppliers",
    "python_datasource_write_roundtrip": "python sink: BatchWrite over the custom writer, scan side unchanged",
    "sql_pipe_syntax": "pipe syntax: resolves to the classic plan — broadcast join + one-shuffle partial/final agg",
    "lateral_topn_per_nation": "LATERAL: decorrelated to WindowGroupLimit (partial top-3 BEFORE the exchange) + broadcast nation join, no per-row subquery",
    "collation_casefold_group": "collation: case folds inside one sort-agg on the collated key, single exchange",
    "ohlc_bars_events": "OHLC: open/high/low/close fused in one (event_type,day) aggregate, single exchange, no window pass",
    "ewma_trailing_value": "EWMA: one user_id exchange, bounded 20-row frame, codegen'd fold (no UDF)",
    "moment_stats_exact": "exact moments: two scans, two flag-key shuffles, per-group means BROADCAST back (no fact-stream join shuffle)",
    "observe_metrics_single_pass": "observe(): CollectMetrics piggybacks on the scan, no second aggregation pass over the table",
    "sparse_cosine_topk_pairs": "sparse cosine: term-key postings self-join bounded by df pruning, pair agg, one d1 window",
    "zscore_anomaly_events": "z-score: one user_id exchange, three frame aggregates share one window",
    "epoch_resample_replacement": "epoch resample: tiny targets broadcast back, explode map-side, one source-rank window",
    "weighted_median_price": "weighted median: (flag,price) pre-agg collapses duplicates before the flag-partition window",
    "winsorize_prices": "winsorize: percentile caps broadcast back, single pass over facts",
    "pareto_frontier_parts": "skyline: sweep window over the COLLAPSED distinct-price table, semi-join back to facts",
    "twohop_neighborhood_size": "2-hop: wedge join + distinct-union, hash-partitioned on node ids",
    "rolling_28d_active_users": "MAU: bounded x28 day-explode, one dedup + one day agg, bounds broadcast",
    "prefix_autocomplete_topk": "autocomplete: WindowGroupLimit partial top-k BEFORE the prefix exchange",
    "market_concentration_hhi": "HHI: broadcast dim join, two stacked aggs, integer power sums",
    "paginate_orders_page5": "pagination: TakeOrderedAndProject keeps offset+limit per task, no global sort",
    "dynamic_partition_pruning_join": "DPP: dynamicpruningexpression in the fact scan's PartitionFilters",
    "ab_experiment_readout": "A/B: one arm aggregate, two-phase distinct expand, md5 coin map-side",
    "ks_drift_ab_arms": "KS: tie pre-agg, global-order window over DISTINCT values only, broadcast totals",
    "correlation_exact": "corr: five power sums in ONE partial/final aggregate, single scan",
    "bucketed_join_no_exchange": "bucketed join: SortMergeJoin over two bucketed scans, ZERO Exchange anywhere in the join stage",
    "max_concurrent_intervals": "sweep-line: 2x union explode, ONE event_type window exchange, no interval self-join",
    "kmv_distinct_sketch": "KMV: per-group bottom-k windows on the DISTINCT-hash table, merge over <=groups*k pooled rows",
    "dedup_cluster_size_histogram": "dedup audit: fingerprint shuffle (shared with exact_dedup) + tiny size-histogram agg",
    "oov_rate_vs_topk_vocab": "OOV: one tokenize feeds vocab top-V and the scoring pass, vocab BROADCAST, no token-stream shuffle in the join",
    "char_trigram_familiarity": "trigram LM: one explode feeds corpus freq + scoring join, freq table broadcast (<=alphabet^3 keys)",
    "embedding_power_iteration_pc1": "power iteration: per-matvec broadcast of the 64-row vector, long table persisted pre-partitioned on vec_id (one upfront exchange reused by every groupBy/join), y/z persisted against the _requant double reference, DECIMAL(38) sums",
    "sql_parameterized_args": "parameterized SQL: bound literals reach PushedFilters exactly like hand-written ones",
    "source_language_prune": "source prune: per-source verdicts BROADCAST back, doc stream filtered map-side",
    "chisq_independence_cells": "chi-square: one (type,dow) agg collapses input, margin windows over the tiny cell table",
    "dow_seasonality_index": "seasonality: one weekday agg, 1-row total broadcast, fixed-point sums",
    "textfile_roundtrip": "text format: parallel line write + order-independent checksum agg",
    "compression_codec_roundtrip": "codecs: two layout copies aggregated + equality folded into the row set",
    "arrow_python_udf_tokens": "Arrow Python UDF: ArrowEvalPython batch transfer, filter pushed below the UDF",
    "tokenizer_fertility_by_lang": "fertility: one map-side agg, two JVM token counters, no Python boundary",
    "empty_input_semantics_zoo": "empty input: ungrouped agg yields 1 row, grouped yields 0 — both through one scan",
    "gdpr_erasure_cascade": "GDPR erasure: tiny erase list broadcast, per-table map-side anti-join, no fact shuffle",
    "dynamic_partition_overwrite": "dynamic overwrite: only incoming partitions replaced, partitioned readback scan",
    "join_hint_strategies": "join hints: same values under forced BHJ/SMJ/SHJ, operators plan-string asserted",
    "udtf_table_argument": "table-arg UDTF: ONE user_id exchange + in-partition sort feeding the Python instance stream",
    "band_join_nonequi": "non-equi band join: BroadcastNestedLoopJoin over the tiny band table, no shuffle",
    "not_in_null_trap": "NOT IN vs NOT EXISTS: null-aware BNLJ anti vs plain left-anti hash join, both in one plan",
    "max_drawdown_daily_value": "drawdown: daily pre-agg collapses input, running-max window + final agg share partitioning",
    "longest_daily_streak": "gaps-and-islands: distinct (user,day), one window + anchor groupBy, no self-join",
    "trimmed_mean_price": "trimmed mean: rank window + filtered agg on one status exchange",
    "order_to_ship_cycle_buckets": "cycle time: fact-fact orderkey join (AQE broadcast at this sf), integer bucket agg",
    "clamped_running_balance": "clamped fold: one user groupBy, recurrence inside codegen'd aggregate() — no Python",
    "wau_mau_stickiness": "stickiness: one (user,day) distinct feeds x7 and x28 bounded explodes, day-spine join",
    "doc_topic_projection": "sparse matmul: vocab-sized loading matrix broadcast, fact shuffles once on doc_id",
    "collapse_consecutive_events": "run collapse: one user_id window exchange, raw/collapsed aggs reuse it",
    "langid_confusion_matrix": "confusion: map-side score+predict, margins via windows over <=25 cells",
    "decile_lift_curve": "lift: global NTILE on one task (10-row report; approx-boundary path documented)",
    "survivorship_golden_record": "survivorship: same single fingerprint shuffle as exact_dedup, policy-ordered WindowGroupLimit",
    "rls_masked_view": "RLS view: policy inlined by Catalyst, filter predicates reach PushedFilters",
    "csv_adversarial_roundtrip": "CSV dialect: quoted multiLine readback (unsplittable by design), checksum agg",
    "interarrival_log2_histogram": "interarrival: one user_id lag window, bit-count bucket agg",
    "rollup_grouping_id_labels": "grouping_id: Expand feeds one aggregate; bitmask computed inside it",
    "decile_binning_mapside": "map-side deciles: two-level histogram-rank boundaries (no global sort of facts; the single-partition exchanges are the 1-row total / 9-value bounds aggs), boundaries broadcast as one array, bucket assigned in the scan projection",
    "agg_filter_zoo": "filtered aggs: count_if/FILTER/bool_* fused into ONE hash aggregate, no second scan",
    "forward_fill_ignore_nulls": "forward fill: one user_id window exchange, running last(ignorenulls) frame",
    "skewness_exact": "skewness: mean broadcast back, one deviation-sum aggregate, DECIMAL(38) power sums",
    "multimodal_audio_energy": "audio energy: hex/conv byte decode in codegen, two map-side-combined aggregates, zero Python",
    "max_records_per_file_cap": "file cap: capped CSV write + provenance readback, per-file audit broadcast into the row",
    "anova_f_between_status": "ANOVA: one pivoted aggregate collapses the table to a single row of integer sums",
    "asof_tolerance_attribution": "as-of tolerance: same single union+window exchange, gap filter afterward",
    "span_dedup_c4": "C4 span removal: shared tokenize, ONE 8-byte hashed-gram heavy-hitter shuffle (no gram strings shuffled), array-native reassembly — per-doc coverage arrays broadcast-joined back, the word stream is never exploded and never crosses an exchange",
    # r5: sections for every gate-prefix / r6-backlog query that lacked one
    "python_datasource_scan": "python source: BatchScan over the custom reader, partition-parallel arrow batches, filter stays above the scan (pushdown pinned off per-query via _conf_pinned)",
    "multimodal_resize_geometry": "resize: ONE MapInPandas batch seam straight over the media scan, zero exchanges before the Python boundary",
    "transpose_status_summary": "transpose: one-shuffle partial/final status aggregate collapses to 3 rows, then DataFrame.transpose's documented driver-side flip (LocalTableScan — report-layout op, aggregate input only)",
    "similarity_topk_ivf": "IVF: 16-centroid table broadcast (TakeOrdered sample), rank-1 list assignment + per-query nprobe lists via partial-before-exchange WindowGroupLimit, candidate join broadcast on list id, top-k WindowGroupLimit",
    "listagg_nations_by_region": "listagg: region dim broadcast join, ONE r_name exchange with partial_listagg map-side combine",
    "mom_revenue_growth": "MoM: one month-key agg shuffle collapses facts to calendar months; lag window over that bounded table (allowlisted single-partition readout)",
    "null_ordering_topk": "NULL-placement gate: two stacked rank windows on one sort (k=20 semantics readout, allowlisted; production form is TakeOrdered)",
    "audience_overlap_matrix": "overlap: (type,user) distinct pre-agg, pair join broadcast with type_a<type_b, per-type user counts broadcast back onto <=|types|^2 cells",
    "status_transition_matrix": "transitions: lag window on one custkey exchange, (prev,cur) count agg, row margins broadcast back over <=|status|^2 cells",
    "conversion_latency_percentiles": "latency: union+window as-of pairing on one user exchange, exact p50/p90 via two-phase (partial+final) percentile aggregate to a 1-row report",
    "ols_price_trend": "OLS: five power sums fused in ONE partial/final aggregate per flag, closed-form slope from the 1-row-per-flag table, single scan",
    "gini_order_value": "Gini: rank window + sum(i*v) ride ONE status exchange, integer fixed-point sums, no self-join",
    "cohort_ltv_curve": "LTV: first-order cohort aggregate broadcast onto orders, (cohort,age) agg, cumulative window reuses the cohort exchange",
    "rfm_segmentation": "RFM: one custkey aggregate collapses facts; three ntile windows over the per-customer table (dimension scale, allowlisted)",
    "basket_lift_part_pairs": "lift: distinct (order,part) pre-agg, orderkey-bucketed pair join with pa<pb, per-part counts broadcast back, 1-row basket total close, top-20 TakeOrdered",
    "abc_pareto_classification": "ABC: per-part agg collapses facts, cumulative-share window over the COLLAPSED part table (allowlisted), 1-row grand-total close",
    "new_vs_returning_revenue": "new-vs-returning: per-customer first-month aggregate broadcast onto orders, ONE (month,segment) agg shuffle",
    "label_centroid_distances": "centroids: posexplode to (label,pos) integer sums, label-pair comparison joined broadcast per position, DECIMAL(38) exact cross terms",
    "null_safe_join_semantics": "null-safe gate: plain equi-join drops NULL keys while <=> compiles to (coalesce,isnull) composite hash keys — still a hash join, never a nested loop",
    "surrogate_key_dimension": "surrogate keys: dense_rank over DISTINCT (source,lang) tuples (dimension scale, allowlisted), facts keyed via broadcast join back",
    "mode_per_group": "mode: (status,priority) count agg then rank-1 WindowGroupLimit with partial top-1 BEFORE the status exchange",
    "asof_forward_next_error": "forward as-of: union+window with DESC ordering and last(ignorenulls) lookahead on ONE user exchange (mirror of the backward as-of)",
    "inverted_index_postings": "postings: (term,doc) partial-agg shuffle, term-keyed list assembly with map-side partial_collect, one Generate explode of the token stream",
    "datetime_zoo": "datetime zoo: pure projection over a scan with the o_orderkey%101 filter pushed down, ZERO exchanges",
    "time_weighted_avg_value": "TWA: lead window on one user exchange, integer-us durations, DECIMAL(38) fixed-point v*dt sums, final agg rides the window exchange",
    "multimodal_features": "multimodal features: ONE MapInPandas batch seam over binary+meta, deterministic stub decode, range-partitioned ordered output",
    "decontaminate_ngram_overlap_hashed": "hashed decontamination: bench gram hashes DISTINCT+broadcast, training grams hashed map-side from token-slice arrays (no gram strings), one (doc,gram) distinct shuffle",
    "dedup_containment": "containment: one shingle self-join computes the unordered intersection; both ordered directions expand from that single join output; contained-side count join only",
    "dedup_winnow_fingerprints": "winnowing: positional gram hashes, ONE doc-partitioned range window (never single-partition) picks the rightmost-minimal hash, distinct rides the window exchange",
    "dedup_winnow_candidates": "winnow candidates: fp self-join over the ~2/(w+1)-density fingerprint index (never raw grams), pair-count agg with min-shared filter",
    "gopher_repetition_signals": "Gopher signals: ONE posexplode cross-expanded to 9 gram lengths, (doc,n,hash)->(doc,n)->(doc) aggregates all hash doc-prefixed keys; per-gram char length from prefix sums (no gram strings)",
    "gopher_quality_filter": "Gopher deck: scalar flags map-side in one scan; repetition flags join doc_id-keyed (AQE-broadcastable signal table)",
    "dsir_importance_weights": "DSIR: one (doc,bucket) partial-agg shuffle over the raw corpus, <=num_buckets log-ratio table broadcast into the scoring join, 1-row total closes",
    "dedup_semdedup_clustered": "SemDeDup: centroid table broadcast for assignment, cluster-bucketed (_list_id) self-join — candidates Sum|cluster|^2, never N^2; exact all-pairs appears only as the gate's documented baseline",
    "decontaminate_bloom": "Bloom screen: fixed-size bitset-word table (<=num_bits/64 rows) broadcast, training probes stream map-side, ONE (doc,gram) distinct + per-doc count shuffle — broadcast size independent of benchmark gram count",
    "dsir_token_budget_selection": "budget selection: 1-row min/max close -> exact integer bins, <=4096-row carry window (allowlisted dimension-scale), within-bin prefix windows PARTITIONED by bin — global-prefix semantics with no data-scale single-partition window",
    "modern_curation_pipeline": "composition: Gopher deck map-side + doc-prefixed agg shuffles -> one fingerprint dedup shuffle (WindowGroupLimit per _fp) -> Bloom bitset-word broadcast probe -> tiny per-source report; no new exchange classes beyond the gated stages",
    "dsir_stratified_source_budget": "per-group budget: the prefix window is PARTITIONED by source (one group-key window shuffle, no single-partition stage) on top of DSIR's one doc-bucket shuffle + broadcast ratio table",
    "dedup_url_canonical": "URL dedup: canonicalization pure map-side Column algebra, ONE partial-agg shuffle on the canonical key (no window, no join)",
    "url_domain_census": "domain census: two partial-agg shuffles (domain,canonical)->(domain), canonicalization map-side",
    "pack_concat_chunks": "concat packing: 1-row id min/max close -> integer id bins, <=num_bins carry window (allowlisted dimension-scale), within-bin offset windows PARTITIONED by bin, chunk-range explode bounded by tokens/ctx",
    "source_mixture_epochs": "mixture law: one (source) partial-agg shuffle, 1-row sqrt-micro total broadcast, pure integer Column algebra after — dimension scale past the first aggregate",
    "source_ngram_overlap": "source overlap: one (source, gram-hash) DISTINCT shuffle collapses corpus to source vocabularies; gram self-join + size joins all vocabulary-scale",
    # r11 flagships
    "cross_modal_consistency": "cross-modal CLIP score: media block-sum vector via nested HOFs map-side (no UDF, no per-byte explosion), ONE id-keyed equi-join to embeddings, per-pair cosine projection — no cross join, no vector shuffle beyond the id join",
    "decontaminate_exact_substr_incremental": "incremental xset: delta-gram broadcast bounds the new window pass, persisted-position merge is ONE (id,p)-keyed full outer join at contamination-footprint scale, re-aggregate as the base kernel — no union-scale window anywhere",
    # r12 flagships
    "multimodal_wav_energy": "WAV energy: binaryFile scan -> ONE MapInPandas batch seam (RIFF parse + numpy frame sums), zero exchanges before or after the Python boundary",
    "quality_classifier_noise": "noisy-label train: the train chain's plan with the md5 flip as a map-side projection on the label table — counts persisted pre-partitioned on id, weight table broadcast, epoch exchanges unchanged",
}

KEY_MARKERS = (
    "Exchange", "Broadcast", "Join", "Scan", "TakeOrdered", "Window",
    "HashAggregate", "PushedFilters", "ReadSchema", "PartitionFilters",
    "Sort ",
)

# Volatile plan tokens normalized before writing PLANS.md (VERDICT r9
# item 7): expression ids (#123) and plan_id counters are GLOBAL
# session counters, so registering one new query used to shift every
# subsequent section's ids and each audit run rewrote ~3k lines; tmp
# fixture paths change every run. Normalizing makes a no-op re-run a
# zero diff, so real plan changes surface in review. Order matters:
# normalize BEFORE the 150-char truncation, otherwise id-width drift
# moves the truncation boundary.
_VOLATILE = (
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"(?:file:)?/tmp/[^\s,\]\)]+"), "/tmp/_"),
    (re.compile(r"(?:file:)?\S*/spark-warehouse/[^\s,\]\)]+"), "warehouse/_"),
    # r11: two more GLOBAL session counters the r10 pass missed —
    # subexpression-elimination aliases (_common_expr_NN) and
    # higher-order-function lambda variables (lambda x_NNN / the
    # bare x_NNN references inside the lambda body). Both shift for
    # every later section when one new query registers, exactly the
    # expr-id churn class.
    (re.compile(r"_common_expr_\d+"), "_common_expr_#"),
    (re.compile(r"\bx_\d+"), "x_#"),
)


def _split_top_level(inner: str) -> list[str]:
    parts, depth, cur = [], 0, []
    for ch in inner:
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


def _sort_balanced(s: str, opener: str, close: str,
                   keep_last: bool) -> str:
    # Catalyst emits grouping-set aggregate keys (and the matching
    # hashpartitioning args) in hash-set order — nondeterministic
    # across runs (observed: table_profile_lineitem). Sorting the
    # top-level entries makes the rendered line stable without losing
    # information: the key SET is what the audit proves, not key
    # order. Balanced scan, not regex — entries nest parens
    # (knownfloatingpointnormalized(normalizenanandzero(x))).
    out, i, op = [], 0, opener[-1]
    pair = {"(": ")", "[": "]"}[op]
    while True:
        j = s.find(opener, i)
        if j < 0:
            out.append(s[i:])
            return "".join(out)
        out.append(s[i : j + len(opener)])
        depth, k = 1, j + len(opener)
        while k < len(s) and depth:
            if s[k] == op:
                depth += 1
            elif s[k] == pair:
                depth -= 1
            k += 1
        if depth:  # unbalanced (already-truncated line): leave as-is
            out.append(s[j + len(opener):])
            return "".join(out)
        parts = _split_top_level(s[j + len(opener) : k - 1])
        if keep_last:  # hashpartitioning: last arg = npartitions
            parts = sorted(parts[:-1]) + parts[-1:]
        else:
            parts = sorted(parts)
        out.append(", ".join(parts) + close)
        i = k
    # unreachable


def stabilize_plan_line(s: str) -> str:
    for rx, rep in _VOLATILE:
        s = rx.sub(rep, s)
    s = _sort_balanced(s, "keys=[", "]", keep_last=False)
    s = _sort_balanced(s, "hashpartitioning(", ")", keep_last=True)
    return s


# Nodes that mean the next Exchange belongs to a different subtree —
# stop scanning. Any repartitioning Exchange also terminates: a
# Window fed by a hash/range exchange is the partitioned (good) case.
# Everything else (Sort, WholeStageCodegen/InputAdapter wrappers,
# AQEShuffleRead/ShuffleQueryStage, Project/Filter) is scanned past —
# ADVICE r4: the old fixed 3-line lookahead silently failed open when
# AQE inserted AQEShuffleRead between Sort and the Exchange.
_WINDOW_BREAKERS = (
    "Join", "HashAggregate", "SortAggregate", "ObjectHashAggregate",
    "FileScan", "Scan ", "ReusedExchange", "Exchange hashpartitioning",
    "Exchange rangepartitioning", "Union", "Expand", "Generate",
    "LocalTableScan",
)


def single_partition_window(plan: str) -> bool:
    """True if the executed plan contains a Window (or group-limit)
    node fed by an Exchange SinglePartition — the plan-level truth
    behind Spark's `WindowExec: No Partition Defined ... single
    partition` log warning (VERDICT r3 item 5). Scans downward from
    each Window through partitioning-preserving nodes until it hits
    the feeding Exchange or a subtree-breaking node (no fixed
    lookahead — AQE wrapper nodes are passed through)."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Window" not in line:
            continue
        # 12-line cap: enough for the longest observed AQE wrapper
        # chain (Window → Sort → WSCG → InputAdapter → AQEShuffleRead
        # → ShuffleQueryStage → Exchange) while keeping a far-away
        # unrelated subtree's SinglePartition exchange from
        # false-positive matching. Unknown nodes are scanned past
        # (conservative: prefer a false flag + allowlist entry over
        # failing open).
        for j in range(i + 1, min(i + 13, len(lines))):
            s = lines[j]
            if "Exchange SinglePartition" in s:
                return True
            if any(k in s for k in _WINDOW_BREAKERS):
                break
    return False


def loop_join_nodes(plan: str) -> list[str]:
    """Offending unbounded-join nodes (VERDICT r4 item 6): every
    `CartesianProduct` and `BroadcastNestedLoopJoin` line in the
    executed plan. At 100 TB either node is O(left x right) compute
    unless one side is a bounded (1-row / dimension-scale) aggregate
    — queries where that holds are allowlisted with justification in
    `tools/loop_join_allowlist.json`."""
    return [
        line.strip()
        for line in plan.splitlines()
        if "CartesianProduct" in line or "BroadcastNestedLoopJoin" in line
    ]

HEADER = """# PLANS — executed physical-plan audit (sf0.01, local[4])

Machine-generated by `tools/plan_audit.py` (re-run to refresh). Each section
shows the *executed* plan (post-AQE) for a gated query, trimmed to the lines
that prove the scale property claimed in its docstring.

Why executed plans: `.explain("formatted")` before an action shows the
pre-AQE skeleton and hides final exchange/broadcast decisions.

Expression ids (`#_`), `plan_id=_`, and tmp fixture paths are
normalized so a no-op re-run produces a zero diff.
"""

PLANS_MD = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
)


def plan_sections(text: str) -> dict[str, str]:
    """PLANS.md text → {section name: section text}, trailing space
    stripped so a section compares equal wherever it sits in the file."""
    parts = ("\n" + text).split("\n## ")
    return {p.split("\n", 1)[0].strip(): p.rstrip() for p in parts[1:]}


def stale_sections(
    committed: str, fresh: str, names: list[str], full: bool
) -> list[str]:
    """Names whose committed section is missing or differs from the
    fresh one; with ``full``, also committed sections no case generates."""
    old, new = plan_sections(committed), plan_sections(fresh)
    stale = [n for n in names if old.get(n) != new.get(n)]
    if full:
        stale += sorted(set(old) - set(new))
    return stale


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--skip-window-audit",
        action="store_true",
        help="only regenerate PLANS.md sections (CASES), skip the "
        "full-registry single-partition-window audit",
    )
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated CASES subset to regenerate (implies "
        "sections-only); used by the PLANS.md freshness canary test",
    )
    ap.add_argument(
        "--out",
        default=None,
        help="write sections to this path instead of PLANS.md "
        "(freshness comparison without touching the committed file)",
    )
    ap.add_argument(
        "--check",
        action="store_true",
        help="regenerate the sections (all CASES, or --only) without "
        "writing PLANS.md, print the names of stale PLANS.md sections "
        "and exit 1 if there are any (implies sections-only; --out "
        "keeps the fresh copy)",
    )
    args = ap.parse_args()
    if args.check:
        args.skip_window_audit = True
    if args.only:
        args.skip_window_audit = True
        if not args.out and not args.check:
            raise SystemExit(
                "--only without --out would overwrite PLANS.md with "
                "a PARTIAL file; pass --out"
            )

    registry.load_all()
    spark = get_spark(
        app_name="plan-audit",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )

    # Which queries does the window audit sweep? Every registered one
    # (any of them can be driver-gated under prefix rotation), not
    # just the PLANS.md CASES subset.
    audit_names = (
        list(CASES) if args.skip_window_audit else list(registry.QUERIES)
    )
    if args.only:
        wanted = [n.strip() for n in args.only.split(",") if n.strip()]
        unknown = [n for n in wanted if n not in CASES]
        if unknown:
            raise SystemExit(f"--only names not in CASES: {unknown}")
        audit_names = wanted
    tools_dir = os.path.dirname(os.path.abspath(__file__))
    import json

    with open(
        os.path.join(tools_dir, "single_partition_window_allowlist.json")
    ) as f:
        allowlist: dict[str, str] = json.load(f)
    with open(os.path.join(tools_dir, "loop_join_allowlist.json")) as f:
        loop_allow: dict[str, str] = json.load(f)
    with open(
        os.path.join(tools_dir, "collect_site_allowlist.json")
    ) as f:
        collect_allow: dict[str, str] = json.load(f)

    # Driver-side collect audit (VERDICT r4 item 6): intercept every
    # DataFrame.collect() issued while building/running a registered
    # query and fail on call sites outside the allowlist — the
    # plan-string audits can't see driver-side actions, and a
    # data-proportional collect is the one scale sin Catalyst can't
    # save you from. Sites are keyed by repo-relative file path (line
    # numbers drift); each allowlisted file documents why its
    # collects are bounded.
    # Patch the CLASSIC subclass, not the pyspark.sql.DataFrame base:
    # Spark 4 classic DataFrames override collect() in their own
    # class, so a base-class patch silently intercepts nothing.
    from pyspark.sql.classic.dataframe import DataFrame

    repo_root = os.path.dirname(tools_dir)
    collect_log: list[tuple[str, str, int]] = []
    current: list[str] = ["<none>"]
    orig_collect = DataFrame.collect

    def audited_collect(self):
        import traceback

        site = "<outside-repo>"
        for fr in reversed(traceback.extract_stack()[:-1]):
            if repo_root in fr.filename and "/tools/" not in fr.filename:
                site = os.path.relpath(fr.filename, repo_root)
                break
        rows = orig_collect(self)
        collect_log.append((current[0], site, len(rows)))
        return rows

    if not args.skip_window_audit:
        DataFrame.collect = audited_collect

    offenders: list[str] = []
    loop_offenders: dict[str, list[str]] = {}
    seen_loop: set[str] = set()
    seen_single: set[str] = set()
    # sections keyed by name and written in CASES order at the end:
    # the full sweep iterates registry order while --skip-window-audit
    # iterates CASES order, and emitting in iteration order made the
    # two modes produce differently-ORDERED files — a whole-file
    # reorder diff on every mode switch (the last churn source after
    # the token normalization).
    section_by_name: dict[str, str] = {}
    for name in audit_names:
        claim = CASES.get(name)
        current[0] = name
        df = registry.QUERIES[name](spark, args.sf)
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            spark.catalog.clearCache()
        plan = df._jdf.queryExecution().executedPlan().toString()
        if not args.skip_window_audit and single_partition_window(plan):
            seen_single.add(name)
            if name not in allowlist:
                offenders.append(name)
        if not args.skip_window_audit:
            nodes = loop_join_nodes(plan)
            if nodes:
                seen_loop.add(name)
                if name not in loop_allow:
                    loop_offenders[name] = nodes[:2]
        if claim is None:
            continue
        keep = []
        for line in plan.splitlines():
            s = line.rstrip()
            if any(k in s for k in KEY_MARKERS):
                s = stabilize_plan_line(s)
                if len(s) > 150:
                    s = s[:147] + "..."
                keep.append(s)
        n_hash = plan.count("Exchange hashpartitioning")
        n_range = plan.count("Exchange rangepartitioning")
        n_single = plan.count("Exchange SinglePartition")
        n_ex = n_hash + n_range + n_single
        detail = ", ".join(
            f"{n} {kind}"
            for n, kind in (
                (n_hash, "hash"),
                (n_range, "range"),
                (n_single, "single-partition"),
            )
            if n
        )
        ex = f"**{n_ex}**" + (f" ({detail})" if detail else "")
        section_by_name[name] = (
            f"## {name}\n\n*Claim: {claim}.* Exchanges: {ex}\n\n"
            "```\n" + "\n".join(keep[:18]) + "\n```\n"
        )
    sections = [HEADER] + [
        section_by_name[n] for n in CASES if n in section_by_name
    ]
    fresh = "\n".join(sections)
    out = args.out or (None if args.check else PLANS_MD)
    if out:
        with open(out, "w") as f:
            f.write(fresh)
        print(f"wrote {out} ({len(sections) - 1} sections)")

    if args.check:
        with open(PLANS_MD) as f:
            committed = f.read()
        stale = stale_sections(committed, fresh, audit_names, not args.only)
        for n in stale:
            print(f"STALE: {n}")
        if stale:
            raise SystemExit(
                f"PLANS.md: {len(stale)} stale section(s) — regenerate "
                "with python tools/plan_audit.py"
            )
        print(f"PLANS.md: {len(audit_names)} sections fresh")

    if not args.skip_window_audit:
        DataFrame.collect = orig_collect
        failed = False
        stale = sorted(set(allowlist) - seen_single)
        print(
            f"window audit: {len(seen_single)} queries with a "
            f"single-partition window, {len(allowlist)} allowlisted"
        )
        if stale:
            print(
                "STALE allowlist entries (no longer trigger — prune "
                f"them): {stale}"
            )
        if offenders:
            print(
                "FAIL: unallowlisted single-partition Window on a "
                f"gated query: {sorted(offenders)}"
            )
            failed = True

        stale_loop = sorted(set(loop_allow) - seen_loop)
        print(
            f"loop-join audit: {len(seen_loop)} queries with a "
            f"CartesianProduct/BroadcastNestedLoopJoin, "
            f"{len(loop_allow)} allowlisted"
        )
        if stale_loop:
            print(
                "STALE loop-join allowlist entries (no longer "
                f"trigger — prune them): {stale_loop}"
            )
        if loop_offenders:
            print(
                "FAIL: unallowlisted unbounded join node: "
                + "; ".join(
                    f"{n}: {lines}"
                    for n, lines in sorted(loop_offenders.items())
                )
            )
            failed = True

        bad_collects = sorted(
            {
                (q, site, rows)
                for q, site, rows in collect_log
                if site not in collect_allow
            }
        )
        seen_sites = {s for _, s, _ in collect_log}
        stale_collect = sorted(set(collect_allow) - seen_sites)
        print(
            f"collect audit: {len(collect_log)} driver-side collects "
            f"from {len(seen_sites)} sites, "
            f"{len(collect_allow)} sites allowlisted"
        )
        if stale_collect:
            print(
                "STALE collect-site allowlist entries (no audited "
                f"query collects there — prune them): {stale_collect}"
            )
        if bad_collects:
            print(
                "FAIL: unallowlisted driver-side collect(): "
                + "; ".join(
                    f"{q} via {site} ({rows} rows)"
                    for q, site, rows in bad_collects
                )
            )
            failed = True
        if failed:
            raise SystemExit(1)
        print("plan audit: PASS (windows, loop joins, collects)")


if __name__ == "__main__":
    main()
