"""Central query registry backing ``__spark_entry__.py``.

Every operator from SURVEY.md §2B registers itself here as a ``Query``:
a named Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) the equivalent DuckDB oracle SQL. The
driver's t2 gate runs both sides at sf0.01 and hash-compares.

Determinism contract baked into every registered query (SURVEY §2B):
  * alias every computed column, identically in Spark and SQL;
  * ROUND(..., n) every floating aggregate on both sides, summing over
    DECIMAL where order-of-addition could flip a rounding boundary;
  * cast timestamps to DATE or STRING in outputs;
  * include a unique key in every ORDER BY that feeds a LIMIT / rank.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame callable."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


# Round-1/2 lesson (VERDICT.md): the driver checks exactly the FIRST 50
# registry entries per round, in insertion order.  Each round the window
# MUST rotate: lead with every query lacking a green driver CORRECTNESS
# row (new this round or red last round), then backfill with the greens
# whose last driver check is oldest, so staleness is bounded.
#
# Window policy: (a) new this-round ops go first as they are added;
# (b) then every query whose oracle or implementation CHANGED since its
# last driver-green round, so the driver re-proves the new arithmetic —
# "changed" is mechanical: tools/oracle_ledger.json records a source
# hash per query at its last driver-green, and tests/test_registry.py
# fails if a changed/unledgered query sits outside the first 50;
# (c) then backfill oldest-first — hash-proven greens whose last driver
# check is stalest. Rows-only-by-design ops (x_ann_*,
# x_simhash_neardup, d16/d40/d41/d43) are excluded from backfill:
# their driver row is only rows>0, the weakest re-proof, and their
# contracts are pinned by recall/stream==batch pytest suites.
# If the list exceeds 50, the tail (youngest backfill) rotates out and
# returns next round.
_FRONT_50 = [
    # ---- Round-15 window (VERDICT r14 #2: apply the r14 stamps,
    # rotate the stale-stamp head — two r9 names then the r10 cohort —
    # and refresh the r8 rows-only five, the ledger's oldest stamps,
    # hand-placed per the no-sentinel rule) ----------------------------
    # (a) new in round 15 — never driver-checked (the one-op budget,
    # VERDICT r14 #1: cluster-label RETRACTION — localized re-CC over
    # tombstone-touched components, the split maintenance the
    # merge-only quotient update cannot express):
    "x_cluster_label_retract",
    # also new in round 15: the text-index lifecycle pair (gate +
    # compactor, the family symmetry x_inverted_index lacked — every
    # other index family already had incremental maintenance:
    # dedup/neardup/ANN). Added after the bracket was recorded; they
    # displace the 2 youngest backfill names
    # (x_stream_stateful_counts, x_stream_static_join — both r10,
    # return next round):
    "x_incremental_index", "x_index_compaction",
    # and the READ path that completes the lifecycle (write -> GC ->
    # serve): BM25 through the base+delta overlay, pinned equal to a
    # from-scratch reindex of the surviving corpus (displacing
    # x_stream_outer_join — r10, returns next round):
    "x_index_overlay_search",
    # the vector twin of that read path (ANN lifecycle write -> GC ->
    # serve): cosine top-3 through the IVF base + tombstones + the
    # gate's admitted flat buffer, pinned equal to exact top-k over
    # the surviving corpus (displacing x_grouping_sets — r10, returns
    # next round):
    "x_ann_overlay_search",
    # changed with it: the gate's IVF ledger build is now the shared
    # _ensure_ann_ledger (one session geometry for gate and overlay) —
    # same plan, same ledger bytes, but x_incremental_ann's source
    # hash flips, and x_ivf_compaction transitively runs the moved
    # build so it is hand-sentineled per the shared-helper convention
    # (displacing x_eval_contamination and x_cohort_retention — both
    # r10, return next round):
    "x_incremental_ann", "x_ivf_compaction",
    # changed with them (r15 post-bracket review): x_inverted_index now
    # reads the shared _postings helper, and x_bm25_score /
    # x_rrf_fusion the shared _bm25_term_score arithmetic (one copy of
    # the DECIMAL(18,8)-pinned formula on both sides of the oracle
    # boundary) — same plans, hash-identical output, but the source
    # hashes flip, so the driver re-proves all three (displacing
    # x_stream_session_timeout, x_linear_probe_fit, x_record_linkage —
    # r10, return next round):
    "x_inverted_index", "x_bm25_score", "x_rrf_fusion",
    # rows-only refresh (VERDICT r14 #2): the r8-stamped five — oldest
    # stamps in the ledger; code unchanged, so no sentinel —
    # hand-placed, displacing the five youngest backfill names
    # (x_tpch_q3_shipping, x_tpch_q5_local_supplier, x_unpivot,
    # x_url_canonicalize, x_variant_json — all r10, return next round):
    "d16_approx_count_distinct", "d43_minhash_lsh",
    "x_ann_ivf_topk", "x_ann_lsh_topk", "x_simhash_neardup",
    # (b) changed since the round-16 window: the cogroup's bucket count
    # derives from input bytes, floored at the shuffle partitions (was
    # a fixed 1,024 — per-bucket Python dispatch was the query's cost);
    # hash-identical at sf0.001/sf0.01. Displaces d12_star_join
    # (unchanged r16 green, returns next round):
    "x_cogroup_reconcile",
    # (b) changed in round 15 — _min_label_cc gained a failure-path
    # guard + comment; per the shared-helper convention its callers
    # are ledger-sentineled by hand and the driver re-proves them
    # (displacing the 4 youngest backfill names —
    # x_stream_stream_join, x_stream_tws_sessions, x_time_rollup,
    # x_time_weighted_avg — all r10, return next round):
    "x_cluster_label_update", "x_dedup_clusters",
    "x_dedup_report", "x_neardup_survivors",
    # (b') changed in round 15 (OPTIMIZATION round): the streaming
    # stateful family's fn sources changed when _run_to_memory gained
    # the input-derived state-partition pin (spark_optimization_guide
    # §2 — scale-adaptive partitioning; results are partition-count
    # invariant and the oracles re-prove it). d40/d41 changed too but
    # already sit in the backfill cohort below. Displaces the 8
    # youngest backfill names (x_asof_join, x_asof_join_tolerance,
    # x_auc_score, x_bloom_prefilter_prod, d42_exact_dedup,
    # d44_cosine_topk, d45_token_counts, d50_pipeline_flagship — all
    # unchanged and green; return next round):
    "x_stream_outer_join", "x_stream_session_timeout",
    "x_stream_stateful_counts", "x_stream_static_join",
    "x_stream_stream_join", "x_stream_tws_counts",
    "x_stream_tws_sessions", "x_stream_upsert",
    # (b'') changed in round 15 (OPTIMIZATION round): the winnowing
    # selection now runs ONCE (explode carries n_grams; shared-fp
    # counts via count-over-window by fp instead of the
    # aggregate-then-self-join — guide §2.4), hash-identical at
    # sf0.001/sf0.01; displaces d27_string_fns (unchanged, r10,
    # returns next round):
    "x_winnowing_fingerprint",
    # (b''') changed in round 15 (OPTIMIZATION round): same §2.4
    # restructure for the 5-gram contamination score (gram pass ran
    # twice via the broadcast shared-gram join; now once via
    # count-over-window by g), hash-identical at sf0.001/sf0.01;
    # displaces d24_running_sum (unchanged, r10, returns next round):
    "x_duplicate_ngram_fraction",
    # (b'''') changed in round 15 (OPTIMIZATION round): the same §2.4
    # single-pass restructure applied to the rest of the
    # aggregate-then-join-back family — bigram surprisal counts via
    # count-over-window by b (+ an explode-free total branch), the two
    # segment scrubs via min-struct / collect_set-size over seg_text
    # windows, and the flagship's exact-dup keeper via min-over-window
    # by content hash. All hash-identical at sf0.001/sf0.01; displace
    # the 4 youngest unchanged backfill names (d17_rollup, d18_having,
    # d20_limit_topk, d21_topk_per_group — all r10, return next round):
    "x_lm_surprisal_score", "x_segment_dedup_scrub",
    "x_boilerplate_scrub", "x_corpus_filter_pipeline",
    # (b''''') changed in round 15 (OPTIMIZATION round) by the
    # interrupted session's last two commits, rotated in here when the
    # window guard flagged them at round resume (the mid-build red this
    # round inherited): the one-pass cross-source leakage restructure,
    # the CC-loop job-count cut (x_semdedup rode the same commit —
    # assignment join dropped), the staged recursive-CTE edge table,
    # and pagerank's persisted out-degree table. All hash-green at
    # sf0.001/sf0.01 (x_semdedup rows-only, collect-compared at three
    # SFs); displace the 4 youngest unchanged backfill names
    # (d11_left_anti_join, d13_theta_join, d14_hash_agg_q1,
    # d15_count_distinct — all r10, return next round):
    "x_cross_source_leakage", "x_pagerank",
    "x_recursive_cte", "x_semdedup",
    # (b'''''') changed in round 15 (OPTIMIZATION round), second sweep
    # of the same §2.4 family: ccnet's embedded surprisal score (the
    # same three-explode shape x_lm_surprisal_score carried) and the
    # novelty curve's first-occurrence join-back. Hash-green at
    # sf0.001/sf0.01; displace the 2 youngest unchanged backfill names
    # (d09_left_outer_join, d10_left_semi_join — r10, return next
    # round):
    "x_ccnet_buckets", "x_ngram_novelty_curve",
    # (b''''''') changed in round 15 (OPTIMIZATION round): the corners
    # union re-ran the wedge joins (the op's super-linear term) once
    # per corner column — now one explode over a single tri evaluation.
    # Hash-green at sf0.001/sf0.01, 3.7x at sf0.1; displaces
    # d08_broadcast_join (unchanged r10 green, plan-pinned by
    # test_plans regardless, returns next round):
    "x_triangle_count",
    # (c) backfill oldest-stamp-first: the r9 tail (2 names), then the
    # head of the r10 cohort in next_window.py's mechanical order
    # (d12_star_join rides along — its r15 driver number feeds the
    # VERDICT r14 "what's wrong #3" adjudication):
    "x_text_normalize", "x_transpose_stats",
    "d03_filter", "d04_regex_ext_filter", "d05_distinct",
    "d06_keyed_dedup", "d07_inner_join",
    "d40_stream_watermark", "d41_stream_dedup",
]

_FRONT_50_R14 = [
    # ---- Round-14 window (retired; kept for the ledger audit trail)
    # (VERDICT r13 #2: apply the r13 stamps and
    # clear the r8 cohort — the 12 r8-stamped names lead the backfill —
    # plus x_tokenizer_fertility, the ledger's oldest stamp (r7,
    # rows-only, hand-placed per the no-sentinel rule)) ----------------
    "x_cluster_label_update",
    "x_dedup_clusters",
    "x_dedup_report",
    "x_neardup_survivors",
    "x_embedding_pq",
    "x_tokenizer_fertility",
    "x_quantile_normalize", "x_rrf_fusion", "x_spearman_corr",
    "x_sql_udf", "x_sql_variable", "x_token_budget_select",
    "x_winsorize",
    "d01_parquet_scan", "d02_projection", "d37_sessionization",
    "x_array_agg_sorted", "x_arrow_udtf", "x_bloom_prefilter",
    "x_bm25_score", "x_calibration_bins", "x_corr_scalar_subquery",
    "x_decontaminate", "x_domain_stats", "x_duplicate_ngram_fraction",
    "x_explode_outer", "x_frame_sample", "x_from_json_struct",
    "x_gap_fill", "x_global_agg", "x_gopher_rules",
    "x_incremental_dedup", "x_interval_join_bucketed",
    "x_keyness_tokens", "x_map_fns2", "x_media_resize",
    "x_minhash_containment", "x_mixture_sample", "x_nullsafe_join",
    "x_percentiles", "x_pii_scrub", "x_python_udtf",
    "x_repetition_filter", "x_sequence_pack", "x_session_window",
    "x_skew_salted_agg", "x_skew_salted_join", "x_stats_moments",
    "x_stream_tws_counts", "x_string_fns2",
]

_FRONT_50_R13 = [
    # ---- Round-13 window (retired; kept for the ledger audit trail)
    # (VERDICT r12 #2: apply the r12 stamps, then
    # refresh the r6 rows-only cohort and clear the r7 cohort + the
    # head of r8. No new ops this round — the budget went to the
    # census-heavy rewrites, which force themselves in as "changed") --
    # (a) new in round 13 — never driver-checked (the one-op budget,
    # VERDICT r12 #8: the MinHash maintenance sibling of r12's IVF
    # compactor, completing the gate/compactor symmetry):
    "x_neardup_compaction",
    # (b) changed in round 13 — the driver must re-prove the new code
    # (x_bpe_train / x_bpe_apply / x_ivf_compaction are shared-helper
    # callers, hand-sentineled per the ledger's --mark-changed rule):
    "x_incremental_neardup",      # ledger_dir replay param + extracted base-build helper
    "x_ppjoin_setsim",            # dedup-first + size-bucketed prefix join (VERDICT r12 #1)
    "x_cogroup_reconcile",        # hash bucket key replaces sparse modulus (ADVICE r12)
    "x_embedding_pq",             # sample-trained numpy Lloyd + one Arrow encode/ADC pass (VERDICT r12 #3)
    "x_bpe_apply",                # adaptive driver-side merge loop under vocab cap (VERDICT r12 #3)
    "x_bpe_train",                # same _train_merges change
    "x_incremental_ann",          # ledger_dir .built sentinel fail-fast (ADVICE r12)
    "x_ivf_compaction",           # calls the gate with ledger_dir= (replay contract)
    # rows-only refresh (VERDICT r12 #2): no driver rows-evidence since
    # r6; its code is unchanged, so no sentinel — hand-placed:
    "x_mmr_rerank",
    # (c) backfill: the two names displaced by r12's additions, the
    # rest of the r7 cohort, then the head of the r8 cohort (d-ids
    # first, then alphabetical). x_spearman_corr / x_rrf_fusion /
    # x_quantile_normalize (youngest backfill) yield their slots to
    # x_mmr_rerank + the two neardup-maintenance members and return
    # next round:
    "x_tfidf", "x_token_drift",
    "x_tpch_q11_important_stock", "x_tpch_q14_promo_revenue",
    "x_tpch_q15_top_supplier", "x_tpch_q17_small_qty_parts",
    "x_try_fns", "x_window_distribution",
    "d28_url_parse", "d29_hash_fns", "d30_datetime_fns",
    "d31_math_fns", "d32_conditional_fns", "d33_array_fns",
    "d34_map_fns", "d35_json_extract", "d36_pivot",
    "d38_tumbling_window", "d39_sliding_window", "d46_binary_files",
    "d47_python_udf", "d48_pandas_udf", "d49_apply_in_pandas",
    "x_apply_in_arrow", "x_arrow_udf", "x_bpe_pretokenize",
    "x_class_balance_resample", "x_cross_source_leakage",
    "x_datasource_batch_write", "x_datasource_stream_write",
    "x_dedup_threshold_sweep", "x_epoch_shuffle",
    "x_gini_concentration", "x_groupby_all", "x_hard_negatives",
    "x_ks_test", "x_lateral_topk", "x_matryoshka_eval",
    "x_ngram_novelty_curve", "x_param_sql",
]

_FRONT_50_R12 = [
    # ---- Round-12 window (retired; kept for the ledger audit trail)
    # (VERDICT r11 #1: x_rolling_median first —
    # displaced from r11 by the x_cosine_topk_np rounding fix — then
    # the 16 remaining r6-stamped greens, then the head of the r7
    # cohort; after this round the ledger minimum stamp must be r7.
    # Budgeted exactly ONE new op per the verdict) ----
    # (a) new in round 12 — never driver-checked:
    "x_ivf_compaction",           # IVF ledger retrain + re-layout, closes the gate's drift loop (r11 VERDICT #2)
    # (b) changed in round 12 — the driver must re-prove the new code:
    "x_incremental_ann",          # verify kernel resident-axis chunking + running min (ADVICE r11); ledger_dir replay param
    # (c) backfill: the full r6-stamped cohort (oracle-backed members;
    # x_bpe_train/x_bpe_apply/x_embedding_pq/x_mmr_rerank are rows-only
    # and never backfill), led by the two names displaced from the r11
    # window:
    "x_rolling_median", "x_scd2_intervals",
    "x_segment_dedup_scrub", "x_session_paths", "x_skyline",
    "x_sorted_neighborhood",
    "x_stratified_split", "x_table_diff", "x_temporal_join",
    "x_tpch_q9_product_profit", "x_triangle_count", "x_zorder_layout",
    # then the head of the r7-stamped cohort (d-ids first — their r7
    # stamps are the oldest — then alphabetical):
    "d19_sort", "d22_ranking_windows", "d23_lag_lead", "d25_union",
    "d26_intersect_except",
    "x_benford", "x_bitwise_fns", "x_ccnet_buckets",
    "x_cogroup_reconcile", "x_collation_group",
    "x_corpus_filter_pipeline", "x_cube", "x_dataset_card",
    "x_dedup_clusters", "x_dedup_report", "x_deterministic_split",
    "x_doc_token_stats", "x_embedding_centroids", "x_entropy_score",
    "x_fingerprint", "x_funnel", "x_histogram",
    "x_image_phash_neardup", "x_langid", "x_map_in_arrow",
    "x_multimodal_features", "x_ngram_jaccard", "x_observe_metrics",
    "x_priority_sample", "x_quality_score", "x_range_frame",
    "x_recursive_cte", "x_skew_audit", "x_sql_pipe",
    "x_stream_upsert", "x_string_agg",
    # (x_tfidf and x_token_drift displaced by the new x_ivf_compaction
    # and the r12-changed x_incremental_ann — both r7-green, both
    # return at the head of round 13's backfill)
]

_FRONT_50_R11 = [
    # ---- Round-11 window (retired; kept for the ledger audit trail)
    # (VERDICT r10 #1: clear the r5 cohort
    # COMPLETELY — the 15 TPC-H rewrites + x_yoy_growth displaced last
    # round — then backfill with the head of the r6 cohort; after this
    # round the ledger minimum stamp must be r6. Budgeted exactly ONE
    # new op per the verdict, so forced slots cost only 2 backfill
    # names) ----
    # (a) new in round 11 — never driver-checked:
    "x_incremental_ann",          # embedding ingestion gate vs persisted IVF ledger (r10 VERDICT #4)
    # (b) changed in round 11 — the driver must re-prove the new code:
    "x_incremental_neardup",      # ledger tempdir now session-cached, no per-call leak (ADVICE r10)
    "x_embedding_neardup",        # cogrouped per-cell gemm rewrite, 10.7x (hash-identical, 3 SFs)
    "x_cosine_topk_np",           # HALF_UP rounding now the shared _np_round4 (r11 review; same math)
    # (c) backfill: the ENTIRE remaining r5-stamped cohort (15 names),
    # oldest cohort first — these are the displaced TPC-H rewrites the
    # r10 verdict made item #1:
    "x_tpch_q10_returned_items", "x_tpch_q12_priority_shipping",
    "x_tpch_q13_cust_distribution", "x_tpch_q16_supplier_count",
    "x_tpch_q18_big_orders", "x_tpch_q19_disjunctive_join",
    "x_tpch_q20_promo_suppliers", "x_tpch_q21_waiting_supplier",
    "x_tpch_q22_sales_opportunity", "x_tpch_q2_min_cost_supplier",
    "x_tpch_q4_order_priority", "x_tpch_q6_forecast_revenue",
    "x_tpch_q7_volume_shipping", "x_tpch_q8_market_share",
    "x_yoy_growth",
    # then the head of the r6-stamped cohort (alphabetical within equal
    # stamp, 33 of 47 fit; the 14-name tail — x_segment_dedup_scrub
    # through x_zorder_layout plus d19/d22/d23/d25/d26's r7 stamps —
    # returns at the head of round 12's backfill):
    "x_anomaly_zscore", "x_boilerplate_scrub", "x_cdc_apply",
    "x_column_profile", "x_compaction_plan", "x_countmin_sketch",
    "x_decile_bins", "x_doc_chunk_windows", "x_dsir_resample",
    "x_dup_span_scrub", "x_embedding_quantize", "x_event_pattern_match",
    "x_full_outer_join", "x_hll_intersect", "x_hll_sketch_union",
    "x_interpolate", "x_inverted_index", "x_last_click_attribution",
    "x_lm_surprisal_score", "x_longest_streak", "x_mad_outliers",
    "x_market_basket", "x_markov_transitions", "x_mixture_resample",
    "x_mixture_temperature", "x_pagerank", "x_pandas_grouped_agg",
    "x_partial_agg_merge", "x_phrase_search", "x_pmi_collocations",
    "x_rolling_dau",
    # (x_scd2_intervals and x_rolling_median displaced by the
    # r11-changed x_embedding_neardup and x_cosine_topk_np — both
    # r6-green, both return at the head of round 12's backfill)
]

_FRONT_50_R10 = [
    # ---- Round-10 window (retired; kept for the ledger audit trail) ----
    # (VERDICT r9 #1: rotate to the 44 r5-stamped
    # greens + the 6 leftover r4 stamps; after this round the ledger
    # minimum should reach r5-cleared modulo the 4 displaced names
    # below) ----
    # (a) new in round 10 — never driver-checked:
    "x_incremental_neardup",      # batch near-dup vs persisted MinHash band ledger (r9 VERDICT #7)
    "x_linear_probe_fit",         # one-pass OLS from exact integer sufficient statistics (new r10)
    "x_eval_contamination",       # map-only per-eval contamination report vs train corpus (new r10)
    "x_winnowing_fingerprint",    # MOSS winnowing selection + shared-fp contamination counts (new r10)
    # (b) changed in round 10 — the driver must re-prove the new code:
    "x_stream_tws_sessions",      # graduated rows-only -> full oracle (r9 VERDICT #3) + listTimers fix
    "x_record_linkage",           # FastSS deletion-neighborhood rewrite (r9 VERDICT #2)
    "x_auc_score",                # final multiply promoted to DECIMAL(38,0)/HUGEINT (ADVICE r9)
    "x_semdedup",                 # adaptive k = clamp(n/32, 64, 4096) (r9 VERDICT #5 sf2 probe)
    "x_stream_static_join",       # graduated rows-only -> full oracle (r10, tws_counts pattern)
    "x_stream_stream_join",       # graduated rows-only -> full oracle (r10, single-batch inner join)
    "x_stream_outer_join",        # graduated (r10): outer emission boundary pinned empirically
    "x_stream_stateful_counts",   # graduated (r10): final state == batch agg (tws_counts oracle)
    "x_stream_session_timeout",   # graduated (r10): tws_sessions' driver-proven oracle, same rule
    "d40_stream_watermark",       # graduated (r10): closed windows under the final ms-floor watermark
    "d41_stream_dedup",           # graduated (r10): final per-type agg == distinct-key counts
    # (c) backfill: the 6 r4-stamped leftovers, oldest cohort first:
    "x_time_rollup", "x_tpch_q3_shipping", "x_tpch_q5_local_supplier",
    "x_unpivot", "x_url_canonicalize", "x_variant_json",
    # then the r5-stamped cohort (44 names) minus the 7 displaced by
    # (a)+(b) (youngest-backfill-out, alphabetical tail:
    # x_tpch_q4_order_priority, x_tpch_q6_forecast_revenue,
    # x_tpch_q7_volume_shipping, x_tpch_q8_market_share, x_yoy_growth,
    # and — displaced by the SEVEN r10 streaming-oracle graduations
    # plus the new x_linear_probe_fit —
    # x_tpch_q22_sales_opportunity, x_tpch_q2_min_cost_supplier,
    # x_tpch_q16_supplier_count, x_tpch_q18_big_orders,
    # x_tpch_q19_disjunctive_join, x_tpch_q20_promo_suppliers,
    # x_tpch_q21_waiting_supplier, x_tpch_q13_cust_distribution,
    # and — displaced by the new x_eval_contamination and
    # x_winnowing_fingerprint — x_tpch_q12_priority_shipping and
    # x_tpch_q10_returned_items; all r5-green, all ALSO re-proven
    # locally this round (tools/check_oracle.py sf0.01 full-window run
    # before the displacement), they return at the head of round 11's
    # backfill):
    "d03_filter", "d04_regex_ext_filter", "d05_distinct",
    "d06_keyed_dedup", "d07_inner_join", "d08_broadcast_join",
    "d09_left_outer_join", "d10_left_semi_join", "d11_left_anti_join",
    "d12_star_join", "d13_theta_join", "d14_hash_agg_q1",
    "d15_count_distinct", "d17_rollup", "d18_having",
    "d20_limit_topk", "d21_topk_per_group", "d24_running_sum",
    "d27_string_fns", "d42_exact_dedup", "d44_cosine_topk",
    "d45_token_counts", "d50_pipeline_flagship",
    "x_asof_join", "x_asof_join_tolerance", "x_bloom_prefilter_prod",
    "x_cohort_retention", "x_grouping_sets", "x_time_weighted_avg",
]

_FRONT_50_R9 = [
    # ---- Round-9 window (retired; kept for the ledger audit trail) ----
    # (VERDICT r8 #1: rotate to the displaced-r4
    # cohort — after this round the ledger minimum stamp must be r5,
    # with the named r4 greens all re-proven) ----
    # (a) new in round 9 — never driver-checked; the ledger guard forces
    # them here as they are added. Each addition displaces one name from
    # the BOTTOM of the backfill tail (youngest-backfill-out rule).
    "x_stream_tws_counts",        # transformWithStateInPandas un-gated via pbcompat (r8 VERDICT #3)
    "x_auc_score",                # new r9: exact per-source ROC-AUC (Mann-Whitney, integer ties)
    "x_calibration_bins",         # new r9: reliability-diagram decile bins + calibration gap
    "x_transpose_stats",          # new r9: DataFrame.transpose surface (Spark 4) over per-lang stats
    "x_keyness_tokens",           # new r9: label-discriminative vocabulary by df-rate difference
    "x_stream_tws_sessions",      # new r9: TWS timer API (registerTimer/handleExpiredTimer) sessionizer
    # (b) changed in round 9 — the driver must re-prove the new code:
    "x_arrow_udtf",               # tokenizer vectorized to pure pyarrow.compute (r8 VERDICT #2)
    "x_record_linkage",           # docstring records the measured count-filter negative result
    "x_semdedup",                 # norms precomputed per row before the pair join (measured 1.6x)
    "x_embedding_neardup",        # same fix on the exact blocked pair join (measured 2.0x)
    # (c) backfill: the ENTIRE r4-stamped cohort (47 names,
    # tools/oracle_ledger.json round==4), oldest cohort first. The
    # rows-only members ride along — their rows>0 re-proof plus pinned
    # pytest contracts is the strongest driver check they can get.
    "d01_parquet_scan", "d02_projection", "d37_sessionization",
    "x_approx_quantiles", "x_array_agg_sorted", "x_bloom_prefilter",
    "x_bm25_score", "x_compression_ratio", "x_corr_scalar_subquery",
    "x_cosine_topk_np", "x_decontaminate", "x_domain_stats",
    "x_duplicate_ngram_fraction", "x_explode_outer", "x_frame_sample",
    "x_from_json_struct", "x_gap_fill", "x_global_agg",
    "x_gopher_rules", "x_incremental_dedup", "x_interval_join_bucketed",
    "x_map_fns2", "x_media_resize", "x_minhash_containment",
    "x_mixture_sample", "x_neardup_survivors", "x_nullsafe_join",
    "x_percentiles", "x_pii_scrub", "x_python_udtf",
    "x_repetition_filter", "x_sequence_pack",
    # (x_semdedup moved up to the changed-in-r9 section)
    "x_session_window", "x_skew_salted_agg", "x_skew_salted_join",
    "x_stats_moments", "x_stream_static_join", "x_stream_stream_join",
    "x_string_fns2", "x_text_normalize",
    # (x_time_rollup displaced by the r9-changed x_embedding_neardup —
    # r4-green, returns next round)
    # (d) displaced by the five new r9 ops + the r9-changed
    # x_record_linkage (youngest-backfill-out rule): d03_filter
    # (r5-green) plus the five youngest r4-cohort names
    # x_tpch_q3_shipping / x_tpch_q5_local_supplier / x_unpivot /
    # x_url_canonicalize / x_variant_json — all green in the local
    # 242-query sweep, they return at the head of round 10's backfill.
    # (d04_regex_ext_filter was already displaced by
    # x_stream_tws_counts — r5-green, also returns next round.)
]

_FRONT_50_R8 = [
    # ---- Round-8 window (retired; kept for the ledger audit trail) ----
    # (VERDICT r7 #1: clear the ENTIRE stale-green backlog — after that
    # round no ledger entry should predate r7.)
    # (a) new in round 8 — never driver-checked; the ledger guard forces
    # them here as they are added.
    "x_datasource_stream_write",  # Python DataSource streaming writer (r7 VERDICT #5)
    "x_arrow_udf",                # Arrow-native scalar UDF (r7 VERDICT #5)
    "x_lateral_topk",             # LATERAL correlated top-k (Spark 4.x surface)
    "x_sql_udf",                  # SQL scalar UDF, Catalyst-inlined
    "x_param_sql",                # named :param markers == literal inlining
    "x_sql_variable",             # DECLARE/SET VAR session variables
    "x_groupby_all",              # GROUP BY ALL / ORDER BY ALL resolver sugar
    "x_rrf_fusion",               # reciprocal rank fusion (hybrid retrieval)
    "x_epoch_shuffle",            # deterministic per-epoch shard shuffle
    "x_hard_negatives",           # contrastive hard-negative mining
    "x_class_balance_resample",   # per-class balanced downsample
    "x_winsorize",                # exact-rank P05/P95 per-group clamp
    "x_cross_source_leakage",     # cross-source n-gram contamination matrix
    "x_matryoshka_eval",          # truncated-dim top-k overlap audit
    "x_spearman_corr",            # exact integer-ppm rank correlation
    "x_ks_test",                  # exact two-sample KS drift gate
    "x_gini_concentration",       # token-mass inequality index
    "x_arrow_udtf",               # Arrow UDTF over a TABLE() argument
    "x_apply_in_arrow",           # grouped-map applyInArrow (zero-pandas)
    "x_datasource_batch_write",   # Python DataSource batch writer
    "x_dedup_threshold_sweep",    # tau-selection curve, one index pass
    "x_ngram_novelty_curve",      # marginal-information decile audit
    "x_token_budget_select",      # per-source quality-ranked budget cut
    "x_quantile_normalize",       # rank-quantile feature transform
    # (b) changed in round 8 — the driver must re-prove the new
    # arithmetic:
    "x_stream_stateful_counts",   # integer ten-thousandths state (r7 VERDICT #4)
    "x_stream_session_timeout",   # q4/money hoisted to shared module helpers (r8)
    "x_ppjoin_setsim",            # length+positional filters, array verify (r8)
    # (c) THE STALE BACKLOG: every remaining round-1/round-2 green. The
    # usual rows-only-backfill exclusion is OVERRIDDEN this round by
    # explicit VERDICT order (r7 #1 names d16/d40/d41/d43 and the ANN
    # trio) — their rows>0 driver re-proof plus the r8-tightened pytest
    # recall brackets (r7 #6) is the strongest check they can get.
    "x_ann_lsh_topk", "x_ann_ivf_topk", "x_simhash_neardup",
    "d16_approx_count_distinct", "d28_url_parse", "d29_hash_fns",
    "d30_datetime_fns", "d31_math_fns", "d32_conditional_fns",
    "d33_array_fns", "d34_map_fns", "d35_json_extract", "d36_pivot",
    "d38_tumbling_window", "d39_sliding_window", "d40_stream_watermark",
    "d41_stream_dedup", "d43_minhash_lsh", "d46_binary_files",
    "d47_python_udf", "d48_pandas_udf", "d49_apply_in_pandas",
    # (d) backfill: the seven r4-greens displaced in r7 with a promised
    # return, then the stalest remaining r4 greens, oldest cohort first.
    # Each new r8 op added during the round displaces one from the
    # BOTTOM of this tail (youngest-backfill-out rule); displaced names
    # return next round.
    "x_bpe_pretokenize",
    # (x_bm25_score / x_bloom_prefilter displaced by
    # x_token_budget_select / x_quantile_normalize;
    # d01_parquet_scan displaced by x_apply_in_arrow;
    # d02_projection / d37_sessionization / x_array_agg_sorted /
    # x_approx_quantiles displaced by the four batch-C r8 ops;
    # x_compression_ratio / x_corr_scalar_subquery / x_cosine_topk_np
    # / x_decontaminate / x_domain_stats displaced by the five stats
    # ops at the head;
    # x_duplicate_ngram_fraction / x_explode_outer / x_frame_sample
    # displaced by the three data ops before them;
    # x_from_json_struct displaced by the r8-changed x_ppjoin_setsim;
    #  x_neardup_survivors displaced by the r8-changed
    # x_stream_session_timeout; x_minhash_containment / x_mixture_sample
    # / x_media_resize / x_map_fns2 / x_interval_join_bucketed /
    # x_incremental_dedup / x_gopher_rules / x_global_agg / x_gap_fill
    # by the nine new r8 ops at the head — r4-green, return next round)
]

_FRONT_50_R7 = [
    # ---- Round-7 window (retired; kept for the ledger audit trail) ----
    # (a) new in round 7 — never driver-checked, inserted as added; the
    # ledger guard (tests/test_registry.py) forces them here.
    "x_priority_sample", "x_token_drift", "x_entropy_score",
    "x_dedup_report", "x_benford", "x_skew_audit",
    "x_tokenizer_fertility", "x_cogroup_reconcile", "x_map_in_arrow",
    "x_observe_metrics", "x_stream_upsert", "x_stream_outer_join",
    "x_image_phash_neardup", "x_corpus_filter_pipeline", "x_dataset_card",
    "x_ccnet_buckets", "x_recursive_cte", "x_sql_pipe",
    "x_collation_group",
    # (b) changed in round 6 but slot-yielded there (VERDICT r6 #1):
    # their implementation or oracle was rewritten in r6 and the driver
    # has never re-proven the new arithmetic/plan. All seven are green
    # locally at sf0.001/0.01/0.1; the ledger marks them CHANGED until
    # a driver round proves them.
    "x_range_frame",              # ordering-key bug FIX (r6, subqueries.py)
    "d19_sort",                   # two-level rank rewrite (relational.py:444)
    "x_tpch_q11_important_stock", # empty-window crossJoin(broadcast) rewrite
    "x_tpch_q14_promo_revenue",   # decimal pinning rewrite
    "x_tpch_q15_top_supplier",    # empty-window rewrite
    "x_tpch_q17_small_qty_parts", # decimal pinning rewrite
    "x_embedding_centroids",      # decimal-mean rewrite (training.py:232)
    # changed in round 7 — re-prove after this round's edits
    "x_ppjoin_setsim",            # global-rank window removed (r7, VERDICT #2)
    "x_record_linkage",           # lossless length-blocking second key (r7, ADVICE)
    "x_stream_session_timeout",   # integer-cents state accumulator (r7, ADVICE)
    # (c) backfill: hash-proven greens last driver-checked in ROUND 1
    # (the stalest greens in the ledger; rows-only r1 ops x_ann_*,
    # x_simhash_neardup excluded per the documented policy above)
    "x_bitwise_fns", "x_cube", "x_dedup_clusters",
    "x_deterministic_split", "x_doc_token_stats", "x_embedding_neardup",
    "x_fingerprint", "x_funnel", "x_histogram", "x_langid",
    "x_multimodal_features", "x_ngram_jaccard", "x_quality_score",
    "x_string_agg", "x_tfidf", "x_try_fns", "x_window_distribution",
    # (d) backfill: greens last driver-checked in ROUND 2 (rows-only
    # d16/d40/d41/d43 excluded — pytest pins their contracts)
    "d22_ranking_windows", "d23_lag_lead", "d25_union",
    "d26_intersect_except",
    # (d29_hash_fns rotated out for x_sql_pipe, d28_url_parse for
    # x_collation_group)
    # (d31_math_fns rotated out for x_ccnet_buckets, d30_datetime_fns
    # for x_recursive_cte)
    # (d36_pivot rotated out for x_stream_upsert, d35_json_extract for
    # x_stream_outer_join, d34_map_fns for x_image_phash_neardup,
    # d33_array_fns for x_corpus_filter_pipeline, d32_conditional_fns
    # for x_dataset_card)
    # (d47_python_udf, d48_pandas_udf, d49_apply_in_pandas rotated out
    # for x_benford / x_skew_audit / x_tokenizer_fertility, and
    # d38_tumbling_window / d39_sliding_window / d46_binary_files for
    # x_cogroup_reconcile / x_map_in_arrow / x_observe_metrics —
    # r2-green, return next round)
    # (e) tail: oldest round-4 greens fill the remaining slots; each
    # new r7 op added during the round displaces one from the bottom
    # (youngest-backfill-out rule above) and it returns next round.
    # (x_bpe_pretokenize rotated out for the r7-changed x_ppjoin_setsim,
    # x_bm25_score for the r7-changed x_record_linkage, x_bloom_prefilter
    # for the r7-changed x_stream_session_timeout, and d01_parquet_scan /
    # d02_projection / d37_sessionization / x_array_agg_sorted for the
    # four new r7 ops at the head — all r4-green, return next round)
]

def source_hash(q: "Query") -> str:
    """Mechanical change-detector for the window-coverage guard.

    sha256 over the query fn's own source text plus its oracle SQL.
    tools/oracle_ledger.json records this per query at its last
    driver-green round; tests/test_registry.py forces any query whose
    current hash differs (or that has no ledger row) into ``_FRONT_50``.

    Known approximation: edits to *shared helpers* a query fn calls do
    not flip its hash — when touching a shared helper, mark its callers
    CHANGED in the ledger by hand (tools/update_ledger.py
    --mark-changed) in the same commit.
    """
    import hashlib
    import inspect

    src = inspect.getsource(q.fn)
    return hashlib.sha256((src + "\x00" + (q.oracle or "")).encode()).hexdigest()


_D_NAME = re.compile(r"^d\d\d_")


def _order_key(name: str) -> tuple:
    if name in _FRONT_50:
        return (0, _FRONT_50.index(name), "")
    if _D_NAME.match(name):
        return (1, 0, name)
    return (2, 0, name)


def load_all() -> dict[str, Query]:
    """Import every ops module so its @query decorators run; return REGISTRY.

    The returned dict is re-ordered deterministically: the current-round
    front window ``_FRONT_50`` first (never-checked ops, then stalest
    green backfill), then remaining d-ids, then remaining x-ops, so a
    driver that checks the first 50 entries proves exactly the intended
    set this round.
    """
    from chyme_spark.ops import analytics, asof, binary, llm, pipeline, relational, scalar, streaming, subqueries, training, udfs, windows  # noqa: F401

    ordered = dict(sorted(REGISTRY.items(), key=lambda kv: _order_key(kv[0])))
    REGISTRY.clear()
    REGISTRY.update(ordered)
    return REGISTRY
