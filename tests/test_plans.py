"""Physical-plan regression gate (VERDICT r5 item 7).

PLANS.md documents the plans we WANT at 100 TB; this test makes the
load-bearing shape properties an asserted contract so a future edit
cannot silently regress them — e.g. reintroduce a second lineitem
aggregate in Q21, lose Q18's forced sort-merge join, or resurrect a
SinglePartition global-scalar exchange in Q11/Q15.

Counts are pinned at the test config (sf0.001, local[4], AQE final
plans). If you change a query's plan ON PURPOSE, update EXPECTED here
in the same commit and say why in the commit message.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "audit_plans", os.path.join(ROOT, "tools", "audit_plans.py")
)
audit_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(audit_plans)

# (exchanges, broadcast joins, sort-merge joins, TakeOrderedAndProject)
# measured on the final adaptive plan at sf0.001 / local[4].
EXPECTED = {
    "d06_keyed_dedup": (1, 0, 0, False),
    "d07_inner_join": (0, 1, 0, False),  # AQE-promoted broadcast (no hint)
    "d08_broadcast_join": (0, 1, 0, False),  # explicit hint on the part dim
    # r10: partial agg pushed below the fact join — the orders join
    # reuses the l_orderkey agg shuffle, dropping one exchange
    "d12_star_join": (2, 4, 0, False),
    # r10: the eval-contamination report must stay map-only — 1 tiny
    # qid exchange (partial agg first), broadcast eval suite, and NO
    # corpus-wide shuffle ever
    "x_eval_contamination": (1, 1, 0, False),
    # r15 (OPTIMIZATION round, guide §2.4): the shared-fp aggregate +
    # self-join pair became count-over-window BY fp riding the same
    # exchange — winnow selection now evaluates ONCE (2 scans, was 4);
    # the one remaining broadcast is the bare doc_id spine left join
    "x_winnowing_fingerprint": (2, 1, 0, False),
    "d14_hash_agg_q1": (1, 0, 0, False),
    "d20_limit_topk": (0, 0, 0, True),
    "d44_cosine_topk": (1, 1, 0, False),
    "d50_pipeline_flagship": (3, 0, 0, False),
    "x_tpch_q11_important_stock": (2, 3, 0, False),
    "x_tpch_q15_top_supplier": (2, 2, 0, False),
    "x_tpch_q18_big_orders": (2, 1, 1, True),  # smj>=1 is the point
    "x_tpch_q21_waiting_supplier": (4, 4, 0, True),
    # r15 (OPTIMIZATION round, guide §2.4): shared-gram broadcast join
    # replaced by count-over-window BY g — the 5-gram pass evaluates
    # once, and the only broadcast left is the doc_id spine left join
    "x_duplicate_ngram_fraction": (2, 1, 0, False),
    # round-6: the chunker must stay a 0-exchange narrow map; the scrub
    # must stay 2 shuffles (seg-text + doc_id rebuild). r15 (guide
    # §2.4): the firsts aggregate + join-back became min-struct over a
    # seg_text window riding the same exchange — the segment explode
    # evaluates ONCE (1 scan, was 2) and the broadcast join is gone
    "x_segment_dedup_scrub": (2, 0, 0, False),
    "x_mixture_temperature": (2, 1, 0, False),
    "x_doc_chunk_windows": (0, 0, 0, False),
    "x_zorder_layout": (1, 0, 0, False),
    # r15 (guide §2.4): bigram counts via count-over-window BY b — the
    # corpus bigram explode evaluates ONCE (1 explode, was 3; 2 scans,
    # was 3). 3 exchanges = b window + doc_id groupBy + the 1-row
    # total's partial agg (whose branch is now explode-free); the one
    # broadcast left is the 1-row total crossJoin
    "x_lm_surprisal_score": (3, 1, 0, False),
    # 2 corpus-side lang shuffles + tiny scalar aggs; 4 broadcasts are
    # the rate-table dim join plus the 1-row total/max scalars
    "x_mixture_resample": (6, 4, 0, False),
    # 4 exchanges = unigram + bigram count shuffles + two 1-row totals;
    # top-k must stay TakeOrderedAndProject
    "x_pmi_collocations": (4, 4, 0, True),
    # r15: the index gate is ONE keyed shuffle (batch-bounded postings
    # build) + the doc-ledger anti-join AQE-promoted to broadcast; the
    # compactor is the postings shuffle + the multi-countDistinct
    # expand's two-phase agg at segment grain (tiny rows)
    "x_incremental_index": (1, 1, 0, False),
    "x_index_compaction": (3, 0, 0, False),
    # the read path's top-k must compile to TakeOrderedAndProject; its
    # 7 exchanges are all query-term-bounded postings/stats aggs (two
    # term-pruned postings builds + df/dl/stats + final doc agg), and
    # the 7 broadcasts are the tombstone/df/dl/stats small sides
    "x_index_overlay_search": (7, 7, 0, True),
    # the vector twin serves through a per-query window top-k (row_number
    # over qid — not a global limit, so no TakeOrdered): 1 qid window
    # exchange + the in-line admission replay's gate shuffles (probe/
    # resident cogroup by cell, disposition agg); the 6 broadcasts are
    # the query set, tombstone/admitted small sides, and the gate's own
    "x_ann_overlay_search": (5, 6, 0, False),
    # narrow explode + dim-table broadcast; exactly one shuffle (the
    # per-dimension min/max aggregate)
    "x_embedding_quantize": (1, 1, 0, False),
    # round-6 continuation. scd2/median: ONE user_id shuffle serves
    # every window + the run-collapse agg. full-outer: two post-agg
    # shuffles into the (never-broadcastable) full-outer SMJ.
    "x_scd2_intervals": (1, 0, 0, False),
    "x_rolling_median": (1, 0, 0, False),
    "x_full_outer_join": (2, 0, 1, False),
    # compaction: grp-window shuffle + group-totals agg + the offsets
    # cumsum + final bucket agg. The SinglePartition exchange here is
    # legitimate: it carries the per-GROUP totals table (rows bounded
    # by keyspace div 256, not by file count), which is exactly the
    # two-level scan's tiny middle step — not a fact-sized empty
    # window, so it is pinned here and NOT in NO_SINGLE_PARTITION.
    "x_compaction_plan": (4, 1, 0, False),
    # triangle: edge-builder agg + sparsifier scalar + two wedge joins
    # (AQE-broadcast at this SF; its SinglePartition exchange is the
    # 1-row sparsifier aggregate's final merge — partial-combine then
    # one row, the recommended global-scalar shape, not a window)
    "x_triangle_count": (4, 6, 0, False),
    # boilerplate: seg_text shuffle + doc_id rebuild shuffle. r15
    # (guide §2.4): document frequency via collect_set-size over the
    # seg_text window — the countDistinct expand exchange and the
    # join-back broadcast are gone; the segment explode evaluates ONCE
    "x_boilerplate_scrub": (2, 0, 0, False),
    # cms: token-count shuffle + (d,b) cell shuffle + probe top-k
    # (TakeOrdered) + broadcast probe join
    "x_countmin_sketch": (3, 1, 0, True),
    # stratified split: two fact shuffles (salted rank window + the
    # (source,bkt) counts) + the aggregate-sized offsets window/total
    # aggs; 2 broadcasts are the offset/total tables (bounded by
    # sources x 256, never fact-scale)
    "x_stratified_split": (5, 2, 0, False),
    # DSIR: ONE bucket-count shuffle + one doc-score shuffle; the
    # 4096-row weight table is the only broadcast; top-100 must stay
    # TakeOrderedAndProject
    "x_dsir_resample": (2, 1, 0, True),
    # HLL rollup: daily-sketch agg + union agg + the exact branch's
    # count-distinct pair; the 5-row estimate/exact join AQE-broadcasts
    "x_hll_sketch_union": (4, 1, 0, False),
    # skyline: ONE fact shuffle (price groupBy) + the domain-sized
    # bucket aggs; 3 broadcasts are all domain-sized (bucket maxima,
    # offsets, skyline prices) — and NO SinglePartition anywhere (the
    # bucket prefix-max is a theta self-join, not a global window)
    "x_skyline": (4, 3, 0, False),
    # markov: user-window shuffle + (from,to) groupBy + the from_type-
    # partitioned normalizer window over the 25-row aggregate
    "x_markov_transitions": (3, 0, 0, False),
    # anomaly: stats groupBy + flag groupBy; the 5-row stats table is
    # the only broadcast
    "x_anomaly_zscore": (2, 1, 0, False),
    # linkage: equi-join on the blocking key; at sf0.001 the planner
    # size-estimates customer under the broadcast threshold (no hint —
    # AQE keeps the right to shuffle it at scale)
    # r10 FastSS rewrite: variant self-join PINNED to SMJ (Catalyst
    # can't see the 172x explode fan-out and would broadcast a side
    # that blew maxResultSize at 50x), 2 exchanges (join + pair
    # distinct), the two output-bound name fetches broadcast at audit SF
    "x_record_linkage": (2, 2, 1, False),
    # sketch-intersect: sketch agg + the exact-check branch's
    # distinct + left-join overlap counts; n_union is inclusion-
    # exclusion arithmetic (review finding: the old OR-theta join
    # re-scanned the distinct pairs and made the shape nondeterministic)
    "x_hll_intersect": (7, 4, 0, False),
    # inverted index: exactly ONE (term, doc) shuffle — the whole build
    "x_inverted_index": (1, 0, 0, False),
    # CEP + attribution: one user-key shuffle each, no joins
    "x_event_pattern_match": (1, 0, 0, False),
    "x_last_click_attribution": (1, 0, 0, False),
    # grouped-agg pandas UDF: median agg + count agg, 5-row join
    # AQE-broadcasts
    "x_pandas_grouped_agg": (2, 1, 0, False),
    # Q9 snowflake: part/supplier/nation hint-broadcast + the orders
    # join AQE-promoted at this SF (shuffled at 100 TB — no hint);
    # 2 exchanges = the surviving orderkey-side partial + (nation,year)
    # group shuffle
    "x_tpch_q9_product_profit": (2, 4, 0, False),
    # profile: per-value partial shuffle + col_name reduce + the 5-row
    # output sort's range exchange; no joins anywhere
    "x_column_profile": (3, 0, 0, False),
    # MV merge: daily partial shuffle + monthly merge shuffle + output
    # sort — and NO join (the merge reads partial state only)
    "x_partial_agg_merge": (3, 0, 0, False),
    # span scrub: gram-hash groupBy + doc_id window shuffle + output
    # sort; the dup-set semi and per-doc cov joins AQE-broadcast at
    # this SF (shuffle at 100 TB — both un-hinted)
    "x_dup_span_scrub": (3, 2, 0, False),
    # CDC apply: tombstone-cutoff agg + fold agg + output sort; the
    # cutoff table joins back un-hinted (AQE-broadcast here)
    "x_cdc_apply": (3, 1, 0, False),
    # d19 rewritten round 6: two-level global rank — grp window shuffle
    # + grp-count agg + output order; the only SinglePartition left is
    # the ~1000-row (price-domain-bounded) offsets window, the accepted
    # bounded-aggregate shape, and the offsets table broadcasts back
    "d19_sort": (3, 1, 0, False),
    # interpolate: range agg + obs agg + ONE user window shuffle (all
    # four IGNORE-NULLS fills share a spec); the grid join AQE-bcasts
    "x_interpolate": (3, 1, 0, False),
    # phrase search: anchor agg (+ its distinct-idx expand pair) +
    # per-doc match agg + output sort; both phrase tables broadcast
    "x_phrase_search": (4, 2, 0, False),
    # MAD: two fact histogram shuffles + the histogram-sized median
    # windows/aggs + output sort; 3 broadcasts are the 5-row median
    # tables joining back (two hinted into the fact, one AQE)
    "x_mad_outliers": (6, 3, 0, False),
    # streak: distinct (user, day) fact shuffle + user window + run agg
    # + output sort; the totals join AQE-broadcasts
    "x_longest_streak": (4, 1, 0, False),
    # paths: ONE user window shuffle (the (user, sess) path agg reuses
    # its partitioning) + the path-count agg; top-20 is TakeOrdered
    "x_session_paths": (2, 0, 0, True),
    # basket: distinct (order, brand) shuffle + pair-support agg; the
    # part dim broadcast + the AQE-promoted basket self-join build
    "x_market_basket": (2, 2, 0, True),
    # DAU: distinct (user, day) + calendar distinct + contribution
    # groupBy with its two-phase count-distinct expand + output sort;
    # the observed-day semi join AQE-broadcasts
    "x_rolling_dau": (5, 1, 0, False),
    # diff: both snapshot scans shuffle into the (never-broadcastable)
    # full-outer SMJ + the 4-row class agg + output sort
    "x_table_diff": (4, 0, 1, False),
    # temporal: version window shuffle + output sort; the probe join is
    # an EQUI hash join on user (interval predicate is a residual, no
    # range nested loop) — AQE-broadcast at this SF
    "x_temporal_join": (2, 1, 0, False),
    # deciles: grp window shuffle + grp counts + rank-bucket agg +
    # 10-row output sort + the domain-bounded offsets windows; the
    # offsets table broadcasts back (d19's two-level rank, ascending)
    "x_decile_bins": (5, 1, 0, False),
    # PPJoin rewritten round 7: the vocab-wide global-rank window (and
    # its vocab-sized broadcast hint) is GONE — the per-doc prefix
    # window orders by (df, tok) directly, so the plan is 4 shuffles
    # (distinct-token, vocab-freq, doc-size, prefix-window) + the
    # candidate/verify aggs, every join un-hinted (AQE-broadcast at
    # this SF, shuffle at 100 TB), and NO SinglePartition anywhere
    # r8: length+positional filters on the candidate join and the
    # array_intersect verify (one row per candidate, no posting
    # explode) dropped two stages vs the r7 shape (4, 7, 0, False)
    # r13: dedup-first adds the group agg + the two member-expansion
    # joins and the intra-group self-join (AQE-broadcast at this SF —
    # member tables are |corpus|-keyed and shuffle at 100 TB), and the
    # probe side gains its round-robin spread exchange; candidates and
    # verify now run on DISTINCT sets only. More stages, each strictly
    # smaller: 21.6 s -> 6.4 s warm at sf0.1, 20x probe ratio 3.7.
    "x_ppjoin_setsim": (6, 7, 0, False),
    # SN linkage: grp rank window + grp counts + probe-rank equi-join
    # shuffle + output sort; offsets table + AQE probe join broadcast
    "x_sorted_neighborhood": (4, 3, 0, False),
    # round-7 additions. priority sample: ZERO shuffles — narrow map +
    # TakeOrderedAndProject is the whole plan
    "x_priority_sample": (0, 0, 0, True),
    # entropy: (doc,tok) count agg + the doc_id window shuffle; no
    # global state anywhere
    "x_entropy_score": (2, 0, 0, False),
    # drift: ONE token shuffle + the 1-row totals broadcast (its
    # SinglePartition is the partial->1-row merge, the accepted
    # global-scalar shape) + TakeOrdered top-40
    "x_token_drift": (2, 1, 0, True),
    # benford: 9-bucket digit agg + 1-row total + the 9-row literal
    # domain frame broadcast-joined; output sort pays a tiny exchange
    "x_benford": (4, 2, 0, False),
    # skew audit: per-key count shuffle + 1-row totals broadcast; the
    # rank/cumsum window runs over the 10-row TakeOrdered result (its
    # SinglePartition is that bounded 10-row frame, not a fact window)
    "x_skew_audit": (2, 1, 0, True),
    # the two zero-shuffle Python surfaces: raw Arrow batch map and the
    # observe pass re-emitted as a 1-row local frame
    "x_map_in_arrow": (0, 0, 0, False),
    "x_observe_metrics": (0, 0, 0, False),
    # pHash near-dup: byte-explode mean/band reductions + candidate
    # distinct + Hamming verify agg; the 4-row-per-doc band table joins
    # AQE-broadcast at this SF (shuffle at corpus scale, un-hinted);
    # NO SinglePartition anywhere
    "x_image_phash_neardup": (4, 4, 0, False),
    # filter pipeline flagship: ONE content-hash dedup shuffle (r15:
    # min-over-window keeper, no join-back — the second scan's digest
    # pass is gone) + output sort; every quality/lang signal is narrow
    # array algebra on the single pass
    "x_corpus_filter_pipeline": (2, 0, 0, False),
    # dataset card: md5-window dup flag shuffle + the rollup
    # grouping-sets agg + |langs|+1-row output sort
    "x_dataset_card": (3, 0, 0, False),
    # ccnet buckets: the surprisal pair of corpus shuffles (r15: bigram
    # frequency via count-over-window BY b — one explode, was three;
    # the broadcast count join is gone) + the lang-keyed tercile window
    # + output sort; its SinglePartition is the 1-row bigram-total
    # partial->merge->broadcast (the accepted global-scalar shape,
    # identical to x_lm_surprisal_score's, now explode-free)
    "x_ccnet_buckets": (5, 2, 0, False),
    # round-9: the four SQL surfaces (r8 VERDICT #6). All must keep the
    # literal-equivalent shape — agg shuffle + output range sort, no
    # joins: parameter binding, the SET VAR literal, the inlined SQL
    # UDF, and the GROUP BY ALL resolver may not add plan nodes vs the
    # hand-written form (a Catalyst upgrade that stops inlining the SQL
    # UDF or materializes the variable as a subquery would show here)
    "x_param_sql": (2, 0, 0, False),
    "x_sql_variable": (2, 0, 0, False),
    "x_sql_udf": (2, 0, 0, False),
    "x_groupby_all": (2, 0, 0, False),
    # round-9 eval/statistics batch. AUC: (source,v) histogram partial
    # agg + source window shuffle + output range sort — the window runs
    # over the value histogram, never the corpus. Calibration: one
    # 10-row agg shuffle + output sort. Keyness: ONE token shuffle +
    # the 1-row totals broadcast + TakeOrdered(20). (x_transpose_stats
    # has no pin: transpose materializes eagerly to a LocalRelation.)
    "x_auc_score": (3, 0, 0, False),
    "x_calibration_bins": (2, 0, 0, False),
    "x_keyness_tokens": (2, 1, 0, True),
}

# queries that must never contain a SinglePartition exchange: their
# global scalars are 1-row aggregates broadcast back, not empty windows
NO_SINGLE_PARTITION = (
    "x_tpch_q11_important_stock",
    "x_tpch_q15_top_supplier",
    "x_skyline",
    # r7: the vocab global-rank window is gone (VERDICT r6 #2)
    "x_ppjoin_setsim",
    # r9: the SQL surfaces — a variable/param materialized as a scalar
    # subquery instead of a literal would surface as a SinglePartition
    "x_param_sql",
    "x_sql_variable",
    "x_sql_udf",
    "x_groupby_all",
)


@pytest.fixture(scope="module")
def audits(spark, sf_dir):
    from chyme_spark.registry import load_all

    registry = load_all()
    return {
        name: audit_plans.audit_one(name, registry[name].fn(spark, sf_dir))
        for name in EXPECTED
    }


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_plan_shape_pinned(audits, name):
    r = audits[name]
    got = (r["exchanges"], r["broadcasts"], r["smj"], r["top_k"])
    want = EXPECTED[name]
    accepted = want if isinstance(want, list) else [want]
    assert got in accepted, (
        f"{name}: plan shape (xchg, bcast, smj, topk) changed "
        f"{EXPECTED[name]} -> {got}. If intentional, update "
        f"tests/test_plans.py EXPECTED in the same commit.\n{r['plan']}"
    )


def test_no_single_partition_global_scalars(audits):
    for name in NO_SINGLE_PARTITION:
        assert "Exchange SinglePartition" not in audits[name]["plan"], (
            f"{name}: a SinglePartition exchange reappeared — the global "
            "scalar must stay a 1-row aggregate + crossJoin(broadcast), "
            "never an empty window (VERDICT r5 item 2)"
        )


def test_flagship_plans_no_local_rdd(spark, sf_dir):
    """d50 runs the tasker verb's own rule with no tasks recorded, so its
    optimized plan reads only the scan. An empty Python-built ledger
    would be a LogicalRDD the optimizer cannot prove empty: every run
    would pay for its stages until AQE dropped the anti-join."""
    from chyme_spark.registry import load_all

    df = load_all()["d50_pipeline_flagship"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan, plan


def test_q18_keeps_forced_smj(audits):
    # the fact-fact merge path is the bench's spill-measuring headline;
    # losing the hint silently turns it into a broadcast at small SF
    assert audits["x_tpch_q18_big_orders"]["smj"] >= 1


def test_q21_reuses_fact_exchange(audits):
    # Q21 aggregates lineitem once and reuses the exchange across its
    # EXISTS/NOT-EXISTS branches; a second fact aggregate would show up
    # as the ReusedExchange disappearing
    assert "ReusedExchange" in audits["x_tpch_q21_waiting_supplier"]["plan"]
