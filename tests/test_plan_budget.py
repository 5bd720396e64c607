"""Shuffle-budget regression guard for the budgeted query set.

Each budgeted query carries an explicit hash-exchange budget (the
count recorded in PLANS.md when its plan was last reviewed). A plan
picking up an extra shuffle — a broadcast silently becoming a
sort-merge join, a lost ReusedExchange, an accidental repartition —
fails HERE at CI time instead of surfacing as a 100 TB slowdown.
Intentional plan changes must update the budget (that's the point:
plan regressions become an explicit, reviewed diff).
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry

# hash-exchange budgets, from the executed-plan audit (PLANS.md).
# A query may use FEWER shuffles than budgeted, never more.
SHUFFLE_BUDGET = {
    "q1_pricing_summary": 1,
    "q3_shipping_priority": 1,
    "dim_date_full": 0,
    "profile_orders": 0,
    "star_schema_build": 1,
    "upsert_merge": 2,
    "join_inner_fk_agg": 1,
    "join_self_dual_role": 1,
    "join_asof_backward": 1,
    "join_range_interval": 0,
    "scd2_order_status": 1,
    "window_topk_per_group": 1,
    "sessionize": 1,
    "dq_expectations": 2,
    "rollup_hypertable": 5,
    "curation_pipeline": 1,
    "text_stats": 0,
    "text_winnow_fingerprints": 0,
    "text_top_terms": 1,
    "sample_hash_stratified": 0,
    "dedup_exact_groups": 1,
    "dedup_edit1_names": 1,
    "dedup_latest_wins": 1,
    "tumbling_window_agg": 1,
    "embedding_topk_bruteforce": 1,
    "embedding_ann_lsh": 2,
    "agg_cube": 1,
    "window_lag_lead_range": 1,
    "skew_salted_join": 1,
    "unpivot_measures": 0,
    "embedding_label_centroids": 1,
    # r7 rewrite: exact_quantiles' two-phase histogram cumsum trades
    # the builtin percentile's one-task distinct-value buffer for
    # partition-parallel exchanges over the (group, value) histogram —
    # hist agg + base agg + bucket totals + offsets window + local
    # window + stats agg, all distinct-value- or KB-sized (8 measured
    # with AQE at sf0.001)
    "agg_exact_median": 8,
    "agg_incremental_maintenance": 2,
    "customer_rfm_segments": 2,
    "pareto_abc_lineitem": 4,
    "q5_local_supplier_volume": 1,
    "q10_returned_items": 1,
    "q18_large_volume_customer": 2,
    "text_bm25_top5": 6,
    # round-3 TPC-H remainder + multiset set op (PLANS.md, 157-query audit)
    "q6_forecast_revenue": 0,
    "q8_market_share": 1,
    "q13_customer_distribution": 2,
    "q17_small_quantity_revenue": 0,
    "q21_waiting_supplier": 4,
    "set_except_all": 1,
    # round-3 additions (PLANS.md, 165-query audit). The BFS budget is
    # per-level distincts × k=3 unrolled levels plus the final
    # min-dist agg over a once-materialized edge list — every exchange
    # is key-partitioned and level-local, none global.
    "graph_khop_reachability": 10,
    "graph_triangle_count": 6,
    "events_day_streaks": 2,
    # value-domain reduction (parallel) + per-group window over
    # distinct values: 2 exchanges, no per-group full-fact sort
    "agg_weighted_median": 2,
    "cdc_apply_changes": 2,
    # round-5: incremental LSH — the pair plan itself has ONE hash
    # exchange (the candidate dedup); everything upstream is parquet
    # scans of the persisted index + broadcast semi/anti joins on the
    # shard id set (the eager index-append writes are separate jobs,
    # not part of the returned plan).
    # Round 9 splits the BENCH gate into legs (VERDICT r8 #4): build's
    # returned plan is a pure signature-parquet scan (measured 0 at
    # both SFs — the heavy shingle->sign work happens in the write
    # jobs the timing captures); probe's is the candidate dedup
    # exchange (measured 1 at both SFs, +2 for AQE flipping the
    # shard-broadcast scoring joins when the shard outgrows the
    # broadcast threshold).
    "dedup_incremental_lsh_build": 0,
    "dedup_incremental_lsh_probe": 3,
    # round-5 additions. OHLC/EWMA are single key-partitioned aggs;
    # the lateral decorrelates to one WindowGroupLimit ranking
    # exchange; interval gaps share the merge's key exchange; URL
    # canonicalization is scan-stage-only (0). LPA: 4 measured
    # (round-1 agg, round-2 (dst,label) agg, arg-max agg, final
    # community agg — edge frame persisted, labels joins broadcast)
    # + 1 slack for AQE flipping a label-sized broadcast to shuffle.
    "timeseries_ohlc": 1,
    "timeseries_ewma": 1,
    "join_lateral_topk": 1,
    "temporal_interval_gaps": 1,
    "text_url_canonicalize": 0,
    "graph_label_propagation": 5,
    # round-6: partsupp TPC-H closure + count-min. q2/q11 measure 0 at
    # sf0.001 (every join broadcast, partsupp derives shuffle-free
    # from the part scan, the per-part MIN/SUM aggs land on AQE
    # coalesced single-stage partials) — budget 1 leaves room for AQE
    # keying the agg at larger SF. q16: partial-distinct expand +
    # merge (2). q20: the decorrelated (l_partkey, l_suppkey) SUM (1)
    # + 1 slack for a semi join flipping off broadcast. countmin: the
    # counter groupBy, the true-count groupBy, and the estimate's
    # per-key min agg (3) — the sketch side stays broadcast.
    "q2_min_cost_supplier": 1,
    "q11_important_stock": 1,
    "q16_supplier_part_counts": 3,
    "q20_excess_stock": 2,
    "sketch_countmin_topk": 3,
    # register groupBy + estimate groupBy + exact countDistinct's
    # expand/merge pair (the audit ride-along, not the sketch)
    "sketch_hll_deterministic": 4,
    # round-6 continuation (plans reviewed 2026-08-15): bloom = probe
    # distinct + build bit_or + probe groupBy + confusion groupBy, all
    # KB-state aggs; interpolate = bounds agg + spine window; zscore =
    # ONE key shuffle; pmi = presence distinct ×2 (vocab + hits lobes)
    # + vocab agg + per-doc collect + pair agg; quantize = pure map.
    "bloom_semi_prune": 4,
    "timeseries_interpolate": 2,
    "anomaly_rolling_zscore": 1,
    "text_pmi_pairs": 5,
    "embedding_quantize_int8": 0,
    # round-6 continuation parts 2-4 (plans reviewed 2026-08-15):
    # join-cardinality = two count aggs + sample TakeOrdereds + pair
    # join; hll_sliding = daily regs + slide merge + estimate + the
    # exact-audit lobe (distinct + window count + semi); index_daily =
    # register build + estimate merge (reads prune at partition level);
    # int8 ANN = one per-query ranking exchange; window PMI = pair agg
    # + unigram agg + two count joins; quantile sample = the sample
    # side is agg-only, the exact-audit lobe adds the value-histogram
    # groupBy + the r7 bucketed-cumsum window exchange (the r6
    # SinglePartition cumulative window is retired).
    # 4 + 1: the ADVICE-r06 exactly-one-row guarantee (right-join/
    # union of the tau frame so an empty sampled region still emits
    # est_join=0) costs one more KB-state exchange
    "sketch_join_cardinality": 5,
    "sketch_hll_sliding": 6,
    "sketch_hll_index_daily": 2,
    "embedding_ann_int8": 1,
    "text_pmi_window": 3,
    "sketch_quantile_sample": 2,
    # skew diagnostic: the key-count agg + the counts-frame reuse for
    # the totals lobe (TakeOrdered ships driver-side, no exchange).
    "skew_diagnose_events": 2,
    # round-7: int8 IVF probe = one per-query ranking exchange
    # (index build/append are separate write jobs, not this plan).
    "embedding_ivf_int8": 1,
    # round-7 continuation (plans reviewed 2026-08-15): IVM refresh =
    # the one big old⋈old exchange pair collapses under AQE to a
    # single join key exchange, delta terms broadcast (measured 1);
    # geo join = broadcast cell join, 0; zonemap = the monthly agg
    # (the pruned scan adds none); MMR = 4 per-round ranking windows
    # + candidate re-keys, ALL candidate-set-sized (≤ queries × N
    # rows — measured 7, +1 slack); linkage = blocked self-join
    # broadcasts at sf0.001 (budget 2 for the shuffle-hash flip at
    # scale); bpe_learn's returned frame is a driver literal (the
    # training jobs are separate, like index builds); bpe_tokenize =
    # the token-count agg.
    "join_incremental_view": 2,
    "geo_radius_join": 1,
    "layout_zonemap_prune": 1,
    "embedding_mmr_rerank": 8,
    "link_fellegi_sunter": 2,
    "text_bpe_learn": 0,
    "text_bpe_tokenize": 1,
    # round-7 post-continuation trio (plans reviewed 2026-08-15, sf0.001
    # AND sf0.01): geo NN = one per-point ranking exchange, candidate
    # cell join broadcasts (budget 3 allows the shuffle-hash flip at
    # scale: +2 for the join's two sides); quantile bucketing = the
    # bucket-balance agg (boundary sample is a bounded bottom-k);
    # negative sampling = bucket-probe equi-join + per-anchor ranking
    # (measured 2, +2 for the candidate join's broadcast→shuffle flip).
    "geo_nearest_neighbor": 3,
    "layout_quantile_buckets": 1,
    "sample_negatives_contrastive": 4,
    # round-8 continuation (plans reviewed at sf0.001 AND sf0.01):
    # decontaminate = eval-gram distinct (eval-sized) + train-id
    # groupBy, eval grams broadcast (budget 3 allows the AQE
    # broadcast→shuffle flip on a corpus-sized eval set);
    # bpe_tokenize_large = the token-count agg (training jobs are
    # separate, merge list is a broadcast variable);
    # blocklist = blocked-id distinct + broadcast blocklist join +
    # broadcast anti join (measured 2, budget 4 for the anti-join
    # flip when the blocked set scales).
    "text_decontaminate": 3,
    "text_bpe_tokenize_large": 1,
    "curation_blocklist_filter": 4,
    # golden records: survivorship lobes only (CC rounds run as
    # checkpointed jobs) — component groupBy + mode counts + argmax
    # window (measured 3, +2 for broadcast→shuffle flips at scale);
    # quality percentile: the exact-quantiles two-phase machinery
    # (histogram groupBy + bucketed cumsum + offsets + final agg) +
    # the threshold join back — everything after the first exchange
    # is histogram-sized (measured 8, +1 slack).
    "link_golden_records": 5,
    "curation_quality_percentile": 9,
    # z-order prune: the final agg only (layout write + zone-map scans
    # are separate jobs); evolving scan: the lang groupBy.
    "layout_zorder_prune": 1,
    "scan_schema_evolution": 1,
    # embargo split = the split groupBy + countDistinct's expand/merge
    # pair collapses to 2 measured; markov = per-user window + pair agg
    # + row-total agg + the totals join (measured 4, KB after the
    # window).
    "sample_temporal_embargo_split": 2,
    "events_markov_transitions": 4,
    # quota mixing: the per-source row_number partition + the count
    # aggregate feeding the KB-state seat apportionment (measured 2 at
    # both SFs; +1 for an AQE broadcast->shuffle flip of the quota
    # join if sources ever stopped being KB-sized).
    "sample_quota_mix": 3,
    # sequence packing: the per-doc pre-aggregate + the cumsum bucket
    # exchange + the offsets equi-join (measured 3 at both SFs; the
    # bounds frame rides a KB broadcast, see NESTED_LOOP_OK).
    "text_pack_chunks": 4,
    # homoglyph folding: scan + translate projection, zero exchanges
    # (measured 0 at both SFs).
    "text_homoglyph_fold": 0,
    # r10 star-form grouped LSH: the rep-level candidate dedup; the
    # shingle->signature groupBy and the identical-signature collapse
    # window run in the collapse checkpoint's own job, and member edges
    # are a projection of its output (measured 1 at both SFs).
    "dedup_minhash_grouped": 1,
    # r10 SemDeDup: the within-cell qualifying self-join and the
    # per-vector verdict joins and min-qualifier groupBy (the
    # identical-vector collapse window runs in its checkpoint's own
    # job; measured 4 at both SFs; every exchange is cell- or
    # id-keyed, none data-cartesian).
    "embedding_semdedup_prune": 4,
    # r10 epoch shuffle: the per-shard ranking window's single
    # exchange (the md5 key is scan-stage; measured 1 at both SFs).
    "sample_epoch_shuffle": 1,
    # LM perplexity (CCNet stupid backoff): the one n-gram count
    # aggregate (its exchange REUSED by the context join, which
    # broadcasts), the position stream and the score table both
    # hash-partitioned for the first lookup (AQE turns the three
    # lookups into broadcast joins of the one score table once its size
    # is known, after both shuffles ran), and the final per-doc groupBy
    # (measured 4 + 3 reused at sf0.001 and sf0.01).
    "text_lm_perplexity": 4,
    # edges->survivors probe (the composed dedup_survivors left the
    # headline for this persisted-edge form, VERDICT r10 #5): the
    # RETURNED plan is the node frame left-joined to the checkpointed
    # last CC pass, which broadcasts (CC passes are separate
    # checkpointed jobs); the edge build never appears — it's a
    # parquet read. Measured 0 at sf0.001 and sf0.01.
    "dedup_survivors_from_edges": 0,
    # r12 persisted LM index (VERDICT r11 #4). Build: the RETURNED
    # plan is the trigram rows of the count table read back from
    # parquet — the count aggregation runs at write time as separate
    # jobs (measured 0 at both SFs). Score: the one count table read
    # back, the position stream and the score table hash-partitioned
    # for the first lookup before AQE broadcasts the score table, and
    # the final per-doc groupBy (measured 3 at sf0.001 both as three
    # tables and as one).
    "text_lm_index_build": 0,
    "text_lm_index_score": 3,
    # r12 DSIR: one shared (doc,bucket) feature aggregate (its
    # exchange REUSED by the distribution and scoring consumers — the
    # corpus is scanned and gram-exploded once, nothing corpus-sized
    # materialized; the earlier localCheckpoint form went superlinear
    # at the sf10 octave), the ≤1024-row bucket-distribution
    # aggregate, the final per-doc weight groupBy, plus the duplicated
    # feature exchange the plan text still prints alongside the
    # ReusedExchange ref; the log-ratio attach is a broadcast join and
    # select's top-k is TakeOrderedAndProject, so k never adds an
    # exchange (measured 4 + 1 reused at both SFs).
    "sample_dsir_weights": 4,
    "sample_dsir_select": 4,
    # r12 DSIR index score leg: featurize-the-shard aggregate + the
    # final per-doc weight sum; the persisted ≤1024-row distribution
    # table rides a broadcast (measured 2 at both SFs).
    "sample_dsir_index_score": 2,
}


def test_budget_covers_every_headline_query():
    stale = sorted(set(SHUFFLE_BUDGET) - set(entry.queries()))
    assert not stale, (
        f"budgets for queries the registry no longer has: {stale} — "
        "drop the budget or follow the rename"
    )


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGET))
def test_headline_query_stays_in_shuffle_budget(spark, sf_dir, name):
    df = entry.queries()[name](spark, sf_dir)
    df.collect()  # AQE final plan
    executed = df._jdf.queryExecution().executedPlan().toString()
    # count only the final AQE plan, not the appended initial plan;
    # ReusedExchange lines textually mention the exchange they reuse
    # but cost no new shuffle — don't count them
    final = executed.split("== Initial Plan ==")[0]
    shuffles = sum(
        1
        for line in final.splitlines()
        if "Exchange hashpartitioning" in line and "ReusedExchange" not in line
    )
    assert shuffles <= SHUFFLE_BUDGET[name], (
        f"{name}: {shuffles} hash exchanges, budget "
        f"{SHUFFLE_BUDGET[name]} — plan regressed (or update the "
        f"budget if intentional)\n{final}"
    )
