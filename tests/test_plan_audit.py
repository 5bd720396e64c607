"""Whole-surface plan audit: every registered query's physical plan
is swept for patterns that do not survive a 100× scale-up.

This is the cheap insurance the per-operator plan tests can't give:
any NEW query added to `__spark_entry__.queries()` is automatically
audited — a cartesian product or a row-at-a-time Python UDF slipping
into the surface fails CI here, not in a 100 TB run.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

# queries whose plan legitimately contains a nested-loop join:
# dq_expectations cross-joins two ONE-ROW aggregate frames (verdict
# assembly), which Spark plans as BroadcastNestedLoopJoin — constant
# cost regardless of table size.
NESTED_LOOP_OK = {
    "dq_expectations",
    # brute-force exact ANN baselines: the broadcast cross product
    # (small query/dim side broadcast against the streaming corpus) IS
    # the documented semantics — they exist as recall oracles for the
    # scale paths (embedding_ann_lsh / embedding_ivf_topk /
    # embedding_near_dup_lsh), which this audit keeps nested-loop-free.
    "embedding_topk_bruteforce",
    "embedding_near_dup_exact",
    # bitext mining's oracle-exact neighbor lists use the same
    # broadcast brute-force baseline (cosine_topk) by construction —
    # at corpus scale the operator takes topk_fn=ivf_probe_index and
    # this query stays the exact recall/margin oracle.
    "embedding_bitext_mine",
    # tf-idf scoring cross-joins the ONE-ROW corpus-size aggregate —
    # same constant-cost shape as dq_expectations' verdict assembly.
    "text_tfidf_top3",
    # quantile-gated curation cross-joins the ONE-ROW exact-median
    # aggregate as the data-dependent filter bound.
    "curation_quality_gate",
    # BM25 cross-joins the ONE-ROW corpus-stats aggregate (N docs,
    # total tokens) — constant-cost, same shape as text_tfidf_top3.
    "text_bm25_top5",
    # RFM cross-joins the ONE-ROW quintile-boundary aggregate.
    "customer_rfm_segments",
    # the synthetic partsupp generator cross-joins the ONE-ROW
    # supplier-count aggregate (plans/tpch_partsupp.synthetic_partsupp)
    # — |supplier| as a broadcast scalar, same constant-cost shape as
    # text_tfidf_top3; the generator itself introduces no shuffle.
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q16_supplier_part_counts",
    "q20_excess_stock",
    # PMI cross-joins the ONE-ROW corpus-size aggregate (broadcast
    # scalar N for the lift numerator) — same shape as text_tfidf_top3.
    "text_pmi_pairs",
    # LM scoring cross-joins the ONE-ROW corpus-token-total aggregate
    # (broadcast scalar T for the unigram backoff denominator) — same
    # constant-cost shape as text_tfidf_top3/text_pmi_pairs. The
    # percentile-gate composition (curation_lm_perplexity_gate)
    # checkpoints the scored frame and stays nested-loop-free.
    "text_lm_perplexity",
    # Kneser-Ney sibling: the ONE-ROW bigram-type total N1+(..) rides
    # the same one-row broadcast cross join.
    "text_lm_kneser_ney",
    # score-from-persisted-index leg: identical scoring arithmetic,
    # so the same ONE-ROW corpus-total broadcast cross join (the
    # build/append legs are pure count writes — no totals, no BNLJ).
    "text_lm_index_score",
    # correlated-sampling join estimator cross-joins three ONE-ROW
    # frames (tau_a, tau_b, true-join audit) onto KB-scale samples.
    "sketch_join_cardinality",
    # int8 serving tier uses the same broadcast brute-force shape as
    # embedding_topk_bruteforce (small query side against one corpus
    # scan) — the documented semantics, not an accident.
    "embedding_ann_int8",
    # window PMI cross-joins the ONE-ROW total-token aggregate.
    "text_pmi_window",
    # HLL index query cross-joins the ONE-ROW exact-count audit onto
    # the ONE-ROW window estimate.
    "sketch_hll_index_daily",
    # quantile-sample audit cross-joins the ONE-ROW total-count frame
    # onto the value histogram; the est⋈exact join is 3 rows × 3 rows.
    "sketch_quantile_sample",
    # skew diagnostic cross-joins the ONE-ROW (total, n_keys) frame
    # onto the KB-scale top-k.
    "skew_diagnose_events",
    # ABC classification cross-joins the ONE-ROW grand-total aggregate.
    "pareto_abc_lineitem",
    # TPC-H Q22's scalar subquery (global positive-balance average)
    # cross-joins the ONE-ROW (sum, count) aggregate — constant cost.
    "q22_dormant_customers",
    # deterministic surrogate keys cross-join the ONE-ROW exact
    # [min, max] bounds aggregate (surrogate.attach_order_bucket) —
    # the KB-sized broadcast that replaced sampled range boundaries.
    "surrogate_key_dim",
    "star_schema_build",
    # r7 two-phase quantile rewrite: the exact-median and rarity
    # ranks now ride attach_order_bucket / exact_quantiles, whose
    # ONE-ROW [min, max] bounds (and one-row n-rows frame) attach via
    # broadcast — the same constant-cost KB-broadcast shape as
    # surrogate_key_dim, traded for the retired SinglePartition
    # window (the strictly worse plan this audit exists to prevent).
    "agg_exact_median",
    "text_rarity_score",
    # r8: per-source quality-quartile curation rides the same
    # exact_quantiles machinery — the ONE-ROW global [min, max]
    # bounds frame broadcasts (attach_order_bucket's value buckets
    # are global; per-source state rides the equi-joined offsets).
    "curation_quality_percentile",
    # r11: the LM-perplexity gate rides the same exact_quantiles
    # machinery (attach_order_bucket's ONE-ROW [min, max] bounds
    # broadcast, as curation_quality_percentile above); the scored
    # frame itself is checkpointed first, so these are the ONLY
    # nested loops — without the checkpoint the quantile branches
    # replicated the whole LM subplan (8 flags, all the same one-row
    # shape, plus real recomputation).
    "curation_lm_perplexity_gate",
    # r9: sequence packing rides partitioned_cumsum, whose
    # attach_order_bucket stage broadcasts the same ONE-ROW [min, max]
    # bounds frame — identical constant-cost shape as
    # surrogate_key_dim / agg_exact_median above.
    "text_pack_chunks",
    # MMR's CANDIDATE stage is the brute cosine baseline
    # (cosine_topk: broadcast queries × corpus scan), same documented
    # shape as embedding_topk_bruteforce; the greedy re-rank stages
    # themselves are equi-joins on query_id. At corpus scale the
    # candidates come from ivf_probe_index instead.
    "embedding_mmr_rerank",
}

# row-at-a-time Python eval (BatchEvalPython) is never acceptable, and
# no registry query plans an Arrow-batched Python UDF (ArrowEvalPython)
# either; MapInPandas / FlatMapGroupsInPandas stay the sanctioned
# Python boundary (stateful ops).


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_plan_has_no_scale_red_flags(spark, sf_dir, name):
    df = entry.queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "CartesianProduct" not in plan, f"{name}: cartesian product\n{plan}"
    if name not in NESTED_LOOP_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join\n{plan}"
        )
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF — use Arrow/pandas\n{plan}"
    )
    assert "ArrowEvalPython" not in plan, (
        f"{name}: unexpected Python boundary\n{plan}"
    )


# windows whose required child distribution is SinglePartition but
# whose INPUT is provably KB-state, not data-sized — the only two
# exemptions the sweep allows:
#   dq_benford_totalprice — running share over the 9-row leading-digit
#     histogram (Benford audit); input is exactly ≤ 9 rows.
#   feature_class_weights — running total over the per-class count
#     frame; input is |classes| rows (a label-cardinality constant).
# Everything else must rank/cumsum through the two-phase bucketed
# forms (surrogate.bucketed_rank / features.partitioned_cumsum) — a
# data-sized single-reducer window is the canonical 100× scale
# failure (VERDICT r6 item 1; text_rarity_score's vocabulary rank was
# the last one, retired in r7).
#   sample_quota_mix — largest-remainder seat apportionment over the
#     per-source quota frame; input is |sources| rows (a corpus-mix
#     cardinality constant, tens of sources), quotas then BROADCAST
#     back onto the corpus scan. The data-sized exchange in that plan
#     is the per-source row_number hash partition, not this one.
#   sample_dsir_weights / sample_dsir_select — DSIR grand totals
#     (TP, TQ) over the hashed-feature bucket frame; input is
#     ≤ n_buckets (1024) rows regardless of corpus size. The
#     data-sized exchanges in those plans are the gram-bucket count
#     and per-doc weight-sum aggregations; the ≤1024-row log-ratio
#     table then BROADCASTS onto the scoring join.
WINDOW_SINGLE_PARTITION_OK = {
    "dq_benford_totalprice",
    "feature_class_weights",
    "sample_quota_mix",
    "sample_dsir_weights",
    "sample_dsir_select",
    "sample_dsir_index_score",
}

_DEPTH_RE = __import__("re").compile(r"^[\s:+*-]*")


def _subtree(lines: list[str], i: int) -> list[str]:
    d = len(_DEPTH_RE.match(lines[i]).group(0))
    out = []
    for j in range(i + 1, len(lines)):
        if len(_DEPTH_RE.match(lines[j]).group(0)) <= d and lines[j].strip():
            break
        out.append(lines[j])
    return out


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_no_data_sized_single_partition_window(spark, sf_dir, name):
    """No Window operator may require a SinglePartition child
    exchange unless its input is a KB-state frame (allowlist above):
    the window's FIRST exchange below it is the distribution it
    demanded, and SinglePartition there means every input row funnels
    through one task regardless of cluster size."""
    import re

    df = entry.queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    lines = plan.splitlines()
    offenders = []
    for i, line in enumerate(lines):
        if re.search(r"\bWindow(GroupLimit)? \[", line):
            exch = [s for s in _subtree(lines, i) if "Exchange" in s]
            if exch and "SinglePartition" in exch[0]:
                offenders.append(line.strip()[:120])
    if name in WINDOW_SINGLE_PARTITION_OK:
        assert offenders, (
            f"{name}: allowlisted for a SinglePartition window but none "
            "found — remove it from WINDOW_SINGLE_PARTITION_OK"
        )
    else:
        assert not offenders, (
            f"{name}: Window over SinglePartition exchange — use "
            f"bucketed_rank / partitioned_cumsum:\n" + "\n".join(offenders)
        )
