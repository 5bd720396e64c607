"""Guards on the driver verification window (VERDICT r01 item 5).

The correctness driver hash-checks only the first ``_DRIVER_WINDOW``
registry entries, so the window composition is a contract: every slot
must be oracle-checkable and every high-value query must sit inside it.
These tests fail the build if a future registration silently pushes a
§2 operator or a hash-checked twin past the window.
"""

from __future__ import annotations

from pathlib import Path

import __spark_entry__ as entry_mod

REPO = Path(__file__).resolve().parents[1]
WINDOW = entry_mod._DRIVER_WINDOW

# queries the judge explicitly required inside the window (VERDICT r01)
REQUIRED_IN_WINDOW = {
    # r12 same-round rotation: the persisted LM index lifecycle under
    # the hard hash check the round it ships (append pins incremental
    # == full; score pins the daily read path). The two r8 entries
    # with the longest tenure — link_fellegi_sunter,
    # embedding_ivf_int8, 4 window rounds each — rotated to the CI
    # tail (linkage keeps link_golden_records; embedding keeps 5 reps)
    "text_lm_index_append",
    "text_lm_index_score",
    # r12 same-round rotation (2): DSIR importance resampling —
    # weights + exact-integer Gumbel top-k. text_decontaminate and
    # curation_quality_percentile (entered r9, three window rounds
    # served) rotated to the CI tail; text keeps six window reps,
    # quality_curation keeps dq_expectations + curation_pipeline
    "sample_dsir_weights",
    "sample_dsir_select",
    # hash-checked LSH/ANN twins
    "dedup_minhash_poly",
    "dedup_simhash_poly",
    "dedup_incremental_lsh",
    "embedding_ivf_sqlcheck",
    "embedding_near_dup_sqlcheck",
    "embedding_ann_sqlcheck",
    # temporal trio
    "join_asof_backward",
    "join_range_interval",
    "scd2_order_status",
    # flagships
    "upsert_merge",
    "star_schema_build",
    "curation_pipeline",
    "q3_shipping_priority",
    "dq_expectations",
    # r9 rotation (VERDICT r8 #1): round-8 LLM flagships under the
    # driver's hard hash check
    "link_golden_records",
    "layout_zorder_prune",
    "text_bpe_tokenize_large",
    # r10 rotation (VERDICT r9 #4): round-9 flagships + the
    # hot-bucket-guard star form (VERDICT r9 #1)
    "sample_quota_mix",
    "text_pack_chunks",
    "text_homoglyph_fold",
    "dedup_minhash_grouped",
    # the retired multimodal family's four slots: curation-pipeline
    # code — the persisted-LSH probe leg, the edges build leg, the LM
    # count-index build and the exact_dedup fingerprint groups
    "dedup_incremental_lsh_probe",
    "dedup_edges_build",
    "text_lm_index_build",
    "dedup_exact_groups",
    # r11 rotation (VERDICT r10 #1): SemDeDup pruning and the epoch
    # shuffle; the composed kill chain dedup_survivors served its r11
    # window round and moved to the CI tail in r12 — its recursive-CTE
    # oracle semantics stay under the hard hash check via
    # dedup_survivors_from_edges (identical oracle)
    "embedding_semdedup_prune",
    "sample_epoch_shuffle",
    # r12 rotation (VERDICT r11 #1): round-11 flagships — the two
    # exact fixed-point LM scorers, large-star/small-star connected
    # components, and the persisted edges→survivors probe leg
    "text_lm_perplexity",
    "text_lm_kneser_ney",
    "dedup_components_star",
    "dedup_survivors_from_edges",
    # §2 coverage representatives (one per family; the r9 rotation
    # moved the redundant siblings — entity_type/try_cast,
    # flatten_struct, profile_catalog, sort_limit_topk,
    # join_named_key_left — to the CI tail sweep; the r10 rotation
    # moved scalar_to_usd, profile_report_json, agg_stats, text_winnow_fingerprints,
    # sample_hash_stratified, dedup_ngram_jaccard, dedup_edit1_names
    # and text_bpe_learn there, each leaving a family sibling under
    # the hard hash check)
    "scan_project_filter",
    "incremental_slice",
    "scalar_part_suite",
    "dim_date_full",
    "json_extract_agg",
    "profile_orders",
    "surrogate_key_dim",
    "agg_grouping_sets",
    "join_inner_fk_agg",
    "join_left_null_retention",
    "join_self_dual_role",
}


def test_window_is_exactly_the_curated_list():
    names = list(entry_mod.queries())
    assert names[:WINDOW] == entry_mod._WINDOW_ORDER


def test_every_window_slot_has_an_oracle():
    names = list(entry_mod.queries())[:WINDOW]
    oracles = entry_mod.oracle_sql()
    missing = [n for n in names if n not in oracles or not oracles[n].strip()]
    assert not missing, f"window slots without oracle SQL: {missing}"


def test_required_queries_inside_window():
    head = set(list(entry_mod.queries())[:WINDOW])
    missing = REQUIRED_IN_WINDOW - head
    assert not missing, f"required queries outside the driver window: {missing}"


def test_no_oracle_queries_have_checked_twins():
    """Every registered query either has an oracle or a documented
    bit-identical twin that is oracle-checked inside the window."""
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    head = set(list(qs)[:WINDOW])
    for name in qs:
        if name in oracles:
            continue
        twin = entry_mod._NO_ORACLE_TWINS.get(name)
        assert twin is not None, f"{name} has no oracle and no documented twin"
        assert twin in oracles, f"twin {twin} of {name} has no oracle"
        assert twin in head, f"twin {twin} of {name} is outside the driver window"


def test_window_names_unique():
    assert len(set(entry_mod._WINDOW_ORDER)) == len(entry_mod._WINDOW_ORDER)


def test_window_rotation_rules():
    """The rotation discipline the verdicts enforced by precedent
    (r8 #1 .. r11 #1), codified per VERDICT r11 #8: every flagship
    rotated in serves >= 1 full round before it can leave, every
    family that ever held a slot keeps >= 1 representative, and every
    parked no-oracle query's twin stays in the window. The mechanical
    check lives next to the ledger in registry/_window.py; the gate
    runs this test as its own stage."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.registry import (
        _window as W,
    )

    violations = W.rotation_violations()
    assert not violations, "window rotation rule violations:\n" + "\n".join(
        violations
    )
    # ledger hygiene: tenure entries must reference live window names
    stale = set(W._ENTERED_ROUND) - set(W._WINDOW_ORDER)
    assert not stale, f"rotation ledger entries not in the window: {stale}"
    # family reps must be real registry names (catch typos at rotation
    # time, not at verdict time)
    all_names = set(entry_mod.queries())
    bad = {
        n for reps in W._FAMILY_REPS.values() for n in reps
    } - all_names
    assert not bad, f"family reps not registered: {bad}"


def test_window_outputs_are_canonicalizer_safe(spark, sf_dir):
    """Every window query must emit only scalar columns: the driver's
    pandas canonicalizer sorts/hashes row tuples and crashes on
    array/map/struct/binary cells (r01 lost profile_catalog and
    text_winnow_fingerprints to exactly this). Serialize complex
    outputs to strings (array_join / to_json) before returning."""
    from pyspark.sql import types as T

    qs = entry_mod.queries()
    offenders = []
    for name in list(qs)[:WINDOW]:
        df = qs[name](spark, sf_dir)
        for f in df.schema.fields:
            if isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
            ):
                offenders.append((name, f.name, f.dataType.simpleString()))
    assert not offenders, f"non-scalar window outputs: {offenders}"


def test_sf001_resolves_relative_sf_dir(sf_dir, tmp_path, monkeypatch):
    """A relative $SPARK_GRAFT_SF_DIR (``sf0.1``) must still give
    entry() an absolute, existing sf0.001 root: the value's own
    sibling when it exists, else the default root's sibling."""
    import os
    import subprocess
    import sys

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.registry._shared import (
        _sf001_dir,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark"
        ".registry._shared import SF001; print(SF001)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": "sf0.1"},
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip().splitlines()[-1]
    assert out == sf_dir

    (tmp_path / "sf0.1").mkdir()
    (tmp_path / "sf0.001").mkdir()
    monkeypatch.chdir(tmp_path)
    assert _sf001_dir("sf0.1") == str(tmp_path / "sf0.001")


def test_readme_registry_block_in_sync():
    """The README's generated registry table must match _REGISTRY
    exactly (VERDICT r6 item 8): a registered-but-undocumented query,
    a stale row, or hand-edits inside the generated block fail here —
    the fix is one `python tools/gen_registry_docs.py`."""
    import re
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    import gen_registry_docs as gen

    with open(REPO / "README.md") as f:
        text = f.read()
    m = re.search(
        re.escape(gen.BEGIN) + r".*?" + re.escape(gen.END), text, re.DOTALL
    )
    assert m, "README.md lost its REGISTRY block markers"
    assert m.group(0) == gen.render_block(), (
        "README registry block out of date — run "
        "python tools/gen_registry_docs.py"
    )


def test_survey_status_block_in_sync():
    """SURVEY §8's generated current-status block must match the live
    registry + GATE.json (VERDICT r8 #8: six rounds of hand-written
    status narrative kept accreting stale counts — the narrative moved
    to SURVEY_HISTORY.md and the current state is generated). The fix
    is one `python tools/gen_survey_status.py`."""
    import re
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    import gen_survey_status as gen

    with open(REPO / "SURVEY.md") as f:
        text = f.read()
    m = re.search(
        re.escape(gen.BEGIN) + r".*?" + re.escape(gen.END), text, re.DOTALL
    )
    assert m, "SURVEY.md lost its STATUS block markers"
    assert m.group(0) == gen.render_block(), (
        "SURVEY status block out of date — run "
        "python tools/gen_survey_status.py"
    )


def test_plans_md_in_sync_with_registry():
    """The written plan audit (PLANS.md) must cover exactly the live
    registry (VERDICT r7 item 5): registering a query without
    regenerating the audit — or removing one and leaving a stale row —
    fails here. The fix is one `python tools/plan_report.py`."""
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    import plan_report

    assert plan_report.check() == 0, (
        "PLANS.md out of sync with the registry — run "
        "python tools/plan_report.py"
    )


def test_readme_coverage_table_references_only_live_queries():
    """Every backticked query name in the hand-maintained coverage
    table must still exist in the registry — renames can't leave
    stale documentation."""
    import re

    with open(REPO / "README.md") as f:
        text = f.read()
    cov = text.split("## Operator coverage")[1].split("## Design for scale")[0]
    live = set(entry_mod._REGISTRY)
    # backticked tokens that LOOK like registry names (lower_snake
    # with at least one underscore, no dots/slashes/parens)
    refs = {
        t
        for t in re.findall(r"`([a-z0-9_]+)`", cov)
        if "_" in t
    }
    # module/function tokens that are not query names
    non_queries = {t for t in refs if t not in live}
    stale = {
        t
        for t in non_queries
        # a name matching a query-ish prefix of the registry is a
        # strong signal it WAS a query once — flag it
        if any(t.split("_")[0] == q.split("_")[0] for q in live)
        and not t.endswith(("_py", "_md"))
        and t.startswith(
            tuple(sorted({q.split("_")[0] + "_" for q in live}))
        )
    }
    # known non-query identifiers referenced in the table
    allowed = {
        "dedup_latest_wins", "text_pii_scrub",  # real queries (sanity)
    } & live
    stale -= allowed
    assert not stale, f"coverage table references unknown queries: {stale}"


def test_readme_tpch_prose_matches_registry():
    """VERDICT r10 #6: the hand-written TPC-H coverage prose claimed
    q2/q11/q16/q20 'stay unregistrable, permanently' three rounds
    after they were registered via the synthetic partsupp. The
    generated-block guard can't see hand prose, so pin the two facts
    the prose states: (a) the 'N of 22' count must equal the number
    of canonical TPC-H entries actually live, and (b) no live query
    may be described as unregistrable/unimplemented anywhere in the
    coverage section."""
    import re

    with open(REPO / "README.md") as f:
        text = f.read()
    cov = text.split("## Operator coverage")[1].split("## Design for scale")[0]
    live = set(entry_mod._REGISTRY)

    canonical = {
        1: "q1_pricing_summary", 2: "q2_min_cost_supplier",
        3: "q3_shipping_priority", 4: "q4_priority_exists",
        5: "q5_local_supplier_volume", 6: "q6_forecast_revenue",
        7: "q7_volume_shipping", 8: "q8_market_share",
        9: "q9_product_profit", 10: "q10_returned_items",
        11: "q11_important_stock", 12: "q12_priority_by_delay",
        13: "q13_customer_distribution", 14: "q14_promo_revenue",
        15: "q15_top_supplier", 16: "q16_supplier_part_counts",
        17: "q17_small_quantity_revenue", 18: "q18_large_volume_customer",
        19: "q19_disjunctive_revenue", 20: "q20_excess_stock",
        21: "q21_waiting_supplier", 22: "q22_dormant_customers",
    }
    n_live = sum(1 for q in canonical.values() if q in live)
    m = re.search(r"TPC-H classics \((\d+) of 22", cov)
    assert m, "README coverage table lost its TPC-H row"
    assert int(m.group(1)) == n_live, (
        f"README claims {m.group(1)}/22 TPC-H but registry has {n_live}/22"
    )
    # every live canonical query must be listed in the row
    row = next(ln for ln in cov.splitlines() if "TPC-H classics" in ln)
    unlisted = [q for q in canonical.values() if q in live and q not in row]
    assert not unlisted, f"live TPC-H queries missing from README row: {unlisted}"
    # negative-claim words must not be attached to live queries
    for word in ("unregistrable", "permanently"):
        assert word not in cov, (
            f"coverage prose still contains {word!r} — stale negative claim"
        )
