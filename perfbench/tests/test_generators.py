"""Seeded generators: the same seed gives identical rows, another seed
does not, and the planted structure holds."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import gen_corpus
import gen_vc

SMALL = gen_vc.VCScale(
    companies=400, funds=60, people=200, rounds=400, ipos=40, acquisitions=60,
    relationships=300, history_days=100, new_days=2, new_share=0.05,
)


def row_hashes(table) -> np.ndarray:
    df = table.to_pandas()
    return pd.util.hash_pandas_object(df.astype(str), index=False).to_numpy()


def test_vc_same_seed_same_rows():
    a, days_a, ready_a = gen_vc.generate(7, SMALL)
    b, days_b, ready_b = gen_vc.generate(7, SMALL)
    for name in a:
        assert np.array_equal(row_hashes(a[name]), row_hashes(b[name])), name
        assert np.array_equal(days_a[name], days_b[name]), name
    for name in ready_a:
        assert np.array_equal(ready_a[name], ready_b[name]), name


def test_vc_other_seed_other_rows():
    a, _, _ = gen_vc.generate(7, SMALL)
    b, _, _ = gen_vc.generate(8, SMALL)
    for name in ("company", "funding_rounds", "investments", "relationships"):
        assert not np.array_equal(row_hashes(a[name]), row_hashes(b[name])), name


def test_vc_tables_match_staging_schemas():
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark import schemas

    tables, _, _ = gen_vc.generate(1, SMALL)
    for name, table in tables.items():
        assert table.column_names == schemas.STAGING[name].fieldNames(), name


def test_vc_facts_never_precede_their_entities():
    tables, days, ready = gen_vc.generate(3, SMALL)
    company_day = dict(zip(tables["company"].column("object_id").to_pylist(), days["company"]))
    fund_day = dict(zip(tables["funds"].column("object_id").to_pylist(), days["funds"]))
    round_day = days["funding_rounds"]
    inv = tables["investments"]
    for rid, funded, investor, day in zip(
        inv.column("funding_round_id").to_pylist(),
        inv.column("funded_object_id").to_pylist(),
        inv.column("investor_object_id").to_pylist(),
        days["investments"],
    ):
        assert day == round_day[rid - 1]  # same daily slice as its round
        if funded in company_day:
            assert company_day[funded] <= day
        if investor in fund_day:
            assert fund_day[investor] <= day
    acq = tables["acquisition"]
    for a, b, day in zip(
        acq.column("acquiring_object_id").to_pylist(),
        acq.column("acquired_object_id").to_pylist(),
        days["acquisition"],
    ):
        assert company_day.get(a, 0) <= day and company_day.get(b, 0) <= day


def test_vc_plants_orphans_and_new_days():
    _, days, ready = gen_vc.generate(5, SMALL)
    h, k = SMALL.history_days, SMALL.new_days
    assert np.any(ready["fct_investments"] == gen_vc.NEVER)
    assert np.any(ready["bridge_company_people"] == gen_vc.NEVER)
    for name in ("company", "funding_rounds", "investments"):
        new = days[name][days[name] >= h]
        assert set(new) == set(range(h, h + k)), name


def test_vc_hot_companies_are_history_companies():
    """The Zipf-hot companies hold most rounds; were one of them new, a
    single seed would pile its rounds onto the new days."""
    tables, days, _ = gen_vc.generate(9, SMALL)
    company_day = dict(zip(tables["company"].column("object_id").to_pylist(), days["company"]))
    funded = pd.Series(tables["funding_rounds"].column("object_id").to_pylist())
    for company in funded.value_counts().index[:5]:
        assert company_day[company] < SMALL.history_days


def test_corpus_same_seed_same_rows():
    a, kinds_a = gen_corpus.generate(11, 500)
    b, kinds_b = gen_corpus.generate(11, 500)
    assert np.array_equal(row_hashes(a), row_hashes(b))
    assert kinds_a == kinds_b


def test_corpus_other_seed_other_rows():
    a, _ = gen_corpus.generate(11, 500)
    b, _ = gen_corpus.generate(12, 500)
    assert not np.array_equal(row_hashes(a), row_hashes(b))


def _grams(text: str) -> set[str]:
    norm = "".join(ch for ch in text.lower() if ch.isascii() and ch.isalnum())
    return {norm[i:i + 3] for i in range(len(norm) - 2)}


def test_corpus_planted_structure():
    table, kinds = gen_corpus.generate(4, 800)
    assert table.num_rows == 800
    assert set(kinds) == {"unique", "near", "exact", "homoglyph", "boilerplate", "junk"}
    df = table.to_pandas()
    assert not df.text.str.contains(r"[0-9]").any()  # letter-only words
    boiler = df[df.cluster == -1].text.tolist()
    assert len(boiler) > 2
    assert len({t.lower() for t in boiler}) == len(boiler)  # distinct texts
    assert len({frozenset(_grams(t)) for t in boiler}) == 1  # identical gram sets


@pytest.mark.parametrize("seed", [1, 2])
def test_corpus_clusters_are_near_duplicates(seed):
    table, _ = gen_corpus.generate(seed, 600)
    df = table.to_pandas()
    df = df[(df.cluster > 0) & (df.cluster < gen_corpus.JUNK_CLUSTER)]
    sizes = df.groupby("cluster").size()
    for cluster in sizes[sizes > 1].index[:20]:
        texts = df[df.cluster == cluster].text.tolist()
        a, b = _grams(texts[0]), _grams(texts[1])
        if a and b and not any(ord(ch) > 127 for ch in texts[0] + texts[1]):
            assert len(a & b) / len(a | b) > 0.5
