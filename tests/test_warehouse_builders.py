"""Pipeline golden tests: VC-shaped fixtures (FIXTURES.md §2) through
the dim/fact builders, asserting the reference's join semantics —
orphan drops on inner joins, NULL retention on left joins, USD
round-2, yyyymmdd keys, deterministic surrogate keys."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark import schemas
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
    dim_date as DDATE,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
    warehouse as WH,
)

TS = dt.datetime(2013, 7, 1, 12, 0, 0)


@pytest.fixture(scope="module")
def company(spark):
    rows = [
        # office_id, object_id, description, region, address1, address2,
        # city, zip, state, country, lat, lon, created, updated
        (1, "c:1", "desc", " West ", "#12 Main St", "Suite 9", " SF ", "94","CA", " us ", None, None, TS, TS),
        (2, "c:2", None, "", "??", None, "", None, None, "", None, None, TS, TS),
        (3, "f:1", None, None, ".323", " b ", None, None, None, None, None, None, TS, TS),
        (4, "p:9", None, "East", None, None, "NY", None, None, "US", None, None, TS, TS),
    ]
    return spark.createDataFrame(rows, schema=schemas.STAGING["company"])


def test_dim_company_golden(spark, company):
    out = {r["nk_company_id"]: r for r in WH.build_dim_company(company).collect()}
    assert len(out) == 4
    c1 = out["c:1"]
    assert c1["entity_type"] == "company"
    assert c1["full_address"] == "12 main st, suite 9"
    assert c1["region"] == "west"
    assert c1["city"] == "sf"
    assert c1["country_code"] == "US"
    c2 = out["c:2"]
    assert c2["entity_type"] == "company"
    assert c2["full_address"] is None  # '??' cleans to NULL, a2 NULL
    assert c2["region"] is None and c2["city"] is None and c2["country_code"] is None
    f1 = out["f:1"]
    assert f1["entity_type"] == "fund"
    assert f1["full_address"] is None  # both sides invalid → NULL
    p9 = out["p:9"]
    assert p9["entity_type"] is None  # unknown prefix → NULL (F3)
    # deterministic surrogate keys: dense rank over natural key order
    sks = [out[k]["sk_company_id"] for k in sorted(out)]
    assert sks == [1, 2, 3, 4]


@pytest.fixture(scope="module")
def dim_date(spark):
    return DDATE.build_dim_date(spark)


def test_dim_funds_golden(spark, dim_date):
    rows = [
        ("fu1", "f:1", "  Alpha Fund ", dt.date(2013, 7, 4), Decimal("100.00"), "CAD", None, "  Desc ", TS, TS),
        ("fu2", "f:2", "BETA", dt.date(2035, 1, 1), Decimal("50.00"), "IDR", None, "", TS, TS),
        ("fu3", "f:3", "Gamma", None, None, "USD", None, None, TS, TS),
    ]
    funds = spark.createDataFrame(rows, schema=schemas.STAGING["funds"])
    out = {r["nk_fund_id"]: r for r in WH.build_dim_funds(funds, dim_date).collect()}
    a = out["f:1"]
    assert a["fund_name"] == "alpha fund"
    assert float(a["raised_amount_usd"]) == 72.00  # 100 CAD → 72.00
    assert a["funded_at"] == 20130704
    assert a["fund_description"] == "desc"
    b = out["f:2"]
    assert float(b["raised_amount_usd"]) == 50.00  # unknown currency passthrough
    assert b["funded_at"] == 20350101  # date key independent of dim_date span
    assert b["fund_description"] is None  # '' → NULL
    c = out["f:3"]
    assert c["funded_at"] is None
    assert float(c["raised_amount_usd"]) == 0.0 if c["raised_amount_usd"] is not None else True


def test_fct_investments_semantics(spark, dim_date):
    company = spark.createDataFrame(
        [(1, "c:1", None, None, None, None, None, None, None, None, None, None, TS, TS)],
        schema=schemas.STAGING["company"],
    )
    dim_company = WH.build_dim_company(company)
    funds = spark.createDataFrame(
        [("fu1", "f:1", "alpha", dt.date(2013, 1, 1), Decimal("1.00"), "USD", None, None, TS, TS)],
        schema=schemas.STAGING["funds"],
    )
    dim_funds = WH.build_dim_funds(funds, dim_date)
    fr_rows = [
        # round 10: in dim_date span → survives
        (10, "c:1", dt.date(2013, 7, 4), "series-a", None, Decimal("5.00"), None, None,
         None, None, None, None, None, None, "3", True, False, None, TS, TS),
        # round 11: outside span (2040) → dropped by inner join to dim_date
        (11, "c:1", dt.date(2040, 1, 1), "seed", None, Decimal("9.00"), None, None,
         None, None, None, None, None, None, "1", True, False, None, TS, TS),
    ]
    funding_rounds = spark.createDataFrame(fr_rows, schema=schemas.STAGING["funding_rounds"])
    inv_rows = [
        (1, 10, "c:1", "f:1", TS, TS),   # fully valid
        (2, 11, "c:1", "f:1", TS, TS),   # round out of span → NULL payload (left join)
        (3, 10, "c:9", "f:1", TS, TS),   # orphan company → dropped (inner)
        (4, 10, "c:1", "x:1", TS, TS),   # non-fund investor → dropped (inner)
    ]
    investments = spark.createDataFrame(inv_rows, schema=schemas.STAGING["investments"])
    out = {
        r["dd_investment_id"]: r
        for r in WH.build_fct_investments(
            investments, funding_rounds, dim_company, dim_funds, dim_date
        ).collect()
    }
    assert set(out) == {1, 2}  # orphans dropped, valid + null-payload kept
    assert out[1]["funded_at"] == 20130704
    assert out[1]["funding_round_type"] == "series-a"
    assert out[1]["num_of_participants"] == "3"
    assert float(out[1]["raised_amount_usd"]) == 5.00
    assert out[2]["funded_at"] is None  # left-join NULL payload
    assert out[2]["funding_round_type"] is None


def test_fct_acquisition_dual_role(spark, dim_date):
    company = spark.createDataFrame(
        [
            (1, "c:1", None, None, None, None, None, None, None, None, None, None, TS, TS),
            (2, "c:2", None, None, None, None, None, None, None, None, None, None, TS, TS),
        ],
        schema=schemas.STAGING["company"],
    )
    dim_company = WH.build_dim_company(company)
    acq_rows = [
        (1, "c:1", "c:2", "CASH", Decimal("100.00"), "GBP", TS, None, " Big Deal ", TS, TS),
        (2, "c:2", "c:1", "", None, "USD", TS, None, "", TS, TS),
        (3, "c:1", "c:9", "stock", None, "USD", TS, None, None, TS, TS),  # orphan acquired
    ]
    acq = spark.createDataFrame(acq_rows, schema=schemas.STAGING["acquisition"])
    out = {
        r["dd_acquisition_id"]: r
        for r in WH.build_fct_acquisition(acq, dim_company, dim_date).collect()
    }
    assert set(out) == {1, 2}
    r1 = out[1]
    sk = {r["nk_company_id"]: r["sk_company_id"] for r in dim_company.collect()}
    assert r1["sk_acquiring_company_id"] == sk["c:1"]
    assert r1["sk_acquired_company_id"] == sk["c:2"]
    assert float(r1["price_amount_usd"]) == 133.00
    assert r1["term_code"] == "cash"
    assert r1["acquisition_description"] == "big deal"
    assert r1["acquired_at"] == 20130701
    r2 = out[2]
    assert r2["sk_acquiring_company_id"] == sk["c:2"]
    assert r2["sk_acquired_company_id"] == sk["c:1"]
    assert r2["term_code"] is None and r2["acquisition_description"] is None


def test_fct_ipos_symbol_scrub(spark, dim_date):
    company = spark.createDataFrame(
        [(1, "c:1", None, None, None, None, None, None, None, None, None, None, TS, TS)],
        schema=schemas.STAGING["company"],
    )
    dim_company = WH.build_dim_company(company)
    ipo_rows = [
        ("7", "c:1", Decimal("1000.00"), "EUR", Decimal("10.00"), "USD", TS, " GOOG ", None, " Desc ", TS, TS),
        ("8", "c:1", None, "USD", None, "USD", TS, "123", None, None, TS, TS),
    ]
    ipos = spark.createDataFrame(ipo_rows, schema=schemas.STAGING["ipos"])
    out = {r["dd_ipo_id"]: r for r in WH.build_fct_ipos(ipos, dim_company, dim_date).collect()}
    assert out[7]["stock_symbol"] == "goog"
    assert float(out[7]["valuation_amount_usd"]) == 1140.00
    assert out[7]["public_at"] == 20130701
    assert out[8]["stock_symbol"] is None  # digits-only → NULL (F8)


def test_dim_people_and_bridge(spark):
    people = spark.createDataFrame(
        [
            ("p1", "p:1", "Ada", "Lovelace", "London", "Analytical"),
            ("p2", "p:2", None, "Turing", None, None),
            ("p3", "p:3", None, None, None, None),
        ],
        schema=schemas.STAGING["people"],
    )
    dim_people = WH.build_dim_people(people)
    got = {r["nk_people_id"]: r for r in dim_people.collect()}
    assert got["p:1"]["full_name"] == "Ada Lovelace"
    assert got["p:2"]["full_name"] == "Turing"  # single-sided name
    assert got["p:3"]["full_name"] is None

    company = spark.createDataFrame(
        [(1, "c:1", None, None, None, None, None, None, None, None, None, None, TS, TS)],
        schema=schemas.STAGING["company"],
    )
    dim_company = WH.build_dim_company(company)
    rel = spark.createDataFrame(
        [
            ("r1", "p:1", "c:1", "2010-01-02", "unknown", "true", "1", "CEO", "2013-01-01", "2013-01-01"),
            ("r2", "p:9", "c:1", "", "", "false", "2", "CTO", "2013-01-01", "2013-01-01"),  # orphan person
        ],
        schema=schemas.STAGING["relationships"],
    )
    bridge = WH.build_bridge_company_people(rel, dim_people, dim_company).collect()
    assert len(bridge) == 1  # orphan dropped
    b = bridge[0]
    assert b["relationship_start_at"] == 20100102
    assert b["relationship_end_at"] is None  # garbage date → NULL try-cast
    assert b["title"] == "CEO"
    assert b["sk_company_people_id"] == 1
    assert b["dd_relationship_id"] == "r1"  # the bridge's natural key


def test_surrogate_two_phase_dense_at_scale(spark):
    """Stress the two-phase rank: 100k rows over many buckets (AQE
    on) must still produce the exact dense 1..N sequence in key
    order — this is the test that would catch bucket-assignment
    drift between the counts branch and the data branch (the failure
    mode of the sampled-boundary design this replaced: two
    evaluations of repartitionByRange sampled different boundaries
    at sf0.1, corrupting keys)."""
    from pyspark.sql import functions as F

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.surrogate import (
        add_surrogate_key,
    )

    n = 100_000
    # non-monotonic insert order + string keys (exercises the UTF-8
    # big-endian order proxy and its shared-prefix bucket ties)
    df = spark.range(n).select(
        F.concat(F.lit("k"), F.lpad((F.col("id") * 7919 % n).cast("string"), 7, "0")).alias("nk")
    )
    out = add_surrogate_key(df, "sk", ["nk"], num_buckets=32)
    agg = out.agg(
        F.min("sk").alias("lo"), F.max("sk").alias("hi"),
        F.countDistinct("sk").alias("nd"), F.count(F.lit(1)).alias("cnt"),
    ).collect()[0]
    assert (agg.lo, agg.hi, agg.nd, agg.cnt) == (1, n, n, n)
    # spot-check order correctness: sk must be the rank of nk
    sample = out.orderBy("nk").limit(1000).collect()
    assert [r.sk for r in sample] == list(range(1, 1001))
    # offset continuation
    out2 = add_surrogate_key(df.limit(10), "sk", ["nk"], offset=500)
    assert {r.sk for r in out2.collect()} == set(range(501, 511))

# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
pytestmark = pytest.mark.slow
