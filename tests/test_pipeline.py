"""End-to-end orchestration-shell test: fixture staging zone →
run_warehouse_pipeline → warehouse parquet, asserting dependency
ordering output, FK-filter semantics, idempotent reruns, and the
incremental slice path."""

from __future__ import annotations

import datetime as dt
import os
import shutil
from decimal import Decimal

import pytest

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark import schemas
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
    orchestrate as ORCH,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
    pipeline as P,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import (
    io as SIO,
)

TS = dt.datetime(2013, 7, 1, 12, 0, 0)
TS_OLD = dt.datetime(2013, 6, 1, 12, 0, 0)
D = dt.date(2013, 7, 1)
TS_NEXT = dt.datetime(2013, 7, 2, 12, 0, 0)
D_NEXT = dt.date(2013, 7, 2)
DS_NEXT = "2013-07-03"  # slices created_at::date == 2013-07-02

# the tables a daily run merges into; the other three are rebuilt
MERGED = ("dim_company", "dim_funds", "fct_investments", "fct_ipos", "fct_acquisition")
FACT_KEYS = {
    "fct_investments": "dd_investment_id",
    "fct_ipos": "dd_ipo_id",
    "fct_acquisition": "dd_acquisition_id",
}


@pytest.fixture(scope="module")
def staging_dir(spark, tmp_path_factory):
    """Minimal but fully-linked VC universe: 2 companies + 1 fund
    entity, a fund, a funding round, 2 investments (one orphaned on a
    missing company), an IPO, an acquisition, a person + relationship."""
    root = tmp_path_factory.mktemp("staging")
    rows = {
        "company": [
            (1, "c:1", None, "west", "1 Main St", None, "sf", None, None, "us", None, None, TS, TS),
            (2, "c:2", None, "east", "2 Side St", None, "ny", None, None, "us", None, None, TS_OLD, TS_OLD),
            (3, "f:1", None, None, None, None, None, None, None, None, None, None, TS, TS),
        ],
        "funds": [
            ("10", "f:1", " Fund One ", D, Decimal("100.00"), "EUR", None, "desc", TS, TS),
        ],
        "funding_rounds": [
            (100, "c:1", D, "series-a", "a", Decimal("5.00"), Decimal("5.00"), "USD",
             None, None, None, None, None, None, "3", True, False, None, TS, TS),
        ],
        "investments": [
            (1000, 100, "c:1", "f:1", TS, TS),
            (1001, 100, "c:missing", "f:1", TS, TS),  # orphan → dropped
        ],
        "ipos": [
            ("500", "c:1", Decimal("1000.00"), "USD", Decimal("10.00"), "USD",
             TS, "ABC", None, "ipo desc", TS, TS),
        ],
        "acquisition": [
            (700, "c:1", "c:2", "cash", Decimal("50.00"), "USD", TS, None, "deal", TS, TS),
        ],
        "people": [
            ("p1", "p:1", "Ada", "Lovelace", None, "c:1"),
        ],
        "relationships": [
            ("r1", "p:1", "c:1", "2010-01-01", None, "false", "1", "CEO",
             "2013-07-01 12:00:00", "2013-07-01 12:00:00"),
        ],
    }
    for name, data in rows.items():
        spark.createDataFrame(data, schema=schemas.STAGING[name]).write.mode(
            "overwrite"
        ).parquet(f"{root}/{name}")
    return str(root)


@pytest.fixture(scope="module")
def next_day_staging(spark, staging_dir, tmp_path_factory):
    """The fixture staging zone plus one later day of new entities and
    facts only (created 2013-07-02): a company, a fund, a round, an
    investment, an IPO and an acquisition. A daily run of
    ``DS_NEXT`` after a full build of ``staging_dir`` is insert-only."""
    root = str(tmp_path_factory.mktemp("staging_next") / "staging")
    shutil.copytree(staging_dir, root)
    rows = {
        "company": [
            (4, "c:3", None, "south", "3 Elm St", None, "la", None, None, "us", None, None, TS_NEXT, TS_NEXT),
            (5, "f:2", None, None, None, None, None, None, None, None, None, None, TS_NEXT, TS_NEXT),
        ],
        "funds": [
            ("11", "f:2", " Fund Two ", D_NEXT, Decimal("200.00"), "USD", None, "desc 2", TS_NEXT, TS_NEXT),
        ],
        "funding_rounds": [
            (101, "c:3", D_NEXT, "series-a", "a", Decimal("7.00"), Decimal("7.00"), "USD",
             None, None, None, None, None, None, "2", True, False, None, TS_NEXT, TS_NEXT),
        ],
        "investments": [(1002, 101, "c:3", "f:2", TS_NEXT, TS_NEXT)],
        "ipos": [
            ("501", "c:3", Decimal("2000.00"), "USD", Decimal("20.00"), "USD",
             TS_NEXT, "DEF", None, "ipo 2", TS_NEXT, TS_NEXT),
        ],
        "acquisition": [
            (701, "c:3", "c:2", "stock", Decimal("80.00"), "USD", TS_NEXT, None, "deal 2", TS_NEXT, TS_NEXT),
        ],
    }
    for name, data in rows.items():
        spark.createDataFrame(data, schema=schemas.STAGING[name]).coalesce(1).write.mode(
            "append"
        ).parquet(f"{root}/{name}")
    return root


def _data_files(path: str) -> dict[str, int]:
    """Data file name -> size in bytes of one table directory."""
    return {
        n: os.path.getsize(os.path.join(path, n))
        for n in os.listdir(path)
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    }


def _rows(spark, path: str) -> list[tuple]:
    return sorted((tuple(r) for r in spark.read.parquet(path).collect()), key=repr)


def test_pipeline_end_to_end(spark, staging_dir, tmp_path):
    wh = str(tmp_path / "wh")
    manifest = P.run_warehouse_pipeline(spark, staging_dir, wh, audit=True)
    assert list(manifest) == list(P.WAREHOUSE_ORDER)
    assert manifest["dim_date"] == 29220
    assert manifest["dim_company"] == 3
    assert manifest["dim_funds"] == 1
    assert manifest["dim_people"] == 1
    assert manifest["fct_investments"] == 1  # orphan dropped (§1.4)
    assert manifest["fct_ipos"] == 1
    assert manifest["fct_acquisition"] == 1
    assert manifest["bridge_company_people"] == 1

    fact = spark.read.parquet(f"{wh}/fct_investments").collect()[0]
    assert fact["funded_at"] == 20130701  # smart key from funding_rounds
    assert fact["num_of_participants"] == "3"
    bridge = spark.read.parquet(f"{wh}/bridge_company_people").collect()[0]
    assert bridge["relationship_start_at"] == 20100101
    assert bridge["relationship_end_at"] is None
    assert bridge["title"] == "CEO"


def test_pipeline_rerun_idempotent(spark, staging_dir, tmp_path):
    wh = str(tmp_path / "wh2")
    m1 = P.run_warehouse_pipeline(spark, staging_dir, wh, audit=True)
    m2 = P.run_warehouse_pipeline(spark, staging_dir, wh, audit=True)
    assert m1 == m2  # overwrite, never append-duplicate (quirk §2.9.4)


def test_pipeline_incremental_slice(spark, staging_dir, tmp_path):
    wh = str(tmp_path / "wh3")
    # ds 2013-07-02 → slice = created_at::date == 2013-07-01; company
    # c:2 (created 2013-06-01) falls outside the slice
    manifest = P.run_warehouse_pipeline(
        spark, staging_dir, wh, ds="2013-07-02", audit=True
    )
    assert manifest["dim_company"] == 2
    # people/relationships have no timestamp-typed created_at filter
    # effect in this fixture (string-typed staging columns)
    assert manifest["fct_investments"] == 1


def test_pipeline_incremental_preserves_history(spark, staging_dir, tmp_path):
    """ADVICE r01: a daily incremental run must MERGE into the
    warehouse, not replace each table with only that day's rows — and
    existing surrogate keys must survive so facts never dangle."""
    wh = str(tmp_path / "wh4")
    P.run_warehouse_pipeline(spark, staging_dir, wh, audit=True)  # full load
    before = {
        r["nk_company_id"]: r["sk_company_id"]
        for r in spark.read.parquet(f"{wh}/dim_company").collect()
    }
    assert len(before) == 3

    # ds slice covers only 2013-07-01 rows (c:2 created 2013-06-01 is
    # outside), but the older company must stay in the dim
    m = P.run_warehouse_pipeline(spark, staging_dir, wh, ds="2013-07-02", audit=True)
    assert m["dim_company"] == 3
    after = {
        r["nk_company_id"]: r["sk_company_id"]
        for r in spark.read.parquet(f"{wh}/dim_company").collect()
    }
    assert after == before  # keys stable, nothing re-assigned

    # facts upsert on the natural id: rerunning the same day converges
    assert m["fct_investments"] == 1
    m2 = P.run_warehouse_pipeline(spark, staging_dir, wh, ds="2013-07-02", audit=True)
    assert m2 == m

    dim = spark.read.parquet(f"{wh}/dim_company")
    assert dim.count() == dim.select("nk_company_id").distinct().count()


def test_airflow_dag_import_gated():
    """The TaskFlow shell degrades cleanly when Airflow is absent; when
    present, the factory builds a DAG with the reference's ordering."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
        airflow_dag as AD,
    )

    assert set(AD._UPSTREAM) == set(P.WAREHOUSE_ORDER)
    # facts depend on dims; bridge on its two dims (reference main.py:120)
    assert "dim_company" in AD._UPSTREAM["fct_investments"]
    assert "dim_people" in AD._UPSTREAM["bridge_company_people"]
    if not AD.HAS_AIRFLOW:
        import pytest as _pytest
        with _pytest.raises(ImportError, match="airflow"):
            AD.build_warehouse_dag("/s", "/w")
    else:
        dag = AD.build_warehouse_dag("/s", "/w")
        assert {t.task_id for t in dag.tasks} == set(P.WAREHOUSE_ORDER)


def test_swap_leftover_is_an_error_not_an_empty_table(spark, staging_dir, tmp_path):
    """A table missing beside a swap leftover is a swap interrupted
    between its two renames. The daily merge must refuse to run rather
    than rebuild the dim from that day's rows alone (keys restarting
    at 1), and must leave the leftover — the only copy — in place."""
    import os

    wh = str(tmp_path / "wh_swap")
    P.run_warehouse_pipeline(spark, staging_dir, wh)
    os.rename(f"{wh}/dim_company", f"{wh}/dim_company__swap_old")
    with pytest.raises(IOError, match="dim_company__swap_old"):
        P.run_warehouse_table(spark, "dim_company", staging_dir, wh, ds="2013-07-02")
    assert not os.path.exists(f"{wh}/dim_company")
    assert spark.read.parquet(f"{wh}/dim_company__swap_old").count() == 3


def test_run_single_table_unit(spark, staging_dir, tmp_path):
    """Per-table task unit: dims then one fact, exactly as an external
    scheduler would drive it."""
    wh = str(tmp_path / "wh5")
    for t in ("dim_date", "dim_company", "dim_funds"):
        P.run_warehouse_table(spark, t, staging_dir, wh)
    P.run_warehouse_table(spark, "fct_investments", staging_dir, wh)
    assert spark.read.parquet(f"{wh}/fct_investments").count() == 1


def test_pipeline_two_day_incremental_sequence(spark, tmp_path):
    """Two consecutive daily runs: day-2's new company appends with the
    NEXT surrogate key; day-1 rows and keys are untouched."""
    import pyspark.sql.functions as F  # noqa: F401

    d1 = dt.datetime(2013, 7, 1, 9, 0, 0)
    d2 = dt.datetime(2013, 7, 2, 9, 0, 0)
    stg = str(tmp_path / "stg")
    base_company = [
        (1, "c:1", None, None, "1 A St", None, "sf", None, None, "us", None, None, d1, d1),
        (2, "c:2", None, None, "2 B St", None, "ny", None, None, "us", None, None, d2, d2),
    ]
    empty = {
        "funds": [], "funding_rounds": [], "investments": [], "ipos": [],
        "acquisition": [], "people": [], "relationships": [],
    }
    spark.createDataFrame(base_company, schema=schemas.STAGING["company"]).write.mode(
        "overwrite"
    ).parquet(f"{stg}/company")
    for name, rows in empty.items():
        spark.createDataFrame(rows, schema=schemas.STAGING[name]).write.mode(
            "overwrite"
        ).parquet(f"{stg}/{name}")

    wh = str(tmp_path / "wh")
    m1 = P.run_warehouse_pipeline(spark, stg, wh, ds="2013-07-02", audit=True)
    assert m1["dim_company"] == 1  # only c:1 created on 2013-07-01
    k1 = {r["nk_company_id"]: r["sk_company_id"]
          for r in spark.read.parquet(f"{wh}/dim_company").collect()}

    m2 = P.run_warehouse_pipeline(spark, stg, wh, ds="2013-07-03", audit=True)
    assert m2["dim_company"] == 2
    k2 = {r["nk_company_id"]: r["sk_company_id"]
          for r in spark.read.parquet(f"{wh}/dim_company").collect()}
    assert k2["c:1"] == k1["c:1"]          # day-1 key untouched
    assert k2["c:2"] == k1["c:1"] + 1      # sequence continues


def test_failure_callback_invoked_on_failing_table(spark, tmp_path):
    """A failing table build must invoke the injected on_failure hook
    with an Airflow-shaped context, then re-raise — the engine-side
    twin of the reference's Slack notifier wiring."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
        airflow_dag as AD,
        pipeline as P,
    )

    seen: list[str] = []
    cb = AD.make_failure_callback(seen.append)
    with pytest.raises(Exception):
        # nonexistent staging dir -> first table raises
        P.run_warehouse_pipeline(
            spark, str(tmp_path / "no_staging"), str(tmp_path / "wh"),
            on_failure=cb,
        )
    assert len(seen) == 1
    msg = seen[0]
    assert "Task failed" in msg
    assert "run_warehouse_pipeline" in msg


def test_failure_callback_transport_errors_are_swallowed(caplog):
    """An alerting outage must never mask the task failure."""
    import logging

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
        airflow_dag as AD,
    )

    def broken_transport(msg: str) -> None:
        raise ConnectionError("webhook down")

    cb = AD.make_failure_callback(broken_transport)
    with caplog.at_level(logging.ERROR):
        cb({"task_id": "t", "dag_id": "d", "ds": "2026-01-01",
            "exception": RuntimeError("boom")})
    assert any("transport raised" in r.message for r in caplog.records)

    # default transport: logs the formatted message
    with caplog.at_level(logging.ERROR):
        AD.make_failure_callback()({"task_id": "t2"})
    assert any("t2" in r.message for r in caplog.records)


def test_failure_message_reference_fields():
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
        airflow_dag as AD,
    )

    msg = AD.format_failure_message(
        {"task_id": "dim_company", "dag_id": "vc_warehouse",
         "ds": "2026-08-14", "exception": ValueError("x")}
    )
    for field in ("*Task*: dim_company", "*Dag*: vc_warehouse",
                  "*Execution time*: 2026-08-14", "*Log url*:", "*Exception*: x"):
        assert field in msg
    # formatter never raises on an empty context
    assert "?" in AD.format_failure_message({})


def test_daily_merge_is_delta_proportional(spark, staging_dir, next_day_staging, tmp_path):
    """An insert-only daily run leaves every existing data file of
    dim_date and the merged tables as it is and adds at most one file
    per merged table; replaying the day rewrites only that day's file
    and changes no row."""
    wh = str(tmp_path / "wh_delta")
    P.run_warehouse_pipeline(spark, staging_dir, wh)
    tables = ("dim_date", *MERGED)
    base = {t: _data_files(f"{wh}/{t}") for t in tables}

    P.run_warehouse_pipeline(spark, next_day_staging, wh, ds=DS_NEXT)
    day = {t: _data_files(f"{wh}/{t}") for t in tables}
    for t in tables:
        assert {n: day[t].get(n) for n in base[t]} == base[t], t
        assert len(set(day[t]) - set(base[t])) <= (0 if t == "dim_date" else 1), t
    assert spark.read.parquet(f"{wh}/dim_company").count() == 5
    assert spark.read.parquet(f"{wh}/fct_investments").count() == 2
    content = {t: _rows(spark, f"{wh}/{t}") for t in MERGED}

    P.run_warehouse_pipeline(spark, next_day_staging, wh, ds=DS_NEXT)
    replay = {t: _data_files(f"{wh}/{t}") for t in tables}
    for t in tables:
        assert {n: replay[t].get(n) for n in base[t]} == base[t], t
        day_file = set(day[t]) - set(base[t])
        assert set(day[t]) - set(replay[t]) <= day_file, t
        assert len(set(replay[t]) - set(day[t])) <= len(day_file), t
    assert replay["dim_date"] == base["dim_date"]
    for t in MERGED:
        assert _rows(spark, f"{wh}/{t}") == content[t], t


def test_fact_commit_crash_between_append_and_delete_recovers(
    spark, staging_dir, tmp_path, monkeypatch
):
    """A fact upsert that dies after its append committed but before
    the touched file is deleted leaves duplicate keys, never lost rows,
    and no success in the ledger; rerunning the date removes the
    duplicates and the warehouse equals a full build."""
    wh = str(tmp_path / "wh_crash_fact")
    P.run_warehouse_pipeline(spark, staging_dir, wh)
    ledger = ORCH.RunLedger(str(tmp_path / "ledger.jsonl"))

    def delete_fails(spark_, files):
        raise IOError("injected fault in the delete step")

    monkeypatch.setattr(SIO, "remove_files", delete_fails)
    with pytest.raises(IOError, match="injected"):
        ORCH.run_backfill(spark, staging_dir, wh, "2013-07-02", "2013-07-02", ledger)
    fct = spark.read.parquet(f"{wh}/fct_investments")
    assert fct.count() == 2
    assert fct.select("dd_investment_id").distinct().count() == 1
    assert ledger.status("vc_warehouse", "fct_investments", "2013-07-02") == "failed"

    monkeypatch.undo()
    ORCH.run_backfill(spark, staging_dir, wh, "2013-07-02", "2013-07-02", ledger)
    for t, key in FACT_KEYS.items():
        df = spark.read.parquet(f"{wh}/{t}")
        assert df.count() == df.select(key).distinct().count(), t
    ref = str(tmp_path / "wh_ref")
    P.run_warehouse_pipeline(spark, staging_dir, ref)
    for t in P.WAREHOUSE_ORDER:
        assert _rows(spark, f"{wh}/{t}") == _rows(spark, f"{ref}/{t}"), t


def test_dim_append_crash_before_ledger_success_reruns_clean(
    spark, staging_dir, next_day_staging, tmp_path, monkeypatch
):
    """A dim run that dies after its append, before the ledger records
    success, is rerun: the rerun appends nothing and the surrogate keys
    stay dense 1..N."""
    wh = str(tmp_path / "wh_crash_dim")
    P.run_warehouse_pipeline(spark, staging_dir, wh)
    ledger = ORCH.RunLedger(str(tmp_path / "ledger.jsonl"))
    append = SIO.append_parquet

    def append_then_fail(df, path, *args, **kwargs):
        append(df, path, *args, **kwargs)
        raise RuntimeError("injected fault after the append")

    monkeypatch.setattr(SIO, "append_parquet", append_then_fail)
    with pytest.raises(RuntimeError, match="injected"):
        ORCH.run_backfill(spark, next_day_staging, wh, DS_NEXT, DS_NEXT, ledger)
    assert ledger.status("vc_warehouse", "dim_company", DS_NEXT) == "failed"
    crashed = _data_files(f"{wh}/dim_company")

    monkeypatch.undo()
    report = ORCH.run_backfill(spark, next_day_staging, wh, DS_NEXT, DS_NEXT, ledger)
    assert report[DS_NEXT]["ran"] == list(P.WAREHOUSE_ORDER[1:])
    assert _data_files(f"{wh}/dim_company") == crashed
    for t, (sk, nk) in {
        "dim_company": ("sk_company_id", "nk_company_id"),
        "dim_funds": ("sk_fund_id", "nk_fund_id"),
    }.items():
        rows = spark.read.parquet(f"{wh}/{t}").select(sk, nk).collect()
        assert sorted(r[sk] for r in rows) == list(range(1, len(rows) + 1)), t
        assert len({r[nk] for r in rows}) == len(rows), t
    assert spark.read.parquet(f"{wh}/dim_company").count() == 5
    assert spark.read.parquet(f"{wh}/fct_investments").count() == 2


def test_daily_dim_date_written_only_when_not_committed(spark, staging_dir, tmp_path):
    """A daily run writes the spine when it is missing or its write
    never committed (no ``_SUCCESS``), and leaves a committed one alone."""
    wh = str(tmp_path / "wh_date")
    path = f"{wh}/dim_date"
    P.run_warehouse_table(spark, "dim_date", staging_dir, wh, ds="2013-07-02")
    first = _data_files(path)
    assert first and spark.read.parquet(path).count() == 29220

    P.run_warehouse_table(spark, "dim_date", staging_dir, wh, ds="2013-07-02")
    assert _data_files(path) == first

    os.remove(f"{path}/_SUCCESS")
    P.run_warehouse_table(spark, "dim_date", staging_dir, wh, ds="2013-07-02")
    rewritten = _data_files(path)
    assert rewritten and set(rewritten).isdisjoint(first)
    assert os.path.exists(f"{path}/_SUCCESS")
