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

# the tables a daily run merges from a full-load staging snapshot
SNAPSHOT = ("dim_people", "bridge_company_people")
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
        # full-load table: a new relationship for the day's new company
        "relationships": [
            ("r2", "p:1", "c:3", "2013-07-02", None, "false", "2", "Advisor",
             "2013-07-02 12:00:00", "2013-07-02 12:00:00"),
        ],
    }
    for name, data in rows.items():
        spark.createDataFrame(data, schema=schemas.STAGING[name]).coalesce(1).write.mode(
            "append"
        ).parquet(f"{root}/{name}")
    return root


def _rel(rid: str, person: str, company: str, title: str) -> tuple:
    return (rid, person, company, "2010-01-01", None, "false", "1", title,
            "2013-07-01 12:00:00", "2013-07-01 12:00:00")


BASE_PEOPLE = [
    ("p1", "p:1", "Ada", "Lovelace", None, "c:1"),
    ("p2", "p:2", "Bob", "Stone", None, None),
    ("p3", "p:3", "Cy", "Young", None, None),
    ("p4", "p:4", "Di", "Prince", None, "c:2"),
]
BASE_RELATIONSHIPS = [
    _rel("r1", "p:1", "c:1", "CEO"),
    _rel("r2", "p:2", "c:2", "CTO"),
    _rel("r3", "p:3", "c:1", "CFO"),
    _rel("r4", "p:2", "c:3", "Advisor"),  # c:3 arrives with the change day
    _rel("r6", "p:4", "c:2", "COO"),
]


def _write_full_load(spark, root: str, people: list, relationships: list) -> None:
    for name, data in (("people", people), ("relationships", relationships)):
        spark.createDataFrame(data, schema=schemas.STAGING[name]).write.mode(
            "overwrite"
        ).parquet(f"{root}/{name}")


@pytest.fixture(scope="module")
def change_day(spark, staging_dir, next_day_staging, tmp_path_factory):
    """``(base, day)`` staging zones for a full-load change day. ``base``
    is the fixture zone with four people and five relationships (r4
    points at company c:3, which does not exist yet). ``day`` adds the
    next day's entities (c:3 among them) and changes the full-load
    snapshots: p:1's affiliation changes, p:3 drops out (so r3 no
    longer resolves), r5 is new for the existing company c:1, and r4
    resolves through the new c:3."""
    base = str(tmp_path_factory.mktemp("change_base") / "staging")
    day = str(tmp_path_factory.mktemp("change_day") / "staging")
    shutil.copytree(staging_dir, base)
    shutil.copytree(next_day_staging, day)
    _write_full_load(spark, base, BASE_PEOPLE, BASE_RELATIONSHIPS)
    people = [
        ("p1", "p:1", "Ada", "Lovelace", None, "c:3"),
        BASE_PEOPLE[1],
        BASE_PEOPLE[3],
    ]
    _write_full_load(
        spark, day, people, BASE_RELATIONSHIPS + [_rel("r5", "p:4", "c:1", "Board")]
    )
    return base, day


def _layout(spark, path: str, nk: str, groups: list[tuple[str, ...]]) -> dict[str, set]:
    """Rewrite the table at ``path`` as one data file per group of
    natural keys; returns data file name -> the natural keys it holds."""
    df = spark.read.parquet(path)
    rows, schema = df.collect(), df.schema
    shutil.rmtree(path)
    for keys in groups:
        part = [r for r in rows if r[nk] in keys]
        spark.createDataFrame(part, schema).coalesce(1).write.mode("append").parquet(path)
    return _file_keys(spark, path, nk)


def _build_laid_out(spark, staging: str, wh: str) -> tuple[dict, dict]:
    """Full build, then dim_people and the bridge laid out so that each
    has files a change day touches and files it does not."""
    P.run_warehouse_pipeline(spark, staging, wh)
    return (
        _layout(spark, f"{wh}/dim_people", "nk_people_id", [("p:1", "p:2"), ("p:3",), ("p:4",)]),
        _layout(spark, f"{wh}/bridge_company_people", "dd_relationship_id", [("r1", "r2"), ("r3", "r6")]),
    )


def _file_keys(spark, path: str, nk: str) -> dict[str, set]:
    out: dict[str, set] = {}
    for name in _data_files(path):
        keys = spark.read.parquet(os.path.join(path, name)).select(nk).collect()
        out[name] = {r[nk] for r in keys}
    return out


def _keys(spark, path: str, sk: str, nk: str) -> dict:
    return {r[nk]: r[sk] for r in spark.read.parquet(path).select(sk, nk).collect()}


def _natural_snapshot_tables(spark, wh: str) -> dict[str, list[tuple]]:
    """dim_people and the bridge on natural keys and attributes: the
    bridge's dim keys are replaced by the natural keys they resolve to
    (a merge and a full build may number rows differently)."""
    people = spark.read.parquet(f"{wh}/dim_people")
    company = spark.read.parquet(f"{wh}/dim_company")
    bridge = spark.read.parquet(f"{wh}/bridge_company_people")
    resolved = (
        bridge.join(people.select("sk_people_id", "nk_people_id"), "sk_people_id")
        .join(company.select("sk_company_id", "nk_company_id"), "sk_company_id")
        .drop("sk_company_people_id", "sk_people_id", "sk_company_id")
    )
    out = {}
    for t, df in (("dim_people", people.drop("sk_people_id")), ("bridge", resolved)):
        cols = sorted(df.columns)
        out[t] = sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)
    assert len(out["bridge"]) == bridge.count()  # every dim key resolved
    return out


def _data_files(path: str) -> dict[str, int]:
    """Data file name -> size in bytes of one table directory."""
    return {
        n: os.path.getsize(os.path.join(path, n))
        for n in os.listdir(path)
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    }


# surrogate-key column -> the dim it resolves in, with that dim's keys
_RESOLVE = {
    "sk_company_id": ("dim_company", "sk_company_id", "nk_company_id"),
    "sk_acquiring_company_id": ("dim_company", "sk_company_id", "nk_company_id"),
    "sk_acquired_company_id": ("dim_company", "sk_company_id", "nk_company_id"),
    "sk_fund_id": ("dim_funds", "sk_fund_id", "nk_fund_id"),
    "sk_people_id": ("dim_people", "sk_people_id", "nk_people_id"),
}
_OWN_SK = {
    "dim_company": "sk_company_id",
    "dim_funds": "sk_fund_id",
    "dim_people": "sk_people_id",
    "bridge_company_people": "sk_company_people_id",
}


def _natural(spark, wh: str) -> dict[str, list]:
    """Every warehouse table as a sorted row list with each surrogate
    key replaced by the natural key it resolves to (a merge and a full
    build may number rows differently). Asserts that no surrogate key
    is held twice and that every foreign key resolves."""
    out = {"dim_date": spark.read.parquet(f"{wh}/dim_date").count()}  # a static spine
    for t in P.WAREHOUSE_ORDER[1:]:
        df = spark.read.parquet(f"{wh}/{t}")
        own = _OWN_SK.get(t)
        if own is not None:
            assert df.count() == df.select(own).distinct().count(), t
            df = df.drop(own)
        n = df.count()
        for col in [c for c in df.columns if c in _RESOLVE]:
            dim, sk, nk = _RESOLVE[col]
            keys = spark.read.parquet(f"{wh}/{dim}").selectExpr(f"{sk} AS {col}", f"{nk} AS {col}__nk")
            df = df.join(keys, col).drop(col)
        assert df.count() == n, (t, "unresolved surrogate keys")
        cols = sorted(df.columns)
        out[t] = sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)
    return out


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
    assert bridge["dd_relationship_id"] == "r1"


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


def test_unlisted_file_in_logged_table_is_an_error(spark, staging_dir, tmp_path):
    """A data file that no published manifest lists, with no pending
    commit to explain it, came from a writer that bypassed the table
    log. The daily merge must refuse to run rather than guess, and
    recovery must leave the file in place: it never deletes data
    silently."""
    wh = str(tmp_path / "wh_unlisted")
    P.run_warehouse_pipeline(spark, staging_dir, wh)
    path = f"{wh}/dim_company"
    before = _data_files(path)
    stray = spark.read.parquet(path)
    stray.coalesce(1).write.mode("append").parquet(path)
    (extra,) = set(_data_files(path)) - set(before)
    with pytest.raises(IOError, match=extra):
        P.run_warehouse_table(spark, "dim_company", staging_dir, wh, ds="2013-07-02")
    assert set(_data_files(path)) == set(before) | {extra}
    assert spark.read.parquet(path).count() == 6


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
    """An insert-only daily run leaves every existing data file of every
    warehouse table as it is and adds at most one file per table — none
    to dim_date, nor to dim_people, whose snapshot did not change.
    Replaying the day rewrites only that day's files, writes nothing to
    dim_date and the snapshot-merged tables, and changes no row."""
    wh = str(tmp_path / "wh_delta")
    P.run_warehouse_pipeline(spark, staging_dir, wh)
    tables = P.WAREHOUSE_ORDER
    base = {t: _data_files(f"{wh}/{t}") for t in tables}

    P.run_warehouse_pipeline(spark, next_day_staging, wh, ds=DS_NEXT)
    day = {t: _data_files(f"{wh}/{t}") for t in tables}
    for t in tables:
        assert {n: day[t].get(n) for n in base[t]} == base[t], t
        assert len(set(day[t]) - set(base[t])) <= (0 if t in ("dim_date", "dim_people") else 1), t
    assert spark.read.parquet(f"{wh}/dim_company").count() == 5
    assert spark.read.parquet(f"{wh}/fct_investments").count() == 2
    assert spark.read.parquet(f"{wh}/bridge_company_people").count() == 2
    content = {t: _rows(spark, f"{wh}/{t}") for t in tables}

    P.run_warehouse_pipeline(spark, next_day_staging, wh, ds=DS_NEXT)
    replay = {t: _data_files(f"{wh}/{t}") for t in tables}
    for t in tables:
        assert {n: replay[t].get(n) for n in base[t]} == base[t], t
        day_file = set(day[t]) - set(base[t])
        assert set(day[t]) - set(replay[t]) <= day_file, t
        assert len(set(replay[t]) - set(day[t])) <= len(day_file), t
    for t in ("dim_date", *SNAPSHOT):
        assert replay[t] == day[t], t
    for t in tables:
        assert _rows(spark, f"{wh}/{t}") == content[t], t


def _sql_plans(spark) -> dict[int, str]:
    """Final physical plan of every SQL execution the session's status
    store holds, by execution id."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {
        e.executionId(): e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
    }


def test_daily_merge_sort_merge_join_branch(spark, staging_dir, next_day_staging, tmp_path):
    """With broadcast joins off, as for dims and deltas past the
    broadcast threshold, the sliced dims' left-anti join and the fact
    upsert's key-scan semi-join plan as sort-merge joins, and the daily
    merge still equals a full build."""
    wh, ref = str(tmp_path / "wh_smj"), str(tmp_path / "wh_smj_ref")
    P.run_warehouse_pipeline(spark, staging_dir, wh)
    P.run_warehouse_pipeline(spark, next_day_staging, ref)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        before = _sql_plans(spark)
        P.run_warehouse_pipeline(spark, next_day_staging, wh, ds=DS_NEXT)
        plans = [p for i, p in _sql_plans(spark).items() if i not in before]
    finally:
        spark.conf.set(key, saved)
    assert spark.conf.get(key) == saved

    def smj(kind: str, marker: str) -> bool:
        return any(
            marker in plan
            and any("SortMergeJoin" in line and kind in line for line in plan.splitlines())
            for plan in plans
        )

    assert smj("LeftAnti", "object_id"), "sliced-dim anti-join"
    assert smj("LeftSemi", "__file"), "upsert key-scan semi-join"
    assert _natural(spark, wh) == _natural(spark, ref)


def test_daily_snapshot_merge_writes_only_changed_keys(spark, change_day, tmp_path):
    """A full-load change day merges dim_people and the bridge on their
    natural keys: both equal a full build on natural keys and
    attributes, unchanged and changed rows keep their surrogate keys,
    new keys continue the sequence past the deleted one's gap, and only
    the files holding a changed or deleted key are replaced."""
    base, day = change_day
    wh, ref = str(tmp_path / "wh_change"), str(tmp_path / "wh_change_ref")
    people_files, bridge_files = _build_laid_out(spark, base, wh)
    people_path, bridge_path = f"{wh}/dim_people", f"{wh}/bridge_company_people"
    people_sk = _keys(spark, people_path, "sk_people_id", "nk_people_id")
    bridge_sk = _keys(spark, bridge_path, "sk_company_people_id", "dd_relationship_id")
    assert sorted(bridge_sk) == ["r1", "r2", "r3", "r6"]
    before = {t: _data_files(f"{wh}/{t}") for t in SNAPSHOT}

    P.run_warehouse_pipeline(spark, day, wh, ds=DS_NEXT)
    P.run_warehouse_pipeline(spark, day, ref)
    assert _natural_snapshot_tables(spark, wh) == _natural_snapshot_tables(spark, ref)

    assert _keys(spark, people_path, "sk_people_id", "nk_people_id") == {
        k: people_sk[k] for k in ("p:1", "p:2", "p:4")
    }
    top = max(bridge_sk.values())
    assert _keys(spark, bridge_path, "sk_company_people_id", "dd_relationship_id") == {
        "r1": bridge_sk["r1"], "r2": bridge_sk["r2"], "r6": bridge_sk["r6"],
        "r4": top + 1, "r5": top + 2,
    }
    for t, files, touched in (
        ("dim_people", people_files, {"p:1", "p:3"}),
        ("bridge_company_people", bridge_files, {"r3"}),
    ):
        after = _data_files(f"{wh}/{t}")
        kept = {n for n, keys in files.items() if not keys & touched}
        assert kept and kept < set(files), t
        assert {n: after.get(n) for n in files if n in after} == {n: before[t][n] for n in kept}, t


@pytest.mark.parametrize("table", SNAPSHOT)
def test_snapshot_commit_crash_between_append_and_delete_recovers(
    spark, change_day, tmp_path, monkeypatch, table
):
    """A snapshot merge that dies after its publish, before the replaced
    files are deleted, leaves them beside the new ones (readers see
    duplicate natural keys, never lost rows); rerunning the date
    recovers the table, leaves every natural key once and the tables
    equal a full build."""
    base, day = change_day
    wh, ref = str(tmp_path / "wh_crash_snap"), str(tmp_path / "wh_crash_snap_ref")
    _build_laid_out(spark, base, wh)
    ledger = ORCH.RunLedger(str(tmp_path / "ledger.jsonl"))
    remove = SIO.remove_files

    def delete_fails(spark_, files):
        if any(f"/{table}/" in f for f in files):
            raise IOError("injected fault in the delete step")
        remove(spark_, files)

    monkeypatch.setattr(SIO, "remove_files", delete_fails)
    with pytest.raises(IOError, match="injected"):
        ORCH.run_backfill(spark, day, wh, DS_NEXT, DS_NEXT, ledger)
    assert ledger.status("vc_warehouse", table, DS_NEXT) == "failed"
    nk = P._SNAPSHOT_KEYS[table][1]
    crashed = spark.read.parquet(f"{wh}/{table}")
    assert crashed.count() > crashed.select(nk).distinct().count()

    monkeypatch.undo()
    ORCH.run_backfill(spark, day, wh, DS_NEXT, DS_NEXT, ledger)
    for t in SNAPSHOT:
        df = spark.read.parquet(f"{wh}/{t}")
        key = P._SNAPSHOT_KEYS[t][1]
        assert df.count() == df.select(key).distinct().count(), t
    P.run_warehouse_pipeline(spark, day, ref)
    assert _natural_snapshot_tables(spark, wh) == _natural_snapshot_tables(spark, ref)


def test_fact_commit_crash_between_append_and_delete_recovers(
    spark, staging_dir, tmp_path, monkeypatch
):
    """A fact upsert that dies after its publish, before the touched
    file is deleted, leaves duplicate keys, never lost rows, and no
    success in the ledger; rerunning the date recovers the table and
    the warehouse equals a full build."""
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
    """A daily run writes the spine when it is missing or no commit to
    it was published (a table without a log), and leaves a committed
    one alone."""
    wh = str(tmp_path / "wh_date")
    path = f"{wh}/dim_date"
    P.run_warehouse_table(spark, "dim_date", staging_dir, wh, ds="2013-07-02")
    first = _data_files(path)
    assert first and spark.read.parquet(path).count() == 29220

    P.run_warehouse_table(spark, "dim_date", staging_dir, wh, ds="2013-07-02")
    assert _data_files(path) == first

    shutil.rmtree(f"{path}/_log")
    assert not SIO.is_committed(spark, path)
    P.run_warehouse_table(spark, "dim_date", staging_dir, wh, ds="2013-07-02")
    rewritten = _data_files(path)
    assert rewritten and set(rewritten).isdisjoint(first)
    assert SIO.is_committed(spark, path)


def _jobs_per_table(spark, staging: str, wh: str, ds: str | None = None) -> dict[str, int]:
    """Spark jobs each warehouse task runs, from the DAG scheduler's job
    id marks around it."""
    dag = spark._jsc.sc().dagScheduler()
    out = {}
    for name in P.WAREHOUSE_ORDER:
        before = dag.nextJobId()
        P.run_warehouse_table(spark, name, staging, wh, ds)
        out[name] = dag.nextJobId() - before
    return out


# Spark jobs per table on the fixture zone: a full build, then the
# insert-only daily merge of next_day_staging. A table may run FEWER
# jobs than budgeted, never more: an extra job (a probe, a count, a
# schema-inference read, an input evaluated twice) fails here.
JOB_BUDGET = {
    "full": {
        "dim_date": 1, "dim_company": 5, "dim_funds": 5, "dim_people": 5,
        "fct_investments": 4, "fct_ipos": 2, "fct_acquisition": 2,
        "bridge_company_people": 8,
    },
    "daily": {
        "dim_date": 0, "dim_company": 7, "dim_funds": 7, "dim_people": 3,
        "fct_investments": 9, "fct_ipos": 6, "fct_acquisition": 7,
        "bridge_company_people": 10,
    },
}


def test_warehouse_tasks_stay_in_job_budget(spark, staging_dir, next_day_staging, tmp_path):
    wh = str(tmp_path / "wh_jobs")
    got = {
        "full": _jobs_per_table(spark, staging_dir, wh),
        "daily": _jobs_per_table(spark, next_day_staging, wh, DS_NEXT),
    }
    over = {
        (mode, t): (n, JOB_BUDGET[mode][t])
        for mode, jobs in got.items()
        for t, n in jobs.items()
        if n > JOB_BUDGET[mode][t]
    }
    assert not over, f"(mode, table): (jobs, budget) {over}"


def test_warehouse_schemas_pin_builder_output(spark, staging_dir, tmp_path):
    """``schemas.WAREHOUSE`` — the schemas persisted tables are read
    with — equals each builder's output and what a build stores: names,
    order and types."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
        dim_date as DDATE,
    )
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
        warehouse as WH,
    )

    def fields(schema) -> list[tuple]:
        return [(f.name, f.dataType) for f in schema.fields]

    st = P.read_staging(spark, staging_dir)
    dim_date = DDATE.build_dim_date(spark)
    company = WH.build_dim_company(st["company"])
    funds = WH.build_dim_funds(st["funds"], dim_date)
    people = WH.build_dim_people(st["people"])
    built = {
        "dim_date": dim_date,
        "dim_company": company,
        "dim_funds": funds,
        "dim_people": people,
        "fct_investments": WH.build_fct_investments(
            st["investments"], st["funding_rounds"], company, funds, dim_date
        ),
        "fct_ipos": WH.build_fct_ipos(st["ipos"], company, dim_date),
        "fct_acquisition": WH.build_fct_acquisition(st["acquisition"], company, dim_date),
        "bridge_company_people": WH.build_bridge_company_people(
            st["relationships"], people, company
        ),
    }
    assert set(schemas.WAREHOUSE) == set(P.WAREHOUSE_ORDER)
    wh = str(tmp_path / "wh_schemas")
    P.run_warehouse_pipeline(spark, staging_dir, wh)
    for t in P.WAREHOUSE_ORDER:
        want = fields(schemas.WAREHOUSE[t])
        assert fields(built[t].schema) == want, t
        assert fields(spark.read.parquet(f"{wh}/{t}").schema) == want, t


def test_bridge_persisted_without_natural_key_is_written_in_full(
    spark, staging_dir, next_day_staging, tmp_path
):
    """A bridge persisted before it carried ``dd_relationship_id`` is
    rewritten in full by the next daily run, never merged with NULL
    natural keys (a read with the declared schema would show the
    missing column as NULLs)."""
    wh, ref = str(tmp_path / "wh_legacy"), str(tmp_path / "wh_legacy_ref")
    P.run_warehouse_pipeline(spark, staging_dir, wh)
    path = f"{wh}/bridge_company_people"
    legacy = spark.createDataFrame(
        spark.read.parquet(path).drop("dd_relationship_id").collect(),
        schemas.WAREHOUSE["bridge_company_people"][:-1],
    )
    SIO.replace_table(spark, legacy, path)
    assert "dd_relationship_id" not in SIO.stored_columns(spark, path)

    P.run_warehouse_pipeline(spark, next_day_staging, wh, ds=DS_NEXT)
    assert "dd_relationship_id" in SIO.stored_columns(spark, path)
    bridge = spark.read.parquet(path)
    assert bridge.filter(bridge["dd_relationship_id"].isNull()).count() == 0
    assert sorted(r[0] for r in bridge.select("sk_company_people_id").collect()) == [1, 2]
    P.run_warehouse_pipeline(spark, next_day_staging, ref)
    assert _natural_snapshot_tables(spark, wh) == _natural_snapshot_tables(spark, ref)


def _fct_investments_by_dim_date_join(investments, funding_rounds, dim_company, dim_funds, dim_date):
    """``build_fct_investments`` as it was when it checked the round's
    date with an inner join to ``dim_date`` (J4): the reference the
    span predicate must equal."""
    from pyspark.sql import functions as F

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.functions import (
        expr as E,
    )

    df = investments.join(
        dim_company.select("sk_company_id", "nk_company_id"),
        investments["funded_object_id"] == F.col("nk_company_id"),
    )
    df = df.join(
        dim_funds.select("sk_fund_id", "nk_fund_id"),
        df["investor_object_id"] == F.col("nk_fund_id"),
    )
    fr = funding_rounds.withColumn("funded_at", E.date_key("funded_at"))
    fr = fr.join(dim_date.select("date_id"), fr["funded_at"] == F.col("date_id"))
    df = df.join(
        fr.select(
            "funding_round_id", "funding_round_type", "participants", "raised_amount_usd",
            "pre_money_valuation_usd", "post_money_valuation_usd", "funded_at",
        ),
        on="funding_round_id",
        how="left",
    )
    return df.select(
        F.col("investment_id").alias("dd_investment_id"), "sk_company_id", "sk_fund_id",
        "funded_at", "funding_round_type", F.col("participants").alias("num_of_participants"),
        "raised_amount_usd", "pre_money_valuation_usd", "post_money_valuation_usd",
    )


def test_fct_investments_span_predicate_equals_dim_date_join(spark):
    """The round-date check of ``build_fct_investments`` (a predicate on
    the spine's span) keeps exactly the rounds the inner join to
    ``dim_date`` kept: dates before the spine, on its first and last
    day, past its end, and NULL."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
        dim_date as DDATE,
    )
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
        warehouse as WH,
    )

    first = dt.date.fromisoformat(DDATE.EPOCH_START)
    last = first + dt.timedelta(days=DDATE.SPAN_DAYS - 1)
    funded = [first - dt.timedelta(days=1), first, last, last + dt.timedelta(days=1), None]
    rounds = [
        (100 + i, "c:1", d, "series-a", "a", Decimal("5.00"), Decimal("5.00"), "USD",
         None, None, None, None, None, None, "3", True, False, None, TS, TS)
        for i, d in enumerate(funded)
    ]
    investments = [(1000 + i, 100 + i, "c:1", "f:1", TS, TS) for i in range(len(funded))]
    inv = spark.createDataFrame(investments, schemas.STAGING["investments"])
    fr = spark.createDataFrame(rounds, schemas.STAGING["funding_rounds"])
    company = spark.createDataFrame([(1, "c:1", "company", None, None, None, None)], schemas.WAREHOUSE["dim_company"])
    funds = spark.createDataFrame([(1, "f:1", "one", None, None, None)], schemas.WAREHOUSE["dim_funds"])
    dim_date = DDATE.build_dim_date(spark)

    got = WH.build_fct_investments(inv, fr, company, funds, dim_date)
    want = _fct_investments_by_dim_date_join(inv, fr, company, funds, dim_date)
    assert [(f.name, f.dataType) for f in got.schema] == [(f.name, f.dataType) for f in want.schema]
    rows = sorted(tuple(r) for r in got.collect())
    assert rows == sorted(tuple(r) for r in want.collect())
    assert [r[3] for r in rows] == [None, 19500101, 20291231, None, None]
