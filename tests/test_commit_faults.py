"""Fault injection for the table commit (``sources.io.commit``).

Each case kills a commit at one of three points by replacing an io seam:
after its data write (``_publish`` raises before publishing), after its
publish (``_publish`` raises once the manifest is out), and between two
of its deletes (``remove_files`` deletes one file, then raises). The next
run must recover on its own: the warehouse then equals a full build on
natural keys and attributes with no surrogate key held twice, and a
rewritten table holds exactly the rows it should. The LM index's
one-commit append recovers to the counts before it or after it."""

from __future__ import annotations

from collections import Counter

import pytest
from test_pipeline import (  # noqa: F401  (module fixtures)
    DS_NEXT,
    _build_laid_out,
    _data_files,
    _natural,
    change_day,
    next_day_staging,
    staging_dir,
)

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
    orchestrate as ORCH,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
    pipeline as P,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import (
    io as SIO,
)

POINTS = ("after_write", "after_publish", "mid_delete")


class Killed(RuntimeError):
    pass


def _arm(monkeypatch, point: str, tables: set[str]) -> set[str]:
    """Kill the next commit to each table in ``tables`` (a table dir
    name) at ``point``; returns the set of tables still armed."""
    publish, remove = SIO._publish, SIO.remove_files
    last = {"table": None}

    def fire(table) -> bool:
        if table in tables:
            tables.discard(table)
            return True
        return False

    def _publish(fs, manifest, files):
        table = manifest.getParent().getParent().getName()
        if point == "after_write" and fire(table):
            raise Killed(f"{table}: killed after the data write")
        publish(fs, manifest, files)
        if point == "after_publish" and fire(table):
            raise Killed(f"{table}: killed after the publish")
        last["table"] = table

    def remove_files(spark, files):
        table, last["table"] = last["table"], None
        if point == "mid_delete" and fire(table):
            remove(spark, files[:1])
            raise Killed(f"{table}: killed between two deletes")
        remove(spark, files)

    monkeypatch.setattr(SIO, "_publish", _publish)
    monkeypatch.setattr(SIO, "remove_files", remove_files)
    return tables


def _run_until_done(spark, day: str, wh: str, ledger, tables=P.WAREHOUSE_ORDER) -> int:
    """Rerun the date until it succeeds; returns how many runs died."""
    for crashes in range(len(tables) + 1):
        try:
            ORCH.run_backfill(spark, day, wh, DS_NEXT, DS_NEXT, ledger, tables=tables)
            return crashes
        except Killed:
            pass
    raise AssertionError("the date never completed")


@pytest.fixture(scope="module")
def reference(spark, change_day, tmp_path_factory):
    """A full build over the change day's staging cut-off, in natural form."""
    ref = str(tmp_path_factory.mktemp("fault_ref") / "wh")
    P.run_warehouse_pipeline(spark, change_day[1], ref)
    return _natural(spark, ref)


@pytest.mark.parametrize("point", POINTS)
def test_daily_commits_killed_recover_to_full_build(
    spark, change_day, reference, tmp_path, monkeypatch, point
):
    """A daily run whose commits die at ``point``: the dim append
    (dim_company), both snapshot merges (dim_people rewrites two files,
    the bridge one) and the fact upsert (fct_investments). Each rerun
    of the date recovers the table that died and goes on; then a replay
    of the fact, whose key upsert rewrites the day's file, dies the
    same way and is rerun. The warehouse equals a full build."""
    base, day = change_day
    wh = str(tmp_path / "wh")
    _build_laid_out(spark, base, wh)
    targets = {"dim_company", "dim_people", "bridge_company_people", "fct_investments"}
    armed = _arm(monkeypatch, point, set(targets))
    assert _run_until_done(spark, day, wh, ORCH.RunLedger(str(tmp_path / "l1"))) == len(targets)
    assert not armed
    assert _natural(spark, wh) == reference

    day_files = _data_files(f"{wh}/fct_investments")
    armed.add("fct_investments")
    replay = ORCH.RunLedger(str(tmp_path / "l2"))
    assert _run_until_done(spark, day, wh, replay, tables=("fct_investments",)) == 1
    assert not armed
    assert set(_data_files(f"{wh}/fct_investments")) != set(day_files)  # it rewrote
    assert _natural(spark, wh) == reference


def _table(spark, path: str) -> None:
    """100 rows in four data files of 25."""
    for lo in range(0, 100, 25):
        spark.range(lo, lo + 25).selectExpr("id AS k", "concat('v', id) AS v").coalesce(
            1
        ).write.mode("append").parquet(path)


def _rows(spark, path: str) -> Counter:
    return Counter(tuple(r) for r in spark.read.parquet(path).collect())


@pytest.mark.parametrize("point", POINTS)
def test_delete_keys_and_compaction_killed_recover(spark, tmp_path, monkeypatch, point):
    """``delete_keys`` (touching two of four files) and a compaction
    (removing all four) die at ``point``; rerunning each recovers the
    table first and leaves exactly the rows it should: the table less
    the deleted keys, and the same row multiset as before the
    compaction."""
    path = str(tmp_path / "t")
    _table(spark, path)
    full = _rows(spark, path)
    keys = spark.createDataFrame([(3,), (30,)], "k long")

    armed = _arm(monkeypatch, point, {"t"})
    with pytest.raises(Killed):
        SIO.delete_keys(spark, path, keys, on=["k"])
    assert not armed
    # rolled back before the publish, finished after it
    assert SIO.delete_keys(spark, path, keys, on=["k"]) == (2 if point == "after_write" else 0)
    left = Counter({r: n for r, n in full.items() if r[0] not in (3, 30)})
    assert _rows(spark, path) == left

    armed.add("t")
    with pytest.raises(Killed):
        SIO.compact_parquet(spark, path)
    assert not armed
    assert SIO.compact_parquet(spark, path) == 1
    assert len(_data_files(path)) == 1
    assert _rows(spark, path) == left


@pytest.mark.parametrize("point", ("after_write", "after_publish"))
def test_lm_index_append_killed_recovers_to_one_state(spark, tmp_path, monkeypatch, point):
    """``lm_index_append`` is one commit: killed after its data write
    or after its publish, the recovered counts equal exactly the index
    before the append or the index after it, never a mix."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        lm as LM,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the lazy dog naps all day"),
         (3, "the quick dog jumps over the lazy fox")],
        "doc_id long, text string",
    )
    p = str(tmp_path / "lm")
    LM.lm_index_build(docs.filter("doc_id < 3"), p)
    before = _rows(spark, f"{p}/counts")
    after = Counter(
        tuple(r) for r in LM._ngram_counts(docs.select(LM._tokens("text").alias("ts"))).collect()
    )
    assert before != after

    armed = _arm(monkeypatch, point, {"counts"})
    with pytest.raises(Killed):
        LM.lm_index_append(docs.filter("doc_id = 3"), p)
    assert not armed
    SIO.recover(spark, f"{p}/counts")
    assert _rows(spark, f"{p}/counts") == (before if point == "after_write" else after)


def test_dim_date_killed_before_publish_is_written_again(spark, staging_dir, tmp_path, monkeypatch):
    """A ``dim_date`` commit killed before its publish is not committed,
    so the next daily run recovers it and writes the spine again."""
    wh = str(tmp_path / "wh")
    path = f"{wh}/dim_date"
    _arm(monkeypatch, "after_write", {"dim_date"})
    with pytest.raises(Killed):
        P.run_warehouse_table(spark, "dim_date", staging_dir, wh, ds="2013-07-02")
    debris = _data_files(path)
    assert debris and not SIO.is_committed(spark, path)

    monkeypatch.undo()
    P.run_warehouse_table(spark, "dim_date", staging_dir, wh, ds="2013-07-02")
    assert SIO.is_committed(spark, path)
    assert set(_data_files(path)).isdisjoint(debris)
    df = spark.read.parquet(path)
    assert df.count() == df.select("date_id").distinct().count() == 29220
