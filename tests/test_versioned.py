"""The table log (``sources.io.commit`` / ``recover``): a commit is
invisible until its manifest is published, never touches the files it
replaces before then, and recovery deletes only what a dead commit
left behind."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import (
    io as IO,
)


def _mk(spark, n):
    return spark.range(n).select(F.col("id"), (F.col("id") * 10).alias("val"))


def _state(spark, path):
    """Data file -> (size, mtime, inode): identical only if untouched."""
    out = {}
    for rel in IO.data_files(spark, path):
        st = os.stat(os.path.join(path, rel))
        out[rel] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def _log(path):
    return sorted(n for n in os.listdir(os.path.join(path, "_log")) if not n.startswith("."))


def _die(*_args):
    raise RuntimeError("killed before publish")


def test_uncommitted_write_is_invisible_after_recovery(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    IO.commit(spark, path, _mk(spark, 5))
    monkeypatch.setattr(IO, "_publish", _die)
    with pytest.raises(RuntimeError, match="killed"):
        IO.commit(spark, path, _mk(spark, 7))
    monkeypatch.undo()
    assert _log(path) == ["1.json", "2.pending"]
    assert spark.read.parquet(path).count() == 12  # the crash window

    IO.recover(spark, path)
    assert spark.read.parquet(path).count() == 5
    assert _log(path) == ["1.json"]


def test_prior_files_untouched_until_publish(spark, tmp_path, monkeypatch):
    """Object-store posture: a commit never renames or rewrites a live
    file. Up to its publish, every file it replaces keeps its path,
    size, mtime and inode; only after it are they deleted."""
    path = str(tmp_path / "t")
    IO.commit(spark, path, _mk(spark, 5))
    before = _state(spark, path)
    seen = {}
    publish = IO._publish

    def check_then_publish(fs, manifest, files):
        seen.update({rel: _state(spark, path).get(rel) for rel in before})
        publish(fs, manifest, files)

    monkeypatch.setattr(IO, "_publish", check_then_publish)
    IO.commit(spark, path, _mk(spark, 7), remove=IO.data_files(spark, path))
    assert seen == before
    assert set(_state(spark, path)).isdisjoint(before)
    assert spark.read.parquet(path).count() == 7


def test_recovery_deletes_only_uncommitted_debris(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    IO.commit(spark, path, _mk(spark, 3))
    IO.commit(spark, path, _mk(spark, 6))
    committed = _state(spark, path)
    monkeypatch.setattr(IO, "_publish", _die)
    with pytest.raises(RuntimeError, match="killed"):
        IO.commit(spark, path, _mk(spark, 9), remove=list(committed))
    monkeypatch.undo()
    debris = set(_state(spark, path)) - set(committed)
    assert debris

    IO.recover(spark, path)
    assert _state(spark, path) == committed
    assert spark.read.parquet(path).count() == 9
    assert _log(path) == ["2.json"]
    IO.recover(spark, path)  # idempotent on a clean table
    assert _state(spark, path) == committed
    # the next commit proceeds normally, reusing the freed number
    IO.commit(spark, path, _mk(spark, 1))
    assert _log(path) == ["3.json"]
    assert spark.read.parquet(path).count() == 10


# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
pytestmark = pytest.mark.slow
