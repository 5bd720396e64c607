"""Registry-tail oracle sweep: every query PAST the driver's 50-slot
window that carries an oracle is compared Spark-vs-DuckDB at sf0.001
with the same canonicalization surface the driver uses (both results
through pandas, columns sorted by name, rows sorted, values rendered
from their pandas dtypes) — so typing artifacts the driver would flag
(e.g. DuckDB HUGEINT→float64 vs Spark bigint) fail HERE first.

The driver only ever verdicts the first `_DRIVER_WINDOW` registered
queries; this sweep is the CI proof that the other ~90 registered
queries' oracles hash-match too, not just carry pytest coverage.
"""

from __future__ import annotations

import datetime
import decimal
import math

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

pytestmark = pytest.mark.slow


def _canon_cell(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ", ".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, float) and pd.isna(v):
        return "NULL"
    return str(v)


def _canon_frame(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    # column-wise (NOT iterrows, which upcasts a whole row to float64
    # the moment one column is float — masking per-column dtype
    # artifacts, the very thing this sweep exists to catch)
    cols = sorted(pdf.columns)
    rendered = []
    for c in cols:
        vals = pdf[c].tolist()
        rendered.append(
            [
                "NULL"
                if v is None or (np.isscalar(v) and pd.isna(v))
                else _canon_cell(v)
                for v in vals
            ]
        )
    rows = sorted(zip(*rendered)) if rendered else []
    return list(rows)


def _frame_diffs(a: pd.DataFrame, b: pd.DataFrame, n: int = 3, parts: int = 64) -> list:
    """Up to ``n`` differing row pairs between ``_canon_frame(a)`` and
    ``_canon_frame(b)``; empty exactly when the two are equal. Runs in
    bounded memory: rows are rendered a slice at a time (a slice keeps
    the whole frame's dtypes, so every cell renders as in
    ``_canon_frame``), hash-partitioned into ``parts`` spill files per
    side, and compared one sorted partition at a time. Equal rows land
    in the same partition, so the frames are equal exactly when every
    partition is. Rendering a 10M-row result whole takes several GB of
    Python strings."""
    import pickle
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        for side, pdf in enumerate((a, b)):
            outs = [open(f"{tmp}/{side}.{p}", "wb") for p in range(parts)]
            try:
                for start in range(0, len(pdf), 200_000):
                    buckets = [[] for _ in range(parts)]
                    for row in _canon_frame(pdf.iloc[start:start + 200_000]):
                        buckets[hash(row) % parts].append(row)
                    for out, rows in zip(outs, buckets):
                        pickle.dump(rows, out)
            finally:
                for out in outs:
                    out.close()

        def load(side: int, p: int) -> list:
            rows = []
            with open(f"{tmp}/{side}.{p}", "rb") as f:
                while True:
                    try:
                        rows += pickle.load(f)
                    except EOFError:
                        return sorted(rows)

        diffs: list = []
        for p in range(parts):
            ra, rb = load(0, p), load(1, p)
            if ra != rb:
                pairs = [(x, y) for x, y in zip(ra, rb) if x != y]
                diffs += pairs or [(ra[len(rb):][:1], rb[len(ra):][:1])]
            if len(diffs) >= n:
                break
        return diffs[:n]


def _tail_queries() -> list[str]:
    qs = list(entry_mod.queries())
    oracles = entry_mod.oracle_sql()
    tail = qs[entry_mod._DRIVER_WINDOW :]
    return [q for q in tail if q in oracles]


def test_tail_is_nonempty_and_known_size():
    tail = _tail_queries()
    # the registry only grows; if this shrinks, queries lost oracles
    assert len(tail) >= 85, tail


@pytest.fixture(scope="module")
def duck(sf_dir):
    import duckdb

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.schemas import (
        TESTDATA_TABLES,
    )

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", _tail_queries())
def test_tail_oracle_hash_match(spark, sf_dir, duck, name):
    fn = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]

    sdf = fn(spark, sf_dir).toPandas()
    odf = duck.execute(sql).df()

    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: cols spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), (
        f"{name}: rowcount spark={len(sdf)} oracle={len(odf)}"
    )
    srows = _canon_frame(sdf)
    orows = _canon_frame(odf)
    if srows != orows:
        diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
        raise AssertionError(f"{name}: values differ, first diffs: {diffs}")
