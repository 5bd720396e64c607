"""Extreme-values sweep: every oracle query runs on tables whose
payload columns carry boundary values and still hash-matches DuckDB.

The null-heavy sweep pinned three-valued logic; this one pins the
*edges of the value domains*: century-boundary timestamps (1901 /
2199 — outside the dim_date spine, far from the testdata's era),
money at the top of the decimal(12,2)-contract range, zero and
negative amounts, empty strings, kilobyte-long strings, and strings
opening with quote/backslash/newline/tab/separator characters (the
classic CSV-era canonicalization traps). At 100 TB something in every
column hits these edges daily; an engine whose aggregates, date
arithmetic, or text operators diverge from ANSI there corrupts
silently.

Construction mirrors the null sweep: copy sf0.001, rewrite a
deterministic slice of every non-contract column with boundary values
BY TYPE (plus per-column overrides where an operator documents a
narrower domain, e.g. discount/tax live in [0,1] with 2 decimals so
the oracle's DECIMAL(3,2) cast stays exact). Both engines read the
same rewritten parquet, so the comparison isolates engine semantics.

Deliberately NOT injected (documented contracts, not gaps):
- key/id columns — joins and surrogate keys require dense unique keys;
- ``events.props`` — valid-JSON-or-NULL contract: DuckDB's
  json_extract *raises* on malformed JSON while Spark's
  get_json_object returns NULL, an engine-level divergence the
  upstream quarantine reader exists to prevent (corrupt records are
  split out before this surface, sources/io.py quarantine readers);
- ``embeddings.embedding``/``label`` — non-null bounded-magnitude
  index-input contract (the 1e6 fixed-point quantization used for
  engine-neutral scoring needs |x|·1e6 inside BIGINT);
- integer sums near 2^63 — Spark ANSI raises on BIGINT overflow while
  DuckDB widens to HUGEINT, an intentional ANSI-mode difference, so
  injected integers stay at 1e9 (aggregates stay under 2^53 and
  canonicalize exactly through float64 too).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

from test_oracle_tail import _duck_slices, _frame_diffs, _spark_slices

pytestmark = pytest.mark.slow

SRC_DIR = "/root/testdata/sf0.001"

_KEEP = {
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "o_orderkey", "o_custkey", "c_custkey", "s_suppkey", "p_partkey",
    "n_nationkey", "n_regionkey", "r_regionkey",
    "event_id", "user_id", "doc_id", "vec_id",
    "embedding", "label",
    "props",
}

_LONG_PAD = "boundary sweep filler text "
_SPECIALS = "\"'\\\n\t,;| "


def _slices_for(col: str, dtype: str):
    """(lo_pct, hi_pct, replacement Column) slices per column.

    Slices are over ``abs(hash(value, salt)) % 100`` — deterministic,
    value-keyed (equal values move together, which is fine: both
    engines read the same rewritten files).
    """
    c = F.col(col)
    if col in ("l_discount", "l_tax"):
        # [0,1] two-decimal contract (oracle DECIMAL(3,2) casts)
        return [(0, 5, F.lit(0.99)), (5, 10, F.lit(0.0))]
    if col == "l_quantity":
        # non-negative quantity contract; top of the 4-decimal range
        return [(0, 5, F.lit(9999.0)), (5, 10, F.lit(0.0))]
    if dtype == "string":
        return [
            (0, 6, F.rpad(F.coalesce(c, F.lit("x")), 1500, _LONG_PAD)),
            (6, 12, F.concat(F.lit(_SPECIALS), F.coalesce(c, F.lit("")))),
            (12, 16, F.lit("")),
        ]
    if dtype == "double":
        return [
            (0, 5, F.lit(99999999.99)),
            (5, 10, F.lit(-99999999.99)),
            (10, 13, F.lit(0.0)),
        ]
    if dtype == "bigint":
        return [(0, 5, F.lit(1_000_000_007)), (5, 10, F.lit(-1_000_000_007))]
    if dtype == "int":
        return [(0, 5, F.lit(1_000_003)), (5, 10, F.lit(-1_000_003))]
    if dtype.startswith("timestamp"):
        return [
            (0, 5, F.lit("1901-07-14 09:00:00").cast("timestamp")),
            (5, 10, F.lit("2199-11-30 23:30:00").cast("timestamp")),
        ]
    return []


@pytest.fixture(scope="module")
def extreme_dir(spark, tmp_path_factory):
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.schemas import (
        TESTDATA_TABLES,
    )

    d = tmp_path_factory.mktemp("extreme_sf")
    for name in TESTDATA_TABLES:
        df = spark.read.parquet(f"{SRC_DIR}/{name}.parquet")
        out = df
        for i, (col, dtype) in enumerate(df.dtypes):
            if col in _KEEP:
                continue
            gate = F.abs(F.hash(F.col(col).cast("string"), F.lit(i * 7919 + 13))) % 100
            expr = F.col(col)
            for lo, hi, repl in _slices_for(col, dtype):
                expr = F.when((gate >= lo) & (gate < hi), repl).otherwise(expr)
            out = out.withColumn(col, expr.cast(dtype))
        out.coalesce(1).write.parquet(str(d / f"{name}.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def duck_extreme(extreme_dir):
    import duckdb

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.schemas import (
        TESTDATA_TABLES,
    )

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{extreme_dir}/{t}.parquet/*.parquet')"
        )
    yield con
    con.close()


def _oracle_queries() -> list[str]:
    oracles = entry_mod.oracle_sql()
    return [q for q in entry_mod.queries() if q in oracles]


@pytest.mark.parametrize("name", _oracle_queries())
def test_extreme_values_match_oracle(spark, extreme_dir, duck_extreme, name):
    fn = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]

    # text_pack_chunks legitimately fans the injected bigint n_chars out
    # into 15.1M chunk rows: both results stream in slices and compare
    # in bounded memory
    sdf = fn(spark, extreme_dir)
    res = duck_extreme.execute(sql)
    ocols = [d[0] for d in res.description]
    assert sorted(sdf.columns) == sorted(ocols), (
        f"{name}: cols spark={sorted(sdf.columns)} oracle={sorted(ocols)}"
    )
    srows, orows, diffs = _frame_diffs(_spark_slices(sdf), _duck_slices(res))
    assert srows == orows, (
        f"{name}: rowcount on extreme input spark={srows} oracle={orows}"
    )
    if diffs:
        raise AssertionError(f"{name}: extreme-value results differ: {diffs}")
