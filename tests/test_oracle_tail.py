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
from collections.abc import Iterable, Iterator

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


def _spark_slices(sdf) -> Iterator[pd.DataFrame]:
    """The rows of ``sdf`` as pandas slices, one per Arrow batch as the
    batches arrive, each converted column by column as ``toPandas()``
    converts the whole result. The result is never held whole in
    Python; ``_frame_diffs`` gives the slices the whole result's
    dtypes."""
    import pyarrow as pa
    from pyspark.errors.exceptions.captured import unwrap_spark_exception
    from pyspark.sql.pandas.serializers import ArrowCollectSerializer
    from pyspark.sql.pandas.types import _create_converter_to_pandas
    from pyspark.util import _load_from_socket

    conf = sdf.sparkSession._jconf
    struct_mode = conf.pandasStructHandlingMode()
    convert = [
        _create_converter_to_pandas(
            f.dataType,
            f.nullable,
            timezone=conf.sessionLocalTimeZone(),
            struct_in_pandas="dict" if struct_mode == "legacy" else struct_mode,
            error_on_duplicated_field_names=struct_mode == "legacy",
        )
        for f in sdf.schema.fields
    ]
    port, secret, server = sdf._jdf.collectAsArrowToPython()
    try:
        # batches arrive in completion order; the last item is the
        # batch order, which an order-insensitive compare ignores
        for batch in _load_from_socket((port, secret), ArrowCollectSerializer()):
            if not isinstance(batch, pa.RecordBatch) or batch.num_rows == 0:
                continue
            pdf = batch.rename_columns(
                [f"col_{i}" for i in range(batch.num_columns)]
            ).to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)
            yield pd.concat(
                [
                    conv(pdf[c]).rename(name)
                    for conv, c, name in zip(convert, pdf.columns, sdf.columns)
                ],
                axis="columns",
            )
    finally:
        with unwrap_spark_exception():
            server.getResult()


def _duck_slices(res, vectors: int = 100) -> Iterator[pd.DataFrame]:
    """The rows of an executed DuckDB result as pandas slices of
    ``vectors`` × 2048 rows, each converted as ``.df()`` converts the
    whole result."""
    while True:
        pdf = res.fetch_df_chunk(vectors)
        if pdf.empty:
            return
        yield pdf


def _frame_diffs(
    a: Iterable[pd.DataFrame], b: Iterable[pd.DataFrame], n: int = 3, parts: int = 64
) -> tuple[int, int, list]:
    """Row counts of the two results given as streams of pandas
    slices, and up to ``n`` differing row pairs between their
    ``_canon_frame`` renderings (empty exactly when the two are
    equal), computed in bounded memory.

    A column's pandas dtype depends on the rows converted with it (an
    integer column with a NULL converts to float64 and renders
    ``1.0``), so each side runs twice over its slices: the first pass
    spills them to disk and resolves every column's dtype over all of
    them, as concatenating the slices would; the second renders each
    slice with those dtypes, so every cell renders as in
    ``_canon_frame`` of the whole result, and hash-partitions the rows
    into ``parts`` spill files. Equal rows land in the same partition,
    so the results are equal exactly when every partition is, and the
    partitions are compared one sorted pair at a time."""
    import pickle
    import tempfile

    from pandas.core.dtypes.cast import find_common_type

    with tempfile.TemporaryDirectory() as tmp:
        rows = []
        for side, slices in enumerate((a, b)):
            dtypes: dict[str, list] = {}
            count = 0
            with open(f"{tmp}/{side}.slices", "wb") as spill:
                for pdf in slices:
                    count += len(pdf)
                    for c in pdf.columns:
                        dtypes.setdefault(c, []).append(pdf[c].dtype)
                    pickle.dump(pdf, spill)
            rows.append(count)
            common = {c: find_common_type(ds) for c, ds in dtypes.items()}
            outs = [open(f"{tmp}/{side}.{p}", "wb") for p in range(parts)]
            try:
                with open(f"{tmp}/{side}.slices", "rb") as spill:
                    while True:
                        try:
                            pdf = pickle.load(spill)
                        except EOFError:
                            break
                        buckets = [[] for _ in range(parts)]
                        for row in _canon_frame(pdf.astype(common, copy=False)):
                            buckets[hash(row) % parts].append(row)
                        for out, part in zip(outs, buckets):
                            pickle.dump(part, out)
            finally:
                for out in outs:
                    out.close()

        def load(side: int, p: int) -> list:
            part = []
            with open(f"{tmp}/{side}.{p}", "rb") as f:
                while True:
                    try:
                        part += pickle.load(f)
                    except EOFError:
                        return sorted(part)

        diffs: list = []
        for p in range(parts):
            ra, rb = load(0, p), load(1, p)
            if ra != rb:
                pairs = [(x, y) for x, y in zip(ra, rb) if x != y]
                diffs += pairs or [(ra[len(rb):][:1], rb[len(ra):][:1])]
            if len(diffs) >= n:
                break
        return rows[0], rows[1], diffs[:n]


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
