"""Unicode sweep: documents.text gains non-ASCII content (accents,
umlauts, CJK, emoji, NBSP, combining marks) and every oracle query
must still hash-match DuckDB.

The text stack deliberately uses ASCII-explicit regex classes
(`[A-Za-z0-9]`, `[^A-Za-z0-9 \\t\\n]` — see functions/text.py
BPE_PATTERN note) because Java regex (Spark) and RE2 (DuckDB) DIVERGE
on unicode-aware classes (\\w, \\p{L}, case folding). This sweep is
the proof the claim holds end to end: multibyte text flowing through
tokenizers, fingerprints, shingles, language-ID, quality scores and
LSH signatures produces bit-identical results in both engines.

Construction: ~every third document gets a deterministic unicode
decoration woven into its text (prefix + an infix after the first
word); all other tables are untouched, so non-text queries pass
trivially — the cost of sweeping everything is two minutes and the
uniformity keeps the harness one parametrized test.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

from test_oracle_tail import _canon_frame

pytestmark = pytest.mark.slow

SRC_DIR = "/root/testdata/sf0.001"

_DECOR = [
    "café straße ",            # accents + sharp s
    "中文文本 ",          # CJK
    "\U0001f600\U0001f680 emoji ",        # astral-plane emoji
    "naïve space ",            # combining diaeresis + NBSP
]


@pytest.fixture(scope="module")
def unicode_dir(spark, tmp_path_factory):
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.schemas import (
        TESTDATA_TABLES,
    )

    d = tmp_path_factory.mktemp("unicode_sf")
    for name in TESTDATA_TABLES:
        df = spark.read.parquet(f"{SRC_DIR}/{name}.parquet")
        if name == "documents":
            decor = (
                F.when(F.col("doc_id") % 12 == 0, F.lit(_DECOR[0]))
                .when(F.col("doc_id") % 12 == 3, F.lit(_DECOR[1]))
                .when(F.col("doc_id") % 12 == 6, F.lit(_DECOR[2]))
                .when(F.col("doc_id") % 12 == 9, F.lit(_DECOR[3]))
            )
            df = df.withColumn(
                "text",
                F.when(
                    decor.isNotNull(), F.concat(decor, F.col("text"))
                ).otherwise(F.col("text")),
            ).withColumn("n_chars", F.length("text"))
        df.coalesce(1).write.parquet(str(d / f"{name}.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def duck_unicode(unicode_dir):
    import duckdb

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.schemas import (
        TESTDATA_TABLES,
    )

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{unicode_dir}/{t}.parquet/*.parquet')"
        )
    yield con
    con.close()


def _oracle_queries() -> list[str]:
    oracles = entry_mod.oracle_sql()
    return [q for q in entry_mod.queries() if q in oracles]


@pytest.mark.parametrize("name", _oracle_queries())
def test_unicode_text_matches_oracle(spark, unicode_dir, duck_unicode, name):
    fn = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]

    sdf = fn(spark, unicode_dir).toPandas()
    odf = duck_unicode.execute(sql).df()

    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: cols spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), (
        f"{name}: rowcount on unicode input spark={len(sdf)} oracle={len(odf)}"
    )
    srows = _canon_frame(sdf)
    orows = _canon_frame(odf)
    if srows != orows:
        diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
        raise AssertionError(f"{name}: unicode values differ: {diffs}")
