"""Persisted/incremental DSIR index lifecycle (operators/sampling.
dsir_index_build/append/score, round 12).

Pins what the registry oracle can't isolate: incremental == full at
the operator level on hand-built shards, torn-build detection
(meta-absent raises), meta parameter round-trip (a scorer must
featurize with the INDEX's n_buckets/k, not its own defaults), and
score-from-index ≡ in-plan weights.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    sampling as SMP,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources.io import (
    read_meta,
)

_T = "12345 67890 12345 67890"
_R1 = "67890 12345 67890"
_R2 = "quick brown foxes jump over lazy dogs"
_R3 = "some middling mixture 12345 of digits and words"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")


def _full(spark):
    return _docs(
        spark,
        [(0, _T, True), (1, _T, True), (2, _R1, False), (3, _R2, False),
         (4, _R3, False)],
    )


def test_incremental_equals_full(spark, tmp_path):
    full = _full(spark)
    inc = str(tmp_path / "inc")
    fullp = str(tmp_path / "full")
    SMP.dsir_index_build(
        full.filter(F.col("doc_id") < 2), F.col("is_t"), inc
    )
    SMP.dsir_index_append(
        full.filter(F.col("doc_id") >= 2), F.col("is_t"), inc
    )
    SMP.dsir_index_build(full, F.col("is_t"), fullp)
    a = {
        r["b"]: (r["tp"], r["tq"])
        for r in spark.read.parquet(f"{inc}/buckets").collect()
    }
    b = {
        r["b"]: (r["tp"], r["tq"])
        for r in spark.read.parquet(f"{fullp}/buckets").collect()
    }
    assert a == b


def test_score_from_index_equals_in_plan_weights(spark, tmp_path):
    full = _full(spark)
    path = str(tmp_path / "idx")
    SMP.dsir_index_build(full, F.col("is_t"), path)
    pool = full.filter(~F.col("is_t"))
    from_index = {
        r["id"]: (r["n_grams"], r["logw256"], r["logw_bits"])
        for r in SMP.dsir_score_from_index(pool, path).collect()
    }
    in_plan = {
        r["id"]: (r["n_grams"], r["logw256"], r["logw_bits"])
        for r in SMP.dsir_importance_weights(
            full, F.col("is_t")
        ).collect()
    }
    assert from_index == in_plan


def test_missing_index_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no committed DSIR index"):
        SMP.dsir_index_read(spark, str(tmp_path / "nope"))


def test_meta_params_round_trip(spark, tmp_path):
    full = _full(spark)
    path = str(tmp_path / "idx64")
    SMP.dsir_index_build(full, F.col("is_t"), path, n_buckets=64, k=4)
    meta = read_meta(spark, path)
    assert meta["n_buckets"] == 64 and meta["k"] == 4
    # scorer must follow the index's featurizer, not its defaults:
    # every scored bucket id stays under the index's n_buckets
    scored = SMP.dsir_score_from_index(full.filter(~F.col("is_t")), path)
    assert scored.count() == 3
    bt = spark.read.parquet(f"{path}/buckets")
    assert bt.agg(F.max("b")).first()[0] < 64


def test_append_to_missing_index_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no committed DSIR index"):
        SMP.dsir_index_append(
            _full(spark), F.col("is_t"), str(tmp_path / "absent")
        )

# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
pytestmark = pytest.mark.slow
