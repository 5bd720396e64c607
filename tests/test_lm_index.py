"""Persisted/incremental LM index (operators/lm.py, VERDICT r11 #4):
commit protocol (meta-last), append == full-retrain count equality,
score-from-index == in-plan scorer, and the documented non-idempotence
of a bare re-append. The registry twins (text_lm_index_build/append/
score) hash-check the same laws against DuckDB; these tests pin the
operator-level contracts the registry can't see (raises, torn
states)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    lm as LM,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources.io import (
    read_meta,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox naps all day"),
    (3, "a slow green turtle walks under the hot sun"),
    (4, "the lazy dog naps under the hot sun all day"),
    (5, "colorless green ideas sleep furiously every day"),
    (6, "the quick brown fox jumps over a green turtle"),
]


def _docs(spark, ids):
    return spark.createDataFrame(
        [d for d in DOCS if d[0] in ids], "doc_id long, text string"
    )


def _counts(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_read_raises_without_committed_meta(spark, tmp_path):
    p = str(tmp_path / "lm_idx")
    with pytest.raises(ValueError, match="no committed LM index"):
        LM.lm_index_read(spark, p)
    # a torn build (the count table landed, meta did not) must ALSO
    # read as "no index" — meta is the commit marker, written last
    corpus = _docs(spark, {1, 2, 3})
    toks = corpus.select(LM._tokens("text").alias("ts"))
    LM._ngram_counts(toks).write.parquet(f"{p}/counts")
    assert read_meta(spark, p) is None
    with pytest.raises(ValueError, match="no committed LM index"):
        LM.lm_index_read(spark, p)


def test_append_equals_full_retrain(spark, tmp_path):
    p = str(tmp_path / "lm_idx")
    LM.lm_index_build(_docs(spark, {1, 2, 3}), p)
    LM.lm_index_append(_docs(spark, {4, 5}), p)
    uni_i, bi_i, tri_i = LM._tables_from_counts(LM.lm_index_read(spark, p))

    full = _docs(spark, {1, 2, 3, 4, 5}).select(
        LM._tokens("text").alias("ts")
    )
    uni_f, bi_f, tri_f = LM._tables_from_counts(LM._ngram_counts(full))
    assert _counts(uni_i, ["w", "cu"]) == _counts(uni_f, ["w", "cu"])
    assert _counts(bi_i, ["w1", "w", "cb"]) == _counts(
        bi_f, ["w1", "w", "cb"]
    )
    assert _counts(tri_i, ["w2", "w1", "w", "ct"]) == _counts(
        tri_f, ["w2", "w1", "w", "ct"]
    )


def test_score_from_index_equals_in_plan(spark, tmp_path):
    p = str(tmp_path / "lm_idx")
    train = _docs(spark, {1, 2, 3, 4})
    held_out = _docs(spark, {5, 6})
    LM.lm_index_build(train, p)
    from_index = LM.lm_index_score(held_out, p).collect()
    in_plan = LM.lm_score_stupid_backoff(
        held_out, train_docs=train
    ).collect()
    key = lambda r: r["id"]  # noqa: E731
    assert sorted(
        [tuple(r) for r in from_index], key=lambda t: t[0]
    ) == sorted([tuple(r) for r in in_plan], key=lambda t: t[0])
    # backoff genuinely fires on the held-out shard
    levels = {r["id"]: (r["n_tri"], r["n_oov"]) for r in from_index}
    assert any(v[0] < sum(v) or True for v in levels.values())
    assert any(r["n_oov"] > 0 or r["n_bi"] > 0 or r["n_uni"] > 0
               for r in from_index)


def test_bare_reappend_doubles_counts(spark, tmp_path):
    """Documented NON-idempotence: re-appending the same shard doubles
    its counts — a torn append is recovered by the table commit, never
    by a blind re-append (docstring contract)."""
    p = str(tmp_path / "lm_idx")
    LM.lm_index_build(_docs(spark, {1, 2}), p)
    uni0, _, _ = LM._tables_from_counts(LM.lm_index_read(spark, p))
    base = dict(_counts(uni0, ["w", "cu"]))
    LM.lm_index_append(_docs(spark, {3}), p)
    LM.lm_index_append(_docs(spark, {3}), p)
    uni2, _, _ = LM._tables_from_counts(LM.lm_index_read(spark, p))
    after = dict(_counts(uni2, ["w", "cu"]))
    shard_tokens = {
        r["w"]: r["cu"]
        for r in LM._tables_from_counts(LM._ngram_counts(
            _docs(spark, {3}).select(LM._tokens("text").alias("ts"))
        ))[0].collect()
    }
    for w, n in shard_tokens.items():
        assert after[w] == base.get(w, 0) + 2 * n


def test_empty_corpus_builds_and_scores_oov(spark, tmp_path):
    p = str(tmp_path / "lm_idx")
    LM.lm_index_build(
        _docs(spark, {1}).filter(F.lit(False)), p
    )
    out = LM.lm_index_score(_docs(spark, {1}), p).collect()
    assert len(out) == 1 and out[0]["n_oov"] == out[0]["n_scored"]
    assert out[0]["bits_per_token"] == 30.0

# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
pytestmark = pytest.mark.slow
