"""The shared operator cores, in the default collection.

Each family below has one implementation that several entry points
call: the per-key top-k (``dedup.dedup_keep_first``), the windowed
aggregate (``incremental.window_agg``), the shingle overlap behind the
Jaccard and containment pairs, and the one-table LM and DSIR count
indexes. On tiny hand-made frames each is checked against a
plain-Python reference computed here (the DSIR append against a build
on the union of the shards).
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict
from datetime import datetime, timedelta
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    dedup as DD,
    lm as LM,
    sampling as SMP,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.streaming import (
    incremental as INC,
)

# (key, score, id): key "a" ties on score 5, key "c" has one row
ROWS = [
    ("a", 5, 1), ("a", 5, 2), ("a", 3, 3), ("a", 9, 4), ("a", 1, 5),
    ("b", 2, 6), ("b", 2, 7), ("b", 8, 8),
    ("c", 4, 9),
]


@pytest.mark.parametrize("k", [1, 3])
def test_per_key_top_k_breaks_ties_by_the_order(spark, k):
    df = spark.createDataFrame(ROWS, "key string, score long, id long")
    got = DD.dedup_keep_first(
        df, ["key"], [F.col("score").desc(), "id"], k, "rank"
    )
    groups = defaultdict(list)
    for key, score, i in ROWS:
        groups[key].append((score, i))
    want = {
        (key, score, i, rank)
        for key, rows in groups.items()
        for rank, (score, i) in enumerate(
            sorted(rows, key=lambda r: (-r[0], r[1]))[:k], start=1
        )
    }
    assert {tuple(r) for r in got.collect()} == want
    # without a rank column the frame keeps exactly its own columns
    plain = DD.dedup_keep_first(df, ["key"], [F.col("score").desc(), "id"], k)
    assert plain.columns == df.columns
    assert {tuple(r) for r in plain.collect()} == {w[:3] for w in want}


T0 = datetime(2024, 1, 1)
EVENTS = [
    (T0 + timedelta(minutes=7), "x", 1.25),
    (T0 + timedelta(minutes=12), "x", 10.0),
    (T0 + timedelta(minutes=14), "y", 2.5),
    (T0 + timedelta(hours=25, minutes=3), "x", 0.5),
    (None, "x", 100.0),  # undated: in no window
]


@pytest.mark.parametrize(
    "window,slide,width,step",
    [("1 day", None, 1440, 1440), ("10 minutes", "5 minutes", 10, 5)],
)
def test_window_agg_tumbling_and_sliding(spark, window, slide, width, step):
    ev = spark.createDataFrame(EVENTS, "ts timestamp, event_type string, value double")
    got = {
        (r["window_start"], r["window_end"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in INC.window_agg(ev, "ts", window, slide).collect()
    }
    want = defaultdict(lambda: [0, 0.0])
    for ts, typ, value in EVENTS:
        if ts is None:
            continue
        # windows start every `step` minutes from T0 (epoch-aligned);
        # an event is in each one whose [start, start + width) holds it
        minute = int((ts - T0).total_seconds() // 60)
        last = minute - minute % step
        for start in range(last - width + step, last + 1, step):
            key = (T0 + timedelta(minutes=start), T0 + timedelta(minutes=start + width), typ)
            want[key][0] += 1
            want[key][1] += value
    assert got == {k: tuple(v) for k, v in want.items()}


DOCS = [
    (1, "the cat sat on the mat today"),
    (2, "the cat sat on the mat"),
    (3, "a dog ran in the park"),
    (4, "the cat sat on the mat today again and again"),
    (5, "a dog ran"),
    (6, "a dog"),
]


def _shingles(text, n):
    toks = text.split()
    if len(toks) < n:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_jaccard_and_containment_pairs_equal_python(spark):
    n = 3
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    sets = {i: _shingles(t, n) for i, t in DOCS}
    jac, cont = {}, {}
    for a, b in combinations(sorted(sets), 2):
        common = len(sets[a] & sets[b])
        if not common:
            continue
        na, nb = len(sets[a]), len(sets[b])
        if common / (na + nb - common) >= 0.5:
            jac[(a, b)] = (common, na, nb, common / (na + nb - common))
        if common / min(na, nb) >= 0.9:
            cont[(a, b)] = (common, na, nb, common / min(na, nb), a if na <= nb else b)
    got_jac = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["n_a"], r["n_b"], r["jaccard"])
        for r in DD.ngram_jaccard_pairs(df, n=n, threshold=0.5).collect()
    }
    got_cont = {
        (r["id_a"], r["id_b"]): tuple(r)[2:]
        for r in DD.containment_pairs(df, n=n, threshold=0.9).collect()
    }
    assert got_jac == jac and jac
    assert got_cont == cont and (5, 3) not in cont and (3, 5) in cont


def _lm_counts(texts):
    """The LM index's ``(k, g, ctx) -> c`` in plain Python: lowercased
    alnum tokens, every n-gram of order 0..3 ending at each token."""
    out = Counter()
    for text in texts:
        toks = [t for t in re.sub("[^a-z0-9 ]", " ", text.lower()).split(" ") if t]
        for i in range(len(toks)):
            out[(0, "", "")] += 1
            for k in range(1, min(i + 1, 3) + 1):
                gram = toks[i - k + 1 : i + 1]
                out[(k, " ".join(gram), " ".join(gram[:-1]))] += 1
    return out


def test_lm_index_build_then_append_equals_training_on_the_union(spark, tmp_path):
    p = str(tmp_path / "lm")
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    LM.lm_index_build(docs.filter("doc_id <= 3"), p)
    LM.lm_index_append(docs.filter("doc_id > 3"), p)
    got = {(r["k"], r["g"], r["ctx"]): r["c"] for r in LM.lm_index_read(spark, p).collect()}
    assert got == _lm_counts(t for _, t in DOCS)
    # scoring from the appended index equals the in-plan scorer trained
    # on the union
    held_out = spark.createDataFrame(
        [(9, "the dog sat on the mat in the park")], "doc_id long, text string"
    )
    assert LM.lm_index_score(held_out, p).collect() == LM.lm_score_stupid_backoff(
        held_out, train_docs=docs
    ).collect()


def test_dsir_index_append_equals_build_on_the_union(spark, tmp_path):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    target = F.col("doc_id") % 2 == 0
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    SMP.dsir_index_build(docs.filter("doc_id <= 3"), target, inc, n_buckets=16)
    SMP.dsir_index_append(docs.filter("doc_id > 3"), target, inc)
    SMP.dsir_index_build(docs, target, full, n_buckets=16)

    def table(path):
        return sorted(tuple(r) for r in SMP.dsir_index_read(spark, path)[0].collect())

    assert table(inc) == table(full)
    assert sum(r[1] for r in table(full)) > 0 and sum(r[2] for r in table(full)) > 0
