"""The two query-heavy curation stages in the default collection:
survivorship over persisted edges (``dedup.survivors_from_edges``) and
the LM score (``lm.lm_score_stupid_backoff``). Their exhaustive suites
(``test_cc_star``, ``test_lm``, ``test_lm_index``,
``test_property_lm_ccstar``) are ``slow``; these tests pin what a plan
change most easily breaks: the Spark jobs each stage runs, the LM's
count tables against the three-groupBy form they replace, and the
component labels on a graph whose first round leaves a child with two
roots."""

from __future__ import annotations

from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    dedup as DD,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    lm as LM,
)
from test_property_lm_ccstar import _union_find

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox naps all day"),
    (3, "a slow green turtle walks under the hot sun"),
    (4, "the lazy dog naps under the hot sun all day"),
    (5, "the quick brown fox jumps over a green turtle"),
    (6, "fox"),
    (7, "lazy dog"),
    (8, "the fox naps"),
    (9, None),
    (10, ""),
    (11, "!!! ???"),
]


def _jobs(spark, action) -> int:
    """Spark jobs ``action`` runs, from the DAG scheduler's job id
    marks around it."""
    dag = spark._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    action()
    return dag.nextJobId() - before


def _reference_count_tables(toks):
    """The count tables as three tokenize-explode-groupBy branches, one
    per n-gram order."""
    uni = toks.select(F.explode("ts").alias("w")).groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    bi = (
        toks.filter(F.size("ts") >= 2)
        .select(F.explode(F.expr(
            "transform(sequence(2, size(ts)), i -> "
            "struct(element_at(ts, i-1) as w1, element_at(ts, i) as w))"
        )).alias("g"))
        .select("g.w1", "g.w")
        .groupBy("w1", "w")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    tri = (
        toks.filter(F.size("ts") >= 3)
        .select(F.explode(F.expr(
            "transform(sequence(3, size(ts)), i -> "
            "struct(element_at(ts, i-2) as w2, element_at(ts, i-1) as w1, "
            "element_at(ts, i) as w))"
        )).alias("g"))
        .select("g.w2", "g.w1", "g.w")
        .groupBy("w2", "w1", "w")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    return uni, bi, tri


def test_lm_count_tables_equal_the_three_groupby_form(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    toks = docs.select(LM._tokens("text").alias("ts"))
    got_tables = LM._tables_from_counts(LM._ngram_counts(toks))
    for got, want in zip(got_tables, _reference_count_tables(toks)):
        assert got.columns == want.columns
        assert sorted(got.collect()) == sorted(want.collect())


# Spark jobs per stage on the frames below. A stage may run FEWER jobs
# than budgeted, never more: an extra probe, a re-planned count table
# or a lost exchange reuse fails here.
JOB_BUDGET = {"survivors_from_edges": 17, "lm_score_stupid_backoff": 7}


def test_curation_stages_stay_in_job_budget(spark):
    """Also checks the labels: on the path 1-3-4-5-2 the first round
    leaves no node both a parent and a child, yet 3 still has parents 1
    and 2 and 5 hangs off 2, so a fixpoint test that stops there keeps
    2 and 5 as survivors."""
    edge_list = [(1, 3), (3, 4), (4, 5), (5, 2), (7, 8), (9, 9), (11, 10), (10, 11)]
    nodes = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    edges = spark.createDataFrame(edge_list, "id_a long, id_b long")
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    out: dict = {}

    def survivors():
        out["components"] = DD.survivors_from_edges(nodes, edges).collect()

    got = {
        "survivors_from_edges": _jobs(spark, survivors),
        "lm_score_stupid_backoff": _jobs(
            spark, lambda: LM.lm_score_stupid_backoff(docs).collect()
        ),
    }
    assert {r["doc_id"]: r["component"] for r in out["components"]} == _union_find(12, edge_list)
    over = {k: (n, JOB_BUDGET[k]) for k, n in got.items() if n > JOB_BUDGET[k]}
    assert not over, f"(jobs, budget) over budget: {over}"
