"""Large-star/small-star connected components (VERDICT r10 #7 —
Kiveris et al. 2014): equivalence to a Python union-find reference on
every graph shape, the diameter-stress round bound that motivates it
(O(log² n) rounds vs O(diameter)), and keep-first survivorship on
top of it."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    dedup as DD,
)
from test_property_lm_ccstar import _union_find


def _frames(spark, n_nodes, edge_list):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    edges = spark.createDataFrame(
        edge_list or [(0, 0)], "id_a long, id_b long"
    )
    if not edge_list:
        edges = edges.filter(F.lit(False))
    return nodes, edges


def _labels(df):
    return {r["id"]: r["component"] for r in df.collect()}


GRAPHS = {
    "path": (10, [(i, i + 1) for i in range(9)]),
    "clique": (6, [(i, j) for i in range(5) for j in range(i + 1, 5)]),
    "star_high_center": (8, [(7, i) for i in range(6)]),
    "two_components_plus_singletons": (
        12,
        [(0, 1), (1, 2), (4, 5), (5, 6), (6, 4)],
    ),
    "duplicate_and_reversed_edges": (5, [(0, 1), (1, 0), (0, 1), (2, 3)]),
    "self_loops_only": (4, [(1, 1), (2, 2)]),
    # after one round no node is both a parent and a child, yet node 5
    # still hangs off root 2 and node 3 off roots 1 and 2: the fixpoint
    # also needs every child to have one parent
    "two_roots_after_one_round": (6, [(1, 3), (3, 4), (4, 5), (5, 2)]),
    "empty": (5, []),
}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_star_equals_union_find(spark, name):
    n, edge_list = GRAPHS[name]
    nodes, edges = _frames(spark, n, edge_list)
    got = _labels(DD.connected_components(nodes, edges))
    assert got == _union_find(n, edge_list), f"{name}: star vs union-find disagree"


def test_star_equals_union_find_random_graph(spark):
    rng = random.Random(42)
    n = 120
    edge_list = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(180)
    ]
    nodes, edges = _frames(spark, n, edge_list)
    assert _labels(DD.connected_components(nodes, edges)) == _union_find(
        n, edge_list
    )


def test_diameter_stress_converges_in_few_rounds(spark):
    """Adversarial near-dup chain (serial plagiarism): a path of 300
    nodes has diameter 299. Label propagation would need 299 rounds;
    large-star/small-star halves path lengths and lands the exact
    answer within a 20-round budget."""
    n = 300
    nodes, edges = _frames(spark, n, [(i, i + 1) for i in range(n - 1)])

    stats: dict = {}
    got = _labels(
        DD.connected_components(nodes, edges, max_iter=20, stats=stats)
    )
    assert got == {i: 0 for i in range(n)}
    assert stats["converged"] is True
    assert stats["rounds"] <= 12, (
        f"star variant needed {stats['rounds']} rounds on a 300-path"
    )


def test_raises_on_exhausted_budget(spark):
    """A budget the algorithm cannot converge in raises (never returns
    mid-contraction labels), and stats records converged=False."""
    n = 64
    nodes, edges = _frames(spark, n, [(i, i + 1) for i in range(n - 1)])
    stats: dict = {}
    with pytest.raises(DD.ConnectedComponentsDidNotConverge):
        DD.connected_components(nodes, edges, max_iter=1, stats=stats)
    assert stats["converged"] is False
    ok: dict = {}
    DD.connected_components(nodes, edges, stats=ok)
    assert ok["converged"] is True


def test_survivors_from_edges_handles_deep_chain(spark):
    """survivors_from_edges routes through the star CC, so a 300-node
    near-dup chain resolves exactly at the DEFAULT budget: one
    component, min id kept."""
    n = 300
    nodes, edges = _frames(spark, n, [(i, i + 1) for i in range(n - 1)])
    out = DD.survivors_from_edges(
        nodes.select(F.col("id").alias("doc_id")), edges, id_col="doc_id"
    ).collect()
    assert len(out) == n
    assert all(r["component"] == 0 for r in out)
    kept = {r["doc_id"] for r in out if r["kept"]}
    assert kept == {0}


def test_star_survivors_composition(spark):
    """Component minima on a mixed graph are exactly the ids
    survivorship keeps."""
    n, edge_list = 12, [(0, 1), (1, 2), (4, 5), (5, 6), (6, 4)]
    nodes, edges = _frames(spark, n, edge_list)
    comp = DD.connected_components(nodes, edges)
    kept = {
        r["id"]
        for r in comp.filter(F.col("id") == F.col("component")).collect()
    }
    assert kept == {0, 3, 4, 7, 8, 9, 10, 11}


def test_survivors_ignore_dangling_edge_endpoints(spark):
    """Edges to ids outside ``nodes`` are dropped before the loop, so
    every label is a node id and no cluster loses its survivor. Node
    0 is absent: docs 1 and 2 are only linked through it."""
    nodes = spark.createDataFrame([(1,), (2,), (5,)], "doc_id long")
    edges = spark.createDataFrame([(0, 1), (0, 2)], "id_a long, id_b long")
    out = {
        r["doc_id"]: (r["component"], r["kept"])
        for r in DD.survivors_from_edges(nodes, edges).collect()
    }
    assert out == {1: (1, True), 2: (2, True), 5: (5, True)}


# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
pytestmark = pytest.mark.slow
