"""Connected components: multi-hop chains converge to the min id,
isolated nodes stay singleton, and non-convergence fails loudly."""

from __future__ import annotations

import pytest

from mini_distributed_search_engine_spark.operators.components import (
    connected_components, connected_components_star)


def test_components_chain_and_isolated(spark):
    nodes = spark.createDataFrame([(i,) for i in range(8)], "id long")
    # 0-1-2-3-4 chain (diameter 4: takes several propagation rounds),
    # 6-7 pair, 5 isolated
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (3, 2), (3, 4), (6, 7)], "a long, b long")
    got = {r["node"]: r["component"]
           for r in connected_components(nodes, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 6, 7: 6}


def _path_graph(spark, n):
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long")
    return nodes, edges


def test_deep_diameter_path_propagation_needs_diameter_rounds(spark):
    # 60-node path: diameter 59 — min-label propagation converges only
    # when allowed that many rounds (exercises the >=10-round regime and
    # the max_iters guard boundary from both sides)
    nodes, edges = _path_graph(spark, 60)
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(nodes, edges, max_iters=10)
    got = {r["node"]: r["component"]
           for r in connected_components(nodes, edges, max_iters=64).collect()}
    assert got == {i: 0 for i in range(60)}


def test_star_converges_fast_on_deep_path_and_matches(spark):
    # small-star/large-star: O(log^2 n) rounds independent of diameter —
    # 10 rounds suffice where propagation needed 59
    nodes, edges = _path_graph(spark, 60)
    got = {r["node"]: r["component"]
           for r in connected_components_star(nodes, edges,
                                              max_iters=10).collect()}
    assert got == {i: 0 for i in range(60)}


def test_derived_path_edges_deep_fixture(spark):
    """The deep-diameter fixture: chains of 128 consecutive ids over a 300-id space. Propagation's
    default 25-round guard must trip (diameter 127); star-CC must
    converge and label every node with its chain's minimum."""
    from pyspark.sql import functions as F
    from mini_distributed_search_engine_spark.operators.components import (
        derived_path_edges)
    ids = spark.range(300).select(F.col("id").alias("vec_id"))
    edges = derived_path_edges(ids, chain=128)
    # edge count: one per consecutive pair minus the chain breaks at 127,255
    assert edges.count() == 299 - 2
    nodes = ids.select(F.col("vec_id").alias("id"))
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(nodes, edges, a_col="va", b_col="vb")
    got = {r["node"]: r["component"]
           for r in connected_components_star(
               nodes, edges, a_col="va", b_col="vb").collect()}
    assert got == {i: (i // 128) * 128 for i in range(300)}


def test_star_matches_propagation_on_mixed_graph(spark):
    nodes = spark.createDataFrame([(i,) for i in range(12)], "id long")
    # two chains, a triangle, two isolated nodes; edges in scrambled order
    edges = spark.createDataFrame(
        [(3, 1), (1, 0), (2, 3), (7, 5), (5, 6), (8, 9), (9, 10), (10, 8)],
        "a long, b long")
    prop = {r["node"]: r["component"]
            for r in connected_components(nodes, edges).collect()}
    star = {r["node"]: r["component"]
            for r in connected_components_star(nodes, edges).collect()}
    assert star == prop
    assert star[4] == 4 and star[11] == 11      # isolated stay singleton
    assert star[10] == 8 and star[6] == 5       # cycle + chain collapse


def test_components_nonconvergence_raises(spark):
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "a long, b long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(nodes, edges, max_iters=1)


def _union_find_labels(n, edges):
    """Ground truth: min node id per component via plain union-find."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n)}


@pytest.mark.parametrize("seed,n,m", [(1, 40, 25), (2, 60, 60), (3, 30, 90)])
def test_random_graphs_star_and_propagation_match_union_find(spark, seed,
                                                             n, m):
    import random
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    want = _union_find_labels(n, edges)
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edf = spark.createDataFrame(edges, "a long, b long")
    prop = {r["node"]: r["component"]
            for r in connected_components(nodes, edf, max_iters=64).collect()}
    star = {r["node"]: r["component"]
            for r in connected_components_star(nodes, edf,
                                               max_iters=25).collect()}
    assert prop == want
    assert star == want
