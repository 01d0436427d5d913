"""Connected components: chains, cliques, and cross-links converge to
min-label components; the large-star/small-star variant agrees with
plain label propagation everywhere."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row

from currency_market_pulse_spark.operators.components import (
    connected_components, connected_components_star,
)


def _pairs(spark, edges):
    return spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in edges])


def test_chain_and_clique(spark):
    # chain 1-2-3-4 (diameter 3, needs multiple rounds) + clique 10-11-12
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)]
    out = {r.node: r.comp for r in connected_components(_pairs(spark, edges)).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_merge_via_bridge(spark):
    # two clusters connected by one bridge edge collapse to one comp
    edges = [(1, 2), (3, 4), (2, 3)]
    out = {r.node: r.comp for r in connected_components(_pairs(spark, edges)).collect()}
    assert set(out.values()) == {1}


def test_star_agrees_on_basic_shapes(spark):
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)]
    out = {r.node: r.comp
           for r in connected_components_star(_pairs(spark, edges)).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_star_handles_long_chain_in_log_rounds(spark):
    """A 40-node path is label propagation's worst case (diameter-many
    rounds); star contraction must still produce the exact components
    within its O(log n) iteration budget."""
    chain = [(i, i + 1) for i in range(40)]
    out = {r.node: r.comp for r in connected_components_star(
        _pairs(spark, chain), max_iter=10).collect()}
    assert out == {i: 0 for i in range(41)}


def test_long_chain_beyond_round_budget_still_exact(spark):
    """A 41-node path needs 40 propagation rounds, twice the default
    budget of 20.  connected_components must not return the
    half-propagated labels (nodes 22-40 still carry labels 1-19 after
    the budget); it falls back to star contraction and returns the
    exact components."""
    chain = [(i, i + 1) for i in range(40)]
    out = {r.node: r.comp
           for r in connected_components(_pairs(spark, chain)).collect()}
    assert out == {i: 0 for i in range(41)}


@pytest.mark.slow
def test_star_matches_propagation_on_random_graphs(spark):
    rng = random.Random(42)
    for trial in range(3):
        nodes = list(range(30))
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(25)]
        edges = [(a, b) for a, b in edges if a != b]
        df = _pairs(spark, edges)
        a = {r.node: r.comp for r in connected_components(df).collect()}
        b = {r.node: r.comp for r in connected_components_star(df).collect()}
        assert a == b, f"trial {trial}: {a} vs {b}"


def test_self_pair_only_nodes_are_singletons_in_both(spark):
    """ADVICE r2: a node appearing ONLY in self-pairs (id_a == id_b)
    must come back as its own singleton component from BOTH variants —
    the star variant used to drop it."""
    edges = [(1, 2), (7, 7), (9, 9), (2, 2)]
    df = _pairs(spark, edges)
    plain = {r.node: r.comp for r in connected_components(df).collect()}
    star = {r.node: r.comp for r in connected_components_star(df).collect()}
    assert plain == {1: 1, 2: 1, 7: 7, 9: 9}
    assert star == plain


@pytest.mark.slow
def test_star_matches_propagation_with_random_self_loops(spark):
    rng = random.Random(7)
    for trial in range(2):
        nodes = list(range(25))
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(30)]
        df = _pairs(spark, edges)  # self-loops kept on purpose
        a = {r.node: r.comp for r in connected_components(df).collect()}
        b = {r.node: r.comp for r in connected_components_star(df).collect()}
        assert a == b, f"trial {trial}: {a} vs {b}"


@pytest.mark.slow
def test_pagerank_mass_conserved_and_hub_ranked(spark):
    """Fixed-point PageRank: total mass stays ~PR_UNIT (floor-division
    leakage bounded by n per division site), a node every other node
    points at out-ranks the periphery, and the integer iteration is
    partition-invariant."""
    from pyspark.sql import Row, functions as F

    from currency_market_pulse_spark.operators.components import (
        PR_UNIT, pagerank_fixed,
    )

    nodes = spark.createDataFrame([Row(node=i) for i in range(6)])
    # star: 1..5 all point at 0; 0 points at 1 (no dangling)
    edges = spark.createDataFrame(
        [Row(src=i, dst=0) for i in range(1, 6)] + [Row(src=0, dst=1)])
    pr = {r.node: r.fix for r in pagerank_fixed(nodes, edges, 3).collect()}
    assert max(pr, key=pr.get) == 0
    assert abs(sum(pr.values()) - PR_UNIT) < 100   # floor leakage only
    pr2 = {r.node: r.fix for r in pagerank_fixed(
        nodes.repartition(5), edges.repartition(3), 3).collect()}
    assert pr == pr2


def test_pagerank_dangling_mass_redistributed(spark):
    """A dangling node's mass is shared uniformly instead of leaking:
    with one dangling sink the total still sums to ~PR_UNIT."""
    from pyspark.sql import Row

    from currency_market_pulse_spark.operators.components import (
        PR_UNIT, pagerank_fixed,
    )

    nodes = spark.createDataFrame([Row(node=i) for i in range(4)])
    edges = spark.createDataFrame([Row(src=0, dst=3), Row(src=1, dst=3),
                                   Row(src=2, dst=3)])  # 3 is dangling
    pr = {r.node: r.fix for r in pagerank_fixed(nodes, edges, 3).collect()}
    assert max(pr, key=pr.get) == 3
    assert abs(sum(pr.values()) - PR_UNIT) < 100
