"""Connected components' two paths agree, and star fails loudly.

``dedup.cluster.connected_components`` solves at or under
``DRIVER_CC_GATE`` edges with the driver union-find (``auto``) and past
it with the distributed large-star/small-star iteration (``star``, or
``auto`` over the gate). Both must label every node, self-loop-only
nodes included, with its component minimum. Star must raise when its
``max_iter`` budget runs out instead of returning a partial labelling.
These are small graphs: the fast tier's guard on the one distributed CC
algorithm; the slow suite and the oracle gate cover it at scale."""

import random

import pytest

from kenshin_spark.dedup import cluster
from kenshin_spark.dedup.cluster import connected_components

CHAIN = [(i, i + 1) for i in range(199)]  # one component, diameter 199


def _labels(spark, edges, **kw):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {
        r["node"]: r["cluster_id"]
        for r in connected_components(df, **kw).collect()
    }


def test_auto_matches_star_on_random_graphs_with_self_loops(spark):
    rng = random.Random(11)
    for trial in range(3):
        edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(45)]
        edges += [(100 + trial, 100 + trial)]  # a self-loop-only node
        stats: dict = {}
        auto = _labels(spark, edges, algorithm="auto")
        star = _labels(spark, edges, algorithm="star", stats=stats)
        assert stats["algorithm"] == "star"
        assert auto == star, f"trial {trial}"
        assert star[100 + trial] == 100 + trial


def test_auto_matches_star_on_long_chain(spark):
    stats: dict = {}
    star = _labels(spark, CHAIN, algorithm="star", stats=stats)
    assert star == _labels(spark, CHAIN, algorithm="auto")
    assert star == {i: 0 for i in range(200)}
    assert stats["rounds"] <= 12  # O(log n), not the diameter


def test_star_raises_when_budget_runs_out(spark):
    with pytest.raises(RuntimeError, match="max_iter=3"):
        _labels(spark, CHAIN, algorithm="star", max_iter=3)


def test_auto_over_gate_runs_star(spark, monkeypatch):
    edges = [(1, 2), (2, 3), (7, 8), (5, 5)]
    under = _labels(spark, edges)
    monkeypatch.setattr(cluster, "DRIVER_CC_GATE", 0)
    stats: dict = {}
    over = _labels(spark, edges, stats=stats)
    assert stats == {"edges": 7, "algorithm": "star", "rounds": 2}
    assert over == under == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 5: 5}
