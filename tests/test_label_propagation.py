"""Synchronous label propagation (operators/graph.py) — algorithmic
properties the mirrored oracle can't see.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from car_insurance_data_pipeline_spark_spark.operators import graph
from car_insurance_data_pipeline_spark_spark.operators.graph import (
    connected_components,
    label_propagation,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


def test_labels_respect_components(spark):
    """A label can only travel along edges, so every node's final
    label must belong to its own connected component."""
    e = _edges(
        spark,
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (20, 21)],
    )
    labels = {r.node: r.label for r in label_propagation(e, n_iter=4).collect()}
    comp = {
        r.node: r.component
        for r in connected_components(e, "src", "dst").collect()
    }
    assert set(labels) == set(comp)
    for node, lab in labels.items():
        assert comp[lab] == comp[node], (node, lab)


def test_two_cliques_with_bridge_split(spark):
    """Two 4-cliques joined by one bridge edge: LPA must give each
    clique a single internal label and keep the labels distinct —
    the community split components can't express (CC merges all 8
    nodes into one component)."""
    c1 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    c2 = [(a, b) for a in range(11, 15) for b in range(11, 15) if a < b]
    e = _edges(spark, c1 + c2 + [(4, 11)])
    labels = {r.node: r.label for r in label_propagation(e, n_iter=5).collect()}
    l1 = {labels[n] for n in range(1, 5)}
    l2 = {labels[n] for n in range(11, 15)}
    assert len(l1) == 1 and len(l2) == 1
    assert l1 != l2
    # one component, though
    comp = {
        r.node: r.component
        for r in connected_components(e, "src", "dst").collect()
    }
    assert len(set(comp.values())) == 1


def test_deterministic_across_partitioning_and_direction(spark):
    """Synchronous rounds + integer tie-breaks: the physical layout
    and the edge orientation (the operator symmetrizes) must not
    change a single label."""
    rows = [(1, 2), (2, 3), (3, 4), (4, 1), (5, 6), (2, 5)]
    a = {
        r.node: r.label
        for r in label_propagation(_edges(spark, rows), n_iter=4).collect()
    }
    flipped = [(b, x) for x, b in rows]
    b = {
        r.node: r.label
        for r in label_propagation(
            _edges(spark, flipped).repartition(9), n_iter=4
        ).collect()
    }
    assert a == b


def test_driver_and_distributed_paths_identical(spark, monkeypatch):
    """The adaptive driver path must produce bit-identical labels to
    the distributed loop (both are exact integer recurrences)."""
    rows = [(1, 2), (2, 3), (3, 4), (4, 1), (5, 6), (2, 5), (7, 8),
            (8, 9), (9, 7), (3, 7)]
    e = _edges(spark, rows)
    a = {r.node: r.label for r in label_propagation(e, n_iter=4).collect()}
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 0)
    b = {
        r.node: r.label
        for r in label_propagation(e, n_iter=4).collect()
    }
    assert a == b
