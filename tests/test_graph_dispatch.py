"""Round-11 wedge-budget dispatch extensions (round-10 verdict #2):
adamic_adar and clustering_coefficient run the exact wedge expansion
unconditionally until this round — Θ(Σ deg²) with no measured escape
on hub-heavy graphs. Both now route behind the SAME calibrated
budget as adjacency_similarity (count_wedges vs the absolute
WEDGE_BUDGET). Pins: identical schemas across routes, value equality
where both routes are exact (clustering_coefficient), exact-anchor
recall + per-pair value equality for the AA sketch, and the auto
routing itself in both directions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from car_insurance_data_pipeline_spark_spark.operators import graph


def _edges(spark, pairs):
    """Symmetric distinct edge frame from undirected (u, v) pairs."""
    e0 = spark.createDataFrame(pairs, ["u", "v"])
    return e0.union(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()


# Two planted 4-cliques (dense triangles, identical neighbor sets
# minus self), a path, and a hub — enough structure that AA scores
# and triangle counts are all non-trivial.
_PAIRS = (
    [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    + [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    + [(4, 10), (20, 21), (21, 22), (22, 23)]
    + [(30, x) for x in range(31, 40)]
    + [(31, 32), (33, 34)]
)


def test_adamic_adar_dispatch_routes_and_recall(spark, monkeypatch):
    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        adamic_adar,
        count_wedges,
    )

    e = _edges(spark, _PAIRS)
    n_wedges = count_wedges(e)
    assert n_wedges > 0

    def rows(df):
        return {
            (r.a, r.b): (r.n_common, r.aa_pico) for r in df.collect()
        }

    exact = rows(adamic_adar(e, dispatch="exact"))
    sketch = rows(adamic_adar(e, dispatch="sketch"))
    assert exact, "exact AA emitted nothing on a clique fixture"
    # schema + per-pair value equality: every sketch pair must carry
    # the IDENTICAL exact score (verification is exact; only recall
    # is probabilistic)
    for pair, val in sketch.items():
        assert exact[pair] == val, f"sketch mis-scored {pair}"
    # exact-anchor recall floor: inside a 4-clique every pair shares
    # the other two members with near-identical neighbor sets — LSH
    # banding must surface them
    clique_pairs = {
        (a, b) for a in range(1, 5) for b in range(1, 5) if a < b
    } | {(a, b) for a in range(10, 14) for b in range(10, 14) if a < b}
    hit = sum(1 for p in clique_pairs if p in sketch)
    assert hit / len(clique_pairs) >= 0.8, (
        f"sketch recall {hit}/{len(clique_pairs)} below the 80% floor"
    )
    # auto routes exact under budget (same rows), sketch over budget
    monkeypatch.setattr(graph, "WEDGE_BUDGET", n_wedges)
    under = rows(adamic_adar(e, dispatch="auto"))
    assert under == exact
    monkeypatch.setattr(graph, "WEDGE_BUDGET", 0)
    over = rows(adamic_adar(e, dispatch="auto"))
    assert over == sketch
    with pytest.raises(ValueError):
        adamic_adar(e, dispatch="nonsense")


def test_clustering_coefficient_routes_are_identical(spark, monkeypatch):
    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        clustering_coefficient,
        count_wedges,
    )

    e = _edges(spark, _PAIRS)
    n_wedges = count_wedges(e)

    def rows(df):
        return {
            r.node: (r.degree, r.n_triangles, r.cc_ppm)
            for r in df.collect()
        }

    exact = rows(clustering_coefficient(e, dispatch="exact"))
    oriented = rows(clustering_coefficient(e, dispatch="oriented"))
    # both routes are EXACT: identical rows, not just recall
    assert exact == oriented
    # ground truth on the planted structure: a 4-clique corner has
    # degree 3 (+1 for the bridge on nodes 4/10) and sits in 3
    # triangles; cc of a pure corner = 3 / C(3,2) = 1.0
    assert exact[1] == (3, 3, 1_000_000)
    assert exact[4][1] == 3 and exact[4][0] == 4  # bridge corner
    # hub 30: degree 9, exactly two closed wedges (31-32, 33-34)
    assert exact[30] == (9, 2, round(2 * 2 * 1e6) // (9 * 8))
    # path interior nodes have no triangles
    assert exact[21] == (2, 0, 0)
    # auto in both directions
    monkeypatch.setattr(graph, "WEDGE_BUDGET", n_wedges)
    assert rows(clustering_coefficient(e, dispatch="auto")) == exact
    monkeypatch.setattr(graph, "WEDGE_BUDGET", 0)
    assert rows(clustering_coefficient(e, dispatch="auto")) == exact
    with pytest.raises(ValueError):
        clustering_coefficient(e, dispatch="nonsense")


def test_dispatch_budgets_are_module_constants():
    """Every measure-then-route budget is one absolute module
    constant (graph.DRIVER_MAX_EDGES / DRIVER_MAX_EDGES_ARROW /
    WEDGE_BUDGET, clustering.KMEANS_DRIVER_MAX_ROWS,
    dedup.CANDIDATE_BUDGET): no public operator takes a per-call
    budget option, and no operator scales a budget by the host's
    core count — so an oracle-bearing query routes the same on any
    host. Static check, no Spark."""
    import ast
    import pathlib

    from car_insurance_data_pipeline_spark_spark import operators

    banned = {
        "driver_threshold",
        "wedges_per_core",
        "candidates_per_core",
        "budget_rows",
    }
    knobs, host_reads = [], []
    for path in sorted(pathlib.Path(operators.__file__).parent.glob("*.py")):
        tree = ast.parse(path.read_text())
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and node.name[0] != "_":
                a = node.args
                for arg in a.posonlyargs + a.args + a.kwonlyargs:
                    if arg.arg in banned:
                        knobs.append(f"{path.name}:{node.name}({arg.arg})")
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "defaultParallelism"
            ) or (
                isinstance(node, ast.Constant)
                and node.value == "defaultParallelism"
            ):
                host_reads.append(f"{path.name}:{node.lineno}")
    assert not knobs, f"per-call budget options: {knobs}"
    assert not host_reads, f"defaultParallelism read at: {host_reads}"
