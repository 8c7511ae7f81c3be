"""One materialization primitive: every lineage cut in the package goes
through ``session.checkpoint``, and the catalog stays oracle-exact when
that primitive writes reliable files instead of executor-local blocks.
"""

from __future__ import annotations

import ast
import os
import random

import pytest

from car_insurance_data_pipeline_spark_spark.session import checkpoint, release
from car_insurance_data_pipeline_spark_spark.testing import compare_query

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "car_insurance_data_pipeline_spark_spark",
)


def test_lineage_cuts_go_through_session_checkpoint():
    """No module but session.py calls ``.localCheckpoint(...)`` or
    ``.checkpoint(...)`` directly, and the old graph-only policy
    helper ``_make_ckpt`` is gone. Matched on the AST, so docstrings
    and comments that name the Spark API do not trip it."""
    offenders = []
    for root, _dirs, files in os.walk(_PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, _PKG)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=path)
            for node in ast.walk(tree):
                if (
                    rel != "session.py"
                    and isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("localCheckpoint", "checkpoint")
                ):
                    offenders.append(f"{rel}:{node.lineno} .{node.func.attr}")
                name = getattr(node, "id", None) or getattr(node, "name", None)
                if "_make_ckpt" in (name, getattr(node, "attr", None)):
                    offenders.append(f"{rel}:{node.lineno} _make_ckpt")
    assert offenders == [], offenders


@pytest.mark.parametrize("reliable", [False, True], ids=["local", "reliable"])
def test_lazy_checkpoint_is_computed_once(spark, request, reliable):
    """A lazily checkpointed frame is fixed by the first action that
    reads it. In reliable mode the file writer runs as a second job;
    a non-deterministic column makes any recomputation there visible
    as a second version of the frame."""
    from pyspark.sql import functions as F

    if reliable:
        request.getfixturevalue("reliable_checkpoint_dir")
    draw = F.udf(lambda: random.random(), "double").asNondeterministic()
    ck = checkpoint(
        spark.range(8, numPartitions=2).select("id", draw().alias("x"))
    )
    first = sorted(ck.collect())
    assert sorted(ck.collect()) == first
    release(ck)


# Oracle-bearing queries whose plans cut lineage through the primitive:
# the near-dup miners' lazily checkpointed shingle frame (q34, q73,
# q113, q178 — near_dup_pairs also reads it in an eager dispatch
# measurement before the result job), the graph loops (q73 components,
# q113 pagerank, q144 BFS) and q135's lazily checkpointed edge list.
RELIABLE_QUERIES = [
    "q34_jaccard_pairs",
    "q73_dedup_clusters",
    "q113_pagerank_centrality",
    "q135_triangle_copurchase",
    "q144_shortest_paths",
    "q178_prefix_jaccard",
]


@pytest.mark.parametrize("name", RELIABLE_QUERIES)
def test_reliable_checkpoints_keep_oracle_parity(
    name, spark, sf_dir, reliable_checkpoint_dir
):
    res = compare_query(name, spark, sf_dir, strict=True)
    assert res.ok, f"{name}: {res.detail}"
    written = [f for _, _, fs in os.walk(reliable_checkpoint_dir) for f in fs]
    assert written, f"{name} wrote no checkpoint files"
