"""connected_components (alternating large/small-star) cross-checked
against a driver-side union-find on seeded random graphs and
adversarial shapes (long chains stress the O(log n) contraction)."""

from __future__ import annotations

import os
import random

import pytest

from car_insurance_data_pipeline_spark_spark.operators import graph
from car_insurance_data_pipeline_spark_spark.operators.graph import (
    pagerank,
    connected_components,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min node id, matching the operator's contract
    comp = {}
    for n in parent:
        comp[n] = find(n)
    return comp


def _check(spark, monkeypatch, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    want = _union_find(edges)
    # BOTH paths must agree with the reference: the adaptive
    # driver-side union-find (default ceiling) and the distributed
    # star loop (ceiling patched to 0)
    for thr in (graph.DRIVER_MAX_EDGES, 0):
        monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", thr)
        got = {
            r.node: r.component
            for r in connected_components(df, "src", "dst").collect()
        }
        assert got == want, f"DRIVER_MAX_EDGES={thr}"


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_cc_random_graphs(spark, monkeypatch, seed):
    rng = random.Random(seed)
    n = 120
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(90)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, monkeypatch, edges)


def test_cc_long_chain(spark, monkeypatch):
    # a 60-node path: worst case for plain label propagation, must
    # still converge fast via star contraction
    _check(spark, monkeypatch, [(i, i + 1) for i in range(60)])


def test_cc_two_cliques_and_bridge(spark, monkeypatch):
    k1 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    k2 = [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    _check(spark, monkeypatch, k1 + k2 + [(4, 10)])


def test_cc_duplicate_and_reversed_edges(spark, monkeypatch):
    _check(spark, monkeypatch, [(1, 2), (2, 1), (1, 2), (3, 4)])


def test_cc_self_loops(spark, monkeypatch):
    """Self-loop-only nodes must still be emitted (own label); a
    self-loop on a connected node must not shadow its star root."""
    _check(spark, monkeypatch, [(7, 7), (1, 2), (2, 2), (9, 9), (9, 9)])


def test_cc_releases_superseded_checkpoints(spark, monkeypatch):
    """The iteration loop must not accumulate one cached edge-set
    copy per round: superseded localCheckpoints are released
    deterministically, so the persistent-RDD count after a
    many-round run stays bounded (input + final edges + constants),
    not O(rounds)."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    edges = [(i, i + 1) for i in range(60)]  # chain → several rounds
    df = spark.createDataFrame(edges, "src long, dst long")
    # ceiling 0 forces the ITERATIVE path this test exists for
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 0)
    out = connected_components(df, "src", "dst")
    assert out.count() == 61
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    # raw-input checkpoint + final edge checkpoint may remain alive
    # (the result plan references them); anything beyond that means
    # per-round copies leaked
    assert after - before <= 2, f"leaked {after - before} persisted RDDs"


def _np_pagerank(edges, damping=0.85, n_iter=15):
    """Reference dense power iteration (numpy) with dangling-mass
    redistribution — the textbook formulation pagerank() must match."""
    import numpy as np

    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = {u: 0 for u in nodes}
    for u, _ in edges:
        out[u] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.zeros(n)
        for u, v in edges:
            contrib[idx[v]] += r[idx[u]] / out[u]
        dangling = sum(r[idx[u]] for u in nodes if out[u] == 0)
        r = (1 - damping) / n + damping * (contrib + dangling / n)
    return {nodes[i]: r[i] for i in range(n)}


def test_pagerank_matches_numpy_power_iteration(spark):
    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 3), (3, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, n_iter=15).collect()
    }
    want = _np_pagerank(edges, n_iter=15)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
    assert abs(sum(got.values()) - 1.0) < 1e-9


@pytest.mark.parametrize("seed", [0, 1])
def test_pagerank_random_graph_sums_to_one(spark, seed):
    rng = random.Random(seed)
    edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(60)})
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=12).collect()}
    want = _np_pagerank(edges, n_iter=12)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_pagerank_distributed_path_matches_numpy(spark, monkeypatch):
    """DRIVER_MAX_EDGES=0 forces the Pregel-style DataFrame loop —
    both paths must land on the same fixpoint."""
    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 3), (3, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 0)
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, n_iter=15).collect()
    }
    want = _np_pagerank(edges, n_iter=15)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_distributed_no_dangling_skips_nothing(spark, monkeypatch):
    """Symmetric graph (no dangling nodes) through the distributed
    loop: the dangling-free fast path must equal the reference."""
    base = [(1, 2), (2, 3), (3, 1)]
    edges = base + [(v, u) for u, v in base]
    df = spark.createDataFrame(edges, "src long, dst long")
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 0)
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, n_iter=12).collect()
    }
    want = _np_pagerank(edges, n_iter=12)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def _np_hits(edges, n_iter=6):
    """Reference HITS power iteration (plain loops) — uniform 1/|C|
    hub init, alternating L1-normalized updates; the textbook
    formulation both hits() routes must match."""
    cs = sorted({c for c, _ in edges})
    ps = sorted({p for _, p in edges})
    h = {c: 1.0 / len(cs) for c in cs}
    a = {}
    for _ in range(n_iter):
        a = {p: 0.0 for p in ps}
        for c, p in edges:
            a[p] += h[c]
        tot = sum(a.values())
        a = {p: v / tot for p, v in a.items()}
        h = {c: 0.0 for c in cs}
        for c, p in edges:
            h[c] += a[p]
        tot = sum(h.values())
        h = {c: v / tot for c, v in h.items()}
    return h, a


def test_hits_driver_matches_reference(spark):
    from car_insurance_data_pipeline_spark_spark.operators.graph import hits

    edges = [(1, 10), (1, 11), (2, 10), (3, 12), (3, 10), (4, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = hits(df, n_iter=6).collect()
    want_h, want_a = _np_hits(edges, n_iter=6)
    got_h = {r["node"]: r["score"] for r in out if r["kind"] == "hub"}
    got_a = {r["node"]: r["score"] for r in out if r["kind"] == "authority"}
    assert set(got_h) == set(want_h) and set(got_a) == set(want_a)
    for k in want_h:
        assert abs(got_h[k] - want_h[k]) < 1e-12, (k, got_h[k], want_h[k])
    for k in want_a:
        assert abs(got_a[k] - want_a[k]) < 1e-12, (k, got_a[k], want_a[k])
    assert abs(sum(got_h.values()) - 1.0) < 1e-9
    assert abs(sum(got_a.values()) - 1.0) < 1e-9


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_hits_routes_agree_on_quantized_output(spark, monkeypatch, seed):
    """The q180 route-equality pin: driver (numpy) vs distributed
    (in-plan unrolled loop, DRIVER_MAX_EDGES_ARROW=0) must emit IDENTICAL
    rows after the consumer's ppm quantization — the two routes
    differ only in float add order inside aggregates, which
    round(score*1e6) absorbs (the same wobble the oracle already
    tolerates from Spark's own partition-order nondeterminism)."""
    from pyspark.sql import functions as F

    from car_insurance_data_pipeline_spark_spark.operators.graph import hits

    rng = random.Random(seed)
    edges = sorted(
        {(rng.randrange(40), 1000 + rng.randrange(25)) for _ in range(120)}
    )
    df = spark.createDataFrame(edges, "src long, dst long")

    def quantized(threshold):
        monkeypatch.setattr(graph, "DRIVER_MAX_EDGES_ARROW", threshold)
        return {
            (r["kind"], r["node"]): r["ppm"]
            for r in hits(df, n_iter=6)
            .select(
                "kind",
                "node",
                F.round(F.col("score") * 1000000).cast("bigint").alias("ppm"),
            )
            .collect()
        }

    assert quantized(graph.DRIVER_MAX_EDGES_ARROW) == quantized(0)


# ---- round-5: q113 oracle quantization parity (property-based) ----
# q113's oracle rests on an analytic argument: cross-engine FP sum
# ORDER differences are ~1e-12 ppm after 10 iterations, far from any
# ROUND(rank*1e6) boundary. This sweeps random symmetric graphs
# through the EXACT unrolled-SQL recurrence in DuckDB vs the numpy
# driver-path formulation and requires bit-equal ppm on every node —
# an empirical backstop for the measure-zero claim.

from hypothesis import given as _given, settings as _settings
from hypothesis import strategies as _st


def _pagerank_sql_over_edges(n_iter=10, damping=0.85):
    parts = ["""WITH edges AS MATERIALIZED (
  SELECT s, t FROM pairs_in
  UNION ALL
  SELECT t AS s, s AS t FROM pairs_in
), deg AS MATERIALIZED (
  SELECT s, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY s
), nodes AS MATERIALIZED (
  SELECT DISTINCT s AS node FROM edges
), nn AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
), r0 AS MATERIALIZED (
  SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes
)"""]
    prev = "r0"
    for i in range(1, n_iter + 1):
        parts.append(f""",
r{i} AS MATERIALIZED (
  SELECT nodes.node,
    (SELECT (1.0 - {damping}) / n FROM nn)
      + {damping} * COALESCE(c.c, 0.0) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.t AS node, SUM(r.rank / d.deg) AS c
    FROM edges e JOIN {prev} r ON e.s = r.node JOIN deg d ON e.s = d.s
    GROUP BY e.t
  ) c ON nodes.node = c.node
)""")
        prev = f"r{i}"
    parts.append(
        f"\nSELECT node, CAST(ROUND(rank * 1000000) AS BIGINT) FROM {prev}"
    )
    return "".join(parts)


@_settings(max_examples=40, deadline=None)
@_given(
    _st.sets(
        _st.tuples(
            _st.integers(min_value=0, max_value=24),
            _st.integers(min_value=0, max_value=24),
        ).filter(lambda p: p[0] < p[1]),
        min_size=1,
        max_size=60,
    )
)
def test_pagerank_ppm_parity_duckdb_vs_numpy(pairs):
    import duckdb
    import numpy as np

    con = duckdb.connect()
    con.execute("CREATE TABLE pairs_in (s BIGINT, t BIGINT)")
    con.executemany("INSERT INTO pairs_in VALUES (?, ?)", sorted(pairs))
    oracle = dict(con.execute(_pagerank_sql_over_edges()).fetchall())

    edges = sorted(set(list(pairs) + [(b, a) for a, b in pairs]))
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    idx = {u: i for i, u in enumerate(nodes)}
    n, m = len(nodes), len(edges)
    src = np.fromiter((idx[s] for s, _ in edges), dtype=np.int64, count=m)
    dst = np.fromiter((idx[t] for _, t in edges), dtype=np.int64, count=m)
    deg = np.zeros(n)
    np.add.at(deg, src, 1.0)
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        contrib = np.zeros(n)
        np.add.at(contrib, dst, r[src] / deg[src])
        r = (1.0 - 0.85) / n + 0.85 * contrib
    got = {nodes[i]: int(round(r[i] * 1e6)) for i in range(n)}
    assert oracle == got


# ---------------------------------------------------------------------------
# bfs_distances (q144's engine)
# ---------------------------------------------------------------------------


def _sym(spark, pairs):
    from pyspark.sql import functions as F

    e = spark.createDataFrame(pairs, "u long, v long")
    return e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()


def test_bfs_path_graph_distances(spark):
    from car_insurance_data_pipeline_spark_spark.operators.graph import bfs_distances

    e = _sym(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)])
    src = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"]
           for r in bfs_distances(e, src, max_hops=3).collect()}
    # 5 is 4 hops away -> excluded; 10/11 unreachable
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_multi_source_takes_minimum(spark):
    from car_insurance_data_pipeline_spark_spark.operators.graph import bfs_distances

    e = _sym(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    src = spark.createDataFrame([(1,), (5,)], "node long")
    got = {r["node"]: r["dist"]
           for r in bfs_distances(e, src, max_hops=4).collect()}
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_cycle_terminates_and_empty_frontier(spark):
    from car_insurance_data_pipeline_spark_spark.operators.graph import bfs_distances

    e = _sym(spark, [(1, 2), (2, 3), (3, 1)])
    src = spark.createDataFrame([(1,)], "node long")
    # max_hops far beyond the diameter: frontier empties, loop stays
    # bounded, distances stay minimal
    got = {r["node"]: r["dist"]
           for r in bfs_distances(e, src, max_hops=6).collect()}
    assert got == {1: 0, 2: 1, 3: 1}


def test_bfs_matches_networkx_free_reference(spark, monkeypatch):
    """Random-graph BFS vs a pure-python reference implementation."""
    import random
    from collections import deque

    from car_insurance_data_pipeline_spark_spark.operators.graph import bfs_distances

    rng = random.Random(7)
    n, m = 60, 120
    pairs = list({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})
    pairs = [(a, b) for a, b in pairs if a != b]
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    srcs = [0, 1]
    dist = {s: 0 for s in srcs}
    dq = deque(srcs)
    while dq:
        x = dq.popleft()
        if dist[x] >= 4:
            continue
        for y in adj.get(x, ()):
            if y not in dist:
                dist[y] = dist[x] + 1
                dq.append(y)
    expect = {k: v for k, v in dist.items() if v <= 4}
    e = _sym(spark, pairs)
    src = spark.createDataFrame([(s,) for s in srcs], "node long")
    # BOTH routes must match the reference: the adaptive driver-side
    # BFS (default ceiling) and the distributed frontier loop
    for thr in (graph.DRIVER_MAX_EDGES_ARROW, 0):
        monkeypatch.setattr(graph, "DRIVER_MAX_EDGES_ARROW", thr)
        got = {r["node"]: r["dist"]
               for r in bfs_distances(e, src, max_hops=4).collect()}
        assert got == expect, f"DRIVER_MAX_EDGES_ARROW={thr}"


# ---------------------------------------------------------------------------
# kcore (q145's engine)
# ---------------------------------------------------------------------------


def test_kcore_triangle_with_pendant_chain(spark):
    """2-core of triangle+chain: the chain peels one node per round
    (multi-round cascade), the triangle survives with degree 2."""
    from car_insurance_data_pipeline_spark_spark.operators.graph import kcore

    e = _sym(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)])
    got = {r["u"]: r["core_degree"] for r in kcore(e, k=2, rounds=5).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_insufficient_rounds_gives_partial_peel(spark, monkeypatch):
    """Fixed-round contract: with rounds=1 only the first fringe is
    removed — the state matches one unrolled oracle stage, not the
    converged core."""
    from car_insurance_data_pipeline_spark_spark.operators.graph import kcore

    e = _sym(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)])
    for thr in (graph.DRIVER_MAX_EDGES_ARROW, 0):
        monkeypatch.setattr(graph, "DRIVER_MAX_EDGES_ARROW", thr)
        got = {r["u"]: r["core_degree"]
               for r in kcore(e, k=2, rounds=1).collect()}
        # round 1 removes only node 6 (degree 1); 5 keeps edge to 4
        assert got == {1: 2, 2: 2, 3: 3, 4: 2, 5: 1}, (
            f"DRIVER_MAX_EDGES_ARROW={thr}")


def test_kcore_clique_minus_nothing(spark):
    from itertools import combinations

    from car_insurance_data_pipeline_spark_spark.operators.graph import kcore

    e = _sym(spark, list(combinations(range(5), 2)))
    got = {r["u"]: r["core_degree"] for r in kcore(e, k=4, rounds=3).collect()}
    assert got == {i: 4 for i in range(5)}


def test_kcore_matches_pure_python_peel(spark, monkeypatch):
    import random

    from car_insurance_data_pipeline_spark_spark.operators.graph import kcore

    rng = random.Random(11)
    n = 40
    pairs = list({(rng.randrange(n), rng.randrange(n)) for _ in range(90)})
    pairs = [(a, b) for a, b in pairs if a != b]
    # symmetric adjacency, peel to convergence
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    k = 3
    changed = True
    while changed:
        drop = [x for x, ns in adj.items() if len(ns) < k]
        changed = bool(drop)
        for x in drop:
            for y in adj.pop(x):
                adj[y].discard(x)
    expect = {x: len(ns) for x, ns in adj.items()}
    e = _sym(spark, pairs)
    # BOTH routes must match the reference (driver peel + loop)
    for thr in (graph.DRIVER_MAX_EDGES_ARROW, 0):
        monkeypatch.setattr(graph, "DRIVER_MAX_EDGES_ARROW", thr)
        got = {r["u"]: r["core_degree"]
               for r in kcore(e, k=k, rounds=n).collect()}
        assert got == expect, f"DRIVER_MAX_EDGES_ARROW={thr}"


def test_checkpoint_modes_reliable_equals_local(spark, monkeypatch, request):
    """Durability follows configuration: with no checkpoint dir the
    iterative ops cut lineage with executor-local blocks, and with one
    set every cut goes through reliable checkpoint files. Both must
    return the same results on every iterative op."""
    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        bfs_distances,
        connected_components,
        kcore,
        label_propagation,
        pagerank,
    )

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 6)]
    e = _sym(spark, pairs)
    df = spark.createDataFrame(pairs, "src long, dst long")
    src = spark.createDataFrame([(0,)], "node long")
    # every op on its distributed loop, where the lineage cuts happen
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES_ARROW", 0)

    def run_all():
        return (
            {(r.node, r.dist) for r in bfs_distances(
                e, src, max_hops=4).collect()},
            {(r.u, r.core_degree) for r in kcore(
                e, k=2, rounds=6).collect()},
            {(r.node, r.component) for r in connected_components(
                df).collect()},
            {(r.node, r.label) for r in label_propagation(
                df, n_iter=3).collect()},
            {(r.node, round(r.rank, 9)) for r in pagerank(
                df, n_iter=5).collect()},
        )

    local = run_all()
    ckdir = request.getfixturevalue("reliable_checkpoint_dir")
    reliable = run_all()
    assert reliable == local
    assert os.listdir(ckdir)  # reliable files were written


def test_reliable_checkpoint_files_deleted_for_superseded_frames(
    spark, monkeypatch, reliable_checkpoint_dir
):
    """r6 advisor fix: in reliable mode Spark only deletes checkpoint
    FILES under spark.cleaner.referenceTracking.cleanCheckpoints
    (off by default), so a long Pregel loop would leak one full frame
    copy per iteration on durable storage. session.release deletes
    superseded frames' directories eagerly — after a 6-round
    pagerank, only the LIVE final frame's rdd-* directory (plus at
    most one still-referenced static frame) may remain."""
    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        pagerank,
    )

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 0), (5, 6)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 0)
    ranks = pagerank(df, n_iter=6)
    assert ranks.count() == 7
    rdd_dirs = [
        d
        for _, dirs, _ in os.walk(reliable_checkpoint_dir)
        for d in dirs
        if d.startswith("rdd-")
    ]
    # without eager deletion this is >= 4 (nodes, edges+degrees,
    # and every per-iteration rank frame)
    assert len(rdd_dirs) <= 2, rdd_dirs


def test_adamic_adar_matches_brute(spark):
    """AA score against a driver-side brute force on a small random
    symmetric graph (same fixture style as adjacency_jaccard)."""
    import math
    import random

    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        adamic_adar,
    )

    rng = random.Random(11)
    pairs = list({(rng.randrange(25), rng.randrange(25)) for _ in range(70)})
    pairs = [(a, b) for a, b in pairs if a != b]
    sym = list({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})
    e = spark.createDataFrame(sym, "u long, v long")
    got = {
        (r.a, r.b): (r.n_common, r.aa_pico)
        for r in adamic_adar(e).collect()
    }
    nbrs: dict[int, set[int]] = {}
    for u, v in sym:
        nbrs.setdefault(u, set()).add(v)
    want = {}
    nodes = sorted(nbrs)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            common = nbrs[a] & nbrs[b]
            if common:
                aa = sum(
                    math.floor(1e12 / math.log(len(nbrs[w]))) for w in common
                )
                want[(a, b)] = (len(common), aa)
    assert got == want
