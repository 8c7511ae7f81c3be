"""Round-6 operators: KMV accuracy bound, winnowing guarantee,
adjacency-Jaccard vs brute force, DBSCAN vs brute force."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F


def test_kmv_estimate_within_bound(spark):
    from car_insurance_data_pipeline_spark_spark.operators.sketches import kmv_distinct

    # 5000 distinct values, heavy duplication; KMV k=256 → ~6% stderr
    rows = [(i % 5000,) for i in range(20000)]
    df = spark.createDataFrame(rows, "v long")
    est = kmv_distinct(df, "v", 256).collect()[0]
    assert est.k == 256
    assert abs(est.est_distinct - 5000) / 5000 < 0.25  # 4-sigma slack


def test_kmv_small_input_is_exact(spark):
    from car_insurance_data_pipeline_spark_spark.operators.sketches import kmv_distinct

    df = spark.createDataFrame([(i,) for i in range(37)] * 3, "v long")
    est = kmv_distinct(df, "v", 256).collect()[0]
    assert est.est_distinct == 37  # fewer than k hashes → exact


def test_winnowing_shared_run_guarantee(spark):
    """The winnowing property: two docs sharing a w+k-1 = 6-word run
    share at least one selected fingerprint."""
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta"
    docs = [
        (1, f"one two three {shared} four five six seven"),
        (2, f"red green blue {shared} yellow purple orange pink"),
        (3, "totally different words with no overlap at all here ok"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fp = winnowing_fingerprints(df, "doc_id", "text", k=3, w=4)
    by_doc = {}
    for r in fp.collect():
        # fp IS the bare 32-char hash (no position suffix) — the
        # guarantee holds on the returned column directly
        assert len(r.fp) == 32
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2]  # shared run → shared fingerprint
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_adjacency_jaccard_matches_brute(spark):
    import random

    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        adjacency_jaccard,
    )

    rng = random.Random(3)
    pairs = list({(rng.randrange(30), rng.randrange(30)) for _ in range(80)})
    pairs = [(a, b) for a, b in pairs if a != b]
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for a, b in itertools.combinations(sorted(adj), 2):
        inter = len(adj[a] & adj[b])
        if inter:
            union = len(adj[a] | adj[b])
            want[(a, b)] = (inter, inter * 1_000_000 // union)
    sym = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    e = spark.createDataFrame(sorted(set(sym)), "u long, v long")
    got = {
        (r.a, r.b): (r.n_common, r.ppm)
        for r in adjacency_jaccard(e).collect()
    }
    assert got == want


def test_dbscan_matches_brute(spark):
    import random

    from car_insurance_data_pipeline_spark_spark.operators.clustering import (
        dbscan_labels,
    )

    rng = random.Random(9)
    # one dense blob + scattered noise
    pts = [(i, 100 + rng.randrange(30), 200 + rng.randrange(30))
           for i in range(15)]
    pts += [(100 + i, rng.randrange(5000), rng.randrange(5000))
            for i in range(25)]
    eps, mp = 40, 5
    want = {}
    for i, x, y in pts:
        n = sum(
            1 for j, u, v in pts
            if (x - u) ** 2 + (y - v) ** 2 <= eps * eps
        )
        want[i] = n
    core = {i for i, n in want.items() if n >= mp}
    status = {}
    for i, x, y in pts:
        if i in core:
            status[i] = "core"
        elif any(
            (x - u) ** 2 + (y - v) ** 2 <= eps * eps
            for j, u, v in pts if j in core
        ):
            status[i] = "border"
        else:
            status[i] = "noise"
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {
        r.id: (r.n_neighbors, r.status)
        for r in dbscan_labels(df, eps=eps, min_pts=mp).collect()
    }
    assert got == {i: (want[i], status[i]) for i in want}
    assert "core" in status.values() and "noise" in status.values()


def test_dbscan_clusters_matches_brute(spark):
    import random

    from car_insurance_data_pipeline_spark_spark.operators.clustering import (
        dbscan_clusters,
    )

    rng = random.Random(21)
    # two dense blobs far apart + noise
    pts = [(i, 100 + rng.randrange(30), 100 + rng.randrange(30))
           for i in range(12)]
    pts += [(50 + i, 4000 + rng.randrange(30), 4000 + rng.randrange(30))
            for i in range(12)]
    pts += [(200 + i, rng.randrange(9000), rng.randrange(9000))
            for i in range(15)]
    eps, mp = 40, 5
    def close(p, q):
        return (p[1] - q[1]) ** 2 + (p[2] - q[2]) ** 2 <= eps * eps
    core = {p[0] for p in pts
            if sum(1 for q in pts if close(p, q)) >= mp}
    # flood fill over core-core links (min reachable core id)
    label = {i: i for i in core}
    changed = True
    while changed:
        changed = False
        for p in pts:
            if p[0] not in core:
                continue
            for q in pts:
                if q[0] in core and close(p, q):
                    m = min(label[p[0]], label[q[0]])
                    if label[p[0]] != m or label[q[0]] != m:
                        label[p[0]] = label[q[0]] = m
                        changed = True
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {
        (r.id, r.cluster)
        for r in dbscan_clusters(df, eps=eps, min_pts=mp).collect()
    }
    assert got == {(i, label[i]) for i in core}
    assert len({c for _, c in got}) >= 2  # the two blobs stay separate


def test_rrf_integer_quantization(spark):
    from car_insurance_data_pipeline_spark_spark.operators.topn import (
        reciprocal_rank_fusion,
    )

    r1 = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "id long, rank int"
    )
    r2 = spark.createDataFrame(
        [(11, 1), (10, 2), (13, 3)], "id long, rank int"
    )
    got = {
        r.id: r.rrf_score
        for r in reciprocal_rank_fusion([r1, r2], "id").collect()
    }
    t = lambda r: 1_000_000 // (60 + r)
    assert got == {
        10: t(1) + t(2),
        11: t(2) + t(1),
        12: t(3),
        13: t(3),
    }


def test_adjacency_minhash_recall_and_exactness(spark):
    """The LSH scale path for node similarity: every emitted pair's
    (n_common, ppm) is EXACT (matches the exact operator), and
    recall on high-similarity pairs (j >= 0.5) is >= 80%."""
    import random

    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        adjacency_jaccard,
        adjacency_minhash_pairs,
    )

    rng = random.Random(7)
    # planted twins: node pairs (2i, 2i+1) share most neighbors
    pairs = []
    for i in range(20):
        base = [1000 + rng.randrange(200) for _ in range(12)]
        for n in base:
            pairs.append((2 * i, n))
            pairs.append((2 * i + 1, n))
        pairs.append((2 * i, 2000 + i))  # one private neighbor each
        pairs.append((2 * i + 1, 3000 + i))
    sym = list({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})
    e = spark.createDataFrame(sym, "u long, v long")
    exact = {
        (r.a, r.b): (r.n_common, r.ppm)
        for r in adjacency_jaccard(e, min_ppm=500_000).collect()
    }
    approx = {
        (r.a, r.b): (r.n_common, r.ppm)
        for r in adjacency_minhash_pairs(e, min_ppm=500_000).collect()
    }
    assert approx  # surfaces something
    for p, v in approx.items():
        assert exact[p] == v  # per-pair exactness
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.8, recall


def test_adjacency_similarity_dispatch_routes_and_agrees(spark, monkeypatch):
    """Cost-based wedge-family dispatch (round-9 verdict #7): the
    auto route must (1) measure the wedge count and pick exact under
    budget / sketch over it, and (2) the two routes must emit
    IDENTICAL rows on the clone anchor fixture at min_ppm=1e6 —
    identical neighbor sets collide in every LSH band, so the
    dispatch choice can never change the answer for exact-duplicate
    neighborhoods (q277's construction)."""
    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        adjacency_similarity,
        count_wedges,
    )

    # planted clones: (2i, 2i+1) share the ENTIRE neighbor set
    pairs = []
    for i in range(10):
        for n in (1000 + 7 * i, 1001 + 7 * i, 1002 + 7 * i):
            pairs.append((2 * i, n))
            pairs.append((2 * i + 1, n))
    sym = list({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})
    e = spark.createDataFrame(sym, "u long, v long")

    w = count_wedges(e)
    assert w > 0

    def rows(df):
        return {(r.a, r.b, r.n_common, r.ppm) for r in df.collect()}

    exact = rows(adjacency_similarity(e, min_ppm=1_000_000, dispatch="exact"))
    sketch = rows(
        adjacency_similarity(e, min_ppm=1_000_000, dispatch="sketch")
    )
    # clones (2i, 2i+1) have identical 3-neighbor sets -> ppm 1e6
    assert exact == sketch
    assert {(p[0], p[1]) for p in exact} >= {(2 * i, 2 * i + 1) for i in range(10)}

    # auto routing: a huge budget keeps it exact; a zero budget
    # forces the sketch. Both must still return the anchor set.
    from car_insurance_data_pipeline_spark_spark.operators import graph

    monkeypatch.setattr(graph, "WEDGE_BUDGET", 10**12)
    auto_exact = rows(
        adjacency_similarity(e, min_ppm=1_000_000, dispatch="auto")
    )
    monkeypatch.setattr(graph, "WEDGE_BUDGET", 0)
    auto_sketch = rows(
        adjacency_similarity(e, min_ppm=1_000_000, dispatch="auto")
    )
    assert auto_exact == exact
    assert auto_sketch == sketch

    import pytest

    with pytest.raises(ValueError):
        adjacency_similarity(e, dispatch="nonsense")
