"""Distributed k-means (operators/clustering.py) property tests —
the cross-engine exactness is pinned by q136's oracle; these pin the
algorithmic properties the oracle can't see (it mirrors the same
algorithm).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from car_insurance_data_pipeline_spark_spark.operators import clustering
from car_insurance_data_pipeline_spark_spark.operators.clustering import (
    kmeans_fit_predict,
)

SF = "/root/testdata/sf0.001"
K = 4


def _load(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def test_assignment_is_total_partition(spark):
    emb = _load(spark)
    out = kmeans_fit_predict(emb, k=K, n_iter=3)
    rows = out.collect()
    assert len(rows) == emb.count()
    assert len({r.vec_id for r in rows}) == len(rows)
    assert all(0 <= r.cluster < K for r in rows)
    # with k << n every cluster should be non-trivially populated on
    # a continuous corpus
    assert out.select("cluster").distinct().count() == K


def test_deterministic_across_partitioning(spark):
    """Decimal centroid accumulation is order-independent, so the
    physical partition layout must not change a single assignment."""
    emb = _load(spark)
    a = {r.vec_id: r.cluster for r in kmeans_fit_predict(emb, k=K, n_iter=3).collect()}
    b = {
        r.vec_id: r.cluster
        for r in kmeans_fit_predict(
            emb.repartition(7, "vec_id"), k=K, n_iter=3
        ).collect()
    }
    assert a == b


def test_driver_and_distributed_routes_bit_identical(spark, monkeypatch):
    """The q136 route-equality pin (optimization r11): the
    driver-side Lloyd recurrence must emit EXACTLY the distributed
    loop's assignments — same numpy distance expression, integer-
    numerator replication of the DECIMAL(38,12) centroid sums — so
    the dispatch can never move the oracle."""
    emb = _load(spark)
    a = {
        r.vec_id: r.cluster
        for r in kmeans_fit_predict(emb, k=K, n_iter=5).collect()
    }
    monkeypatch.setattr(clustering, "KMEANS_DRIVER_MAX_ROWS", 0)
    b = {
        r.vec_id: r.cluster
        for r in kmeans_fit_predict(emb, k=K, n_iter=5).collect()
    }
    assert a == b


def test_lloyd_sse_never_increases(spark):
    """Each Lloyd step (assign to nearest, recenter) cannot increase
    the within-cluster sum of squares — the classic convergence
    invariant; a wrong argmin or a mis-joined centroid update breaks
    it."""
    emb = _load(spark)
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }

    def sse(assign: dict[int, int]) -> float:
        cents: dict[int, list] = {}
        for vid, c in assign.items():
            cents.setdefault(c, []).append(vecs[vid])
        mean = {c: np.mean(v, axis=0) for c, v in cents.items()}
        return float(
            sum(
                np.sum((vecs[vid] - mean[c]) ** 2)
                for vid, c in assign.items()
            )
        )

    prev = None
    for it in (1, 2, 4):
        assign = {
            r.vec_id: r.cluster
            for r in kmeans_fit_predict(emb, k=K, n_iter=it).collect()
        }
        cur = sse(assign)
        if prev is not None:
            assert cur <= prev + 1e-9, (it, cur, prev)
        prev = cur


def test_assignments_are_nearest_final_centroid(spark):
    """Independent numpy check at CONVERGENCE (Lloyd converges
    finitely; 25 iterations is far past it for ~200 vectors):
    recompute the centroids from the returned assignment and verify
    every vector sits closer to ITS centroid than to any other —
    the fixpoint property a correct assign+update pair must reach."""
    emb = _load(spark)
    out = {
        r.vec_id: r.cluster
        for r in kmeans_fit_predict(emb, k=K, n_iter=25).collect()
    }
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }
    members: dict[int, list] = {}
    for vid, c in out.items():
        members.setdefault(c, []).append(vecs[vid])
    cents = {c: np.mean(v, axis=0) for c, v in members.items()}
    mism = 0
    for vid, c in out.items():
        dists = {cc: float(np.sum((vecs[vid] - m) ** 2)) for cc, m in cents.items()}
        best = min(dists.items(), key=lambda kv: (kv[1], kv[0]))[0]
        # numpy means differ from the exact decimal centroids in the
        # last ulp, so allow the measure-zero near-tie to disagree
        if best != c and abs(dists[best] - dists[c]) > 1e-9:
            mism += 1
    assert mism == 0


def test_quantize_12_micro_matches_decimal_path():
    """The vectorized micro-unit quantization (r12) must be
    bit-identical to the per-element Decimal reference on random
    data AND on adversarial half-up boundary values (where the fast
    path must defer to the exact path), including negatives and
    magnitudes past the float-resolution guard. Pure numpy/Decimal,
    no Spark."""
    from car_insurance_data_pipeline_spark_spark.operators.clustering import (
        _quantize_12,
        _quantize_12_micro,
    )

    rng = np.random.default_rng(42)
    cases = [
        rng.normal(0, 1, 20_000),
        rng.normal(0, 100, 5_000),
        rng.uniform(-1e6, 1e6, 5_000),  # |y| >= 1e14 guard territory
        # exact half-up boundaries at the 12th fractional digit
        np.array(
            [
                0.5e-12,
                -0.5e-12,
                1.5e-12,
                -1.5e-12,
                2.0000000000005,
                -2.0000000000005,
                123.4567890123455,
                0.0,
                -0.0,
                1.0,
                -1.0,
            ]
        ),
        # values whose repr has <= 12 fractional digits (t exactly
        # integer in micro-units — the fixture-data common case)
        np.round(rng.uniform(-10, 10, 2_000), 6),
    ]
    for arr in cases:
        fast = _quantize_12_micro(arr)
        ref = np.array(
            [int(_quantize_12(x).scaleb(12)) for x in arr], dtype=np.int64
        )
        assert (fast == ref).all(), (
            arr[fast != ref][:5],
            fast[fast != ref][:5],
            ref[fast != ref][:5],
        )


def test_int64_overflow_guard_uses_python_ints():
    """r11 advice (medium): the old guard multiplied an np.int64 by a
    Python int, wrapping modulo 2^64 — np.int64(10**15) * 200_000
    goes negative and '< 2**62' passed while the true product is
    ~2e20. Pin the repaired guard arithmetic."""
    big = np.int64(10**15)
    n = 200_000
    # the buggy form really does wrap (documents the failure mode)
    with np.errstate(over="ignore"):
        wrapped = big * n
    assert int(wrapped) < 2**62  # the bug: guard would have passed
    # the fixed form computes the true product
    assert int(big) * n >= 2**62
