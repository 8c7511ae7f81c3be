"""Similarity-search cross-checks: the Pandas-UDF and LSH variants
against the exact JVM-side baseline (q38)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from car_insurance_data_pipeline_spark_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_pandas,
    lsh_cosine_topk,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def exact(emb):
    q = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(q, emb, "vec_id", "embedding", k=5, dim=64).collect()


def test_auto_dispatch_without_width_raises(emb):
    """'auto' with no dim= and no schema stamp must refuse (laziness
    contract: never a hidden job at plan-construction time)."""
    q = emb.filter(F.col("vec_id") < 10)
    with pytest.raises(ValueError, match="with_vector_dim"):
        cosine_topk(q, emb, "vec_id", "embedding", k=5)


def test_unknown_dispatch_raises(emb):
    """A misspelled route must refuse, not silently run the JVM path
    (the same ValueError every other dispatcher raises)."""
    q = emb.filter(F.col("vec_id") < 10)
    with pytest.raises(ValueError, match="'pands'"):
        cosine_topk(q, emb, "vec_id", "embedding", k=5, dispatch="pands")


def test_pandas_variant_matches_exact(emb, exact):
    q = emb.filter(F.col("vec_id") < 10)
    pand = cosine_topk_pandas(q, emb, "vec_id", "embedding", k=5).collect()
    key = lambda rows: sorted((r.qid, r.rn, r.cid, r.sim) for r in rows)
    assert key(pand) == key(exact)


def test_lsh_results_are_true_similarities(emb, exact):
    """LSH output must be a correct ranking of candidates from the
    query's bucket: every returned sim equals the exact cosine for
    that pair (no made-up scores), ranks are 1..n per query."""
    q = emb.filter(F.col("vec_id") < 10)
    lsh_rows = lsh_cosine_topk(q, emb, "vec_id", "embedding", k=5).collect()
    true_sims = {(r.qid, r.cid): r.sim for r in exact}
    by_q: dict[int, list] = {}
    for r in lsh_rows:
        by_q.setdefault(r.qid, []).append(r)
    for qid, rows in by_q.items():
        rns = sorted(r.rn for r in rows)
        assert rns == list(range(1, len(rows) + 1))
        sims = [r.sim for r in sorted(rows, key=lambda r: r.rn)]
        assert sims == sorted(sims, reverse=True)
        for r in rows:
            if (r.qid, r.cid) in true_sims:
                assert r.sim == true_sims[(r.qid, r.cid)]


def test_lsh_recall_recorded(emb, exact):
    """Uniform-random top-5 recall is recorded, not gated: with no
    planted structure the true neighbors sit barely above the noise
    floor (top-1 sims ≈ 0.3-0.5 in 64-d), which is the provably hard
    case for sign-LSH. What IS gated here is the OR-amplification
    invariant — the n_tables=4 candidate set must contain every
    n_tables=1 candidate (table 0 shares the single-table seed) and
    recall must not decrease. The planted-neighbor recall floor
    lives in test_lsh_multi_table_planted_recall."""
    q = emb.filter(F.col("vec_id") < 10)
    one = lsh_cosine_topk(
        q, emb, "vec_id", "embedding", k=500, n_tables=1
    ).collect()
    four = lsh_cosine_topk(
        q, emb, "vec_id", "embedding", k=500, n_tables=4
    ).collect()
    one_pairs = {(r.qid, r.cid) for r in one}
    four_pairs = {(r.qid, r.cid) for r in four}
    assert one_pairs <= four_pairs
    exact_pairs = {(r.qid, r.cid) for r in exact}
    r1 = len(one_pairs & exact_pairs) / len(exact_pairs)
    r4 = len(four_pairs & exact_pairs) / len(exact_pairs)
    assert r4 >= r1
    print(f"LSH candidate recall vs exact top-5: 1 table {r1:.2f}, 4 tables {r4:.2f}")


def test_lsh_multi_table_planted_recall(spark):
    """The real contract: on a corpus with planted near-duplicates
    (sim ≈ 0.99, the near-dup retrieval regime LSH exists for),
    4-table/8-bit sign-LSH must recover ≥85% of planted neighbor
    pairs at top-1. Per-pair collision math: θ ≈ 8°, p_bit ≈ 0.955,
    per-table p ≈ 0.69, 4-table OR → ≈ 0.99 expected recall; the
    corpus is seeded so the measured value is deterministic."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 64))
    noisy = base + 0.08 * rng.standard_normal((40, 64))
    rows = [(i, base[i].tolist()) for i in range(40)] + [
        (100 + i, noisy[i].tolist()) for i in range(40)
    ]
    # background noise vectors so buckets are not trivially sparse
    rows += [(1000 + i, rng.standard_normal(64).tolist()) for i in range(200)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = corpus.filter(F.col("vec_id") < 40)
    got = lsh_cosine_topk(q, corpus, "vec_id", "embedding", k=1, n_tables=4).collect()
    top1 = {r.qid: r.cid for r in got if r.rn == 1}
    hits = sum(1 for i in range(40) if top1.get(i) == 100 + i)
    assert hits >= 34, f"planted-pair recall {hits}/40"


def test_ivf_recall(emb, exact):
    """IVF with 4/16 probes must recover most exact top-5 pairs
    (probing a quarter of the space; unit-random vectors make cells
    balanced, so recall is driven by n_probe)."""
    from car_insurance_data_pipeline_spark_spark.operators.similarity import (
        ivf_cosine_topk,
    )

    q = emb.filter(F.col("vec_id") < 10)
    ivf_rows = ivf_cosine_topk(q, emb, "vec_id", "embedding", k=5).collect()
    exact_pairs = {(r.qid, r.cid) for r in exact}
    ivf_pairs = {(r.qid, r.cid) for r in ivf_rows}
    recall = len(ivf_pairs & exact_pairs) / len(exact_pairs)
    print(f"IVF top-5 recall vs exact: {recall:.2f}")
    assert recall >= 0.3
    # returned sims must be true cosines for pairs the baseline also saw
    true_sims = {(r.qid, r.cid): r.sim for r in exact}
    for r in ivf_rows:
        if (r.qid, r.cid) in true_sims:
            assert r.sim == true_sims[(r.qid, r.cid)]


def test_embedding_dup_exact_block_pairs(emb):
    """The distributed block-pair exact form must equal a local numpy
    all-pairs computation (no pair lost at block boundaries)."""
    import numpy as np

    from car_insurance_data_pipeline_spark_spark.operators.similarity import (
        embedding_dup_pairs,
    )

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    m = np.vstack([np.asarray(r[1], dtype=np.float64) for r in rows])
    m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
    sims = np.round(m @ m.T, 5)
    want = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j] and sims[i, j] >= 0.4:
                want.add((ids[i], ids[j], sims[i, j]))
    got = {
        (r.vec_a, r.vec_b, r.sim)
        for r in embedding_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.4, n_blocks=5
        ).collect()
    }
    assert got == want


def test_embedding_dup_lsh_recall_on_perturbed_dups(spark, emb):
    """Plant PERTURBED near-duplicates (small noise, sim ~0.97+) and
    assert the sign-LSH pair generator recovers most of them — the
    probabilistic regime, unlike q72's exact-copy recall-1 case."""
    import numpy as np
    import pandas as pd

    from car_insurance_data_pipeline_spark_spark.operators.similarity import (
        embedding_dup_pairs,
        embedding_dup_pairs_lsh,
    )

    rows = emb.filter(F.col("vec_id") < 200).select("vec_id", "embedding").collect()
    rng = np.random.default_rng(7)
    pert = []
    for r in rows:
        v = np.asarray(r[1], dtype=np.float64)
        noisy = v + rng.standard_normal(v.shape) * 0.05 * np.linalg.norm(v) / np.sqrt(len(v))
        pert.append((r[0] + 1_000_000, [float(x) for x in noisy]))
    base = [(r[0], [float(x) for x in r[1]]) for r in rows]
    corpus = spark.createDataFrame(
        pd.DataFrame(base + pert, columns=["vec_id", "embedding"])
    )
    exact = {
        (r.vec_a, r.vec_b)
        for r in embedding_dup_pairs(
            corpus, "vec_id", "embedding", threshold=0.9, n_blocks=4
        ).collect()
    }
    assert exact, "perturbation should keep sim >= 0.9"
    lsh = {
        (r.vec_a, r.vec_b)
        for r in embedding_dup_pairs_lsh(
            corpus, "vec_id", "embedding",
            threshold=0.9, dim=64, nbits=8, n_bands=6, seed=42,
        ).collect()
    }
    assert lsh <= exact  # precision 1: every LSH pair is a true pair
    recall = len(lsh & exact) / len(exact)
    print(f"LSH dup-pair recall on perturbed dups: {recall:.2f}")
    assert recall >= 0.8


def test_wide_vector_auto_dispatch_matches_jvm(spark):
    """dim-512 vectors: auto dispatch must route to the Arrow path
    and produce exactly the JVM Column-expression result. Width comes
    from schema metadata (with_vector_dim) — construction runs NO job
    and emits no warning."""
    import warnings

    import numpy as np
    import pandas as pd

    from car_insurance_data_pipeline_spark_spark.functions.vectors import (
        vector_dim_from_schema,
        with_vector_dim,
    )

    rng = np.random.default_rng(3)
    n, dim = 300, 512
    vecs = rng.standard_normal((n, dim))
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n), "embedding": [[float(x) for x in v] for v in vecs]}
    )
    df = with_vector_dim(spark.createDataFrame(pdf), "embedding", dim)
    assert vector_dim_from_schema(df, "embedding") == dim
    q = df.filter(F.col("vec_id") < 5)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any construction warning fails
        auto = cosine_topk(q, df, k=5, dispatch="auto")
    jvm = cosine_topk(q, df, k=5, dispatch="jvm")
    # the auto plan must be the Arrow one (a MapInPandas node exists)
    assert "MapInPandas" in auto._jdf.queryExecution().executedPlan().toString()
    key = lambda rows: sorted((r.qid, r.rn, r.cid, r.sim) for r in rows)
    assert key(auto.collect()) == key(jvm.collect())


def test_embedding_dup_pairs_sparse_blocks(spark):
    """More hash blocks than rows: empty blocks must neither crash
    (empty side-a frame) nor double-emit (empty side-b frame made a
    group masquerade as diagonal). Regression for the group-key fix."""
    import numpy as np

    from car_insurance_data_pipeline_spark_spark.operators.similarity import (
        embedding_dup_pairs,
    )

    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    rows = [
        (i, [float(x) for x in (base + rng.standard_normal(16) * 0.01)])
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r.vec_a, r.vec_b)
        for r in embedding_dup_pairs(
            df, "vec_id", "embedding", threshold=0.9, n_blocks=8
        ).collect()
    )
    # all 4 vectors are ~identical: every C(4,2) pair exactly once
    assert got == [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]


def test_ivf_distributed_training_recall_and_determinism(emb, exact):
    """Distributed Lloyd training: recall at least matches the
    sample-trained floor, and the exact-decimal tree-aggregation
    makes centroids (hence results) identical across runs."""
    from car_insurance_data_pipeline_spark_spark.operators.similarity import (
        ivf_cosine_topk,
        train_ivf_centroids_distributed,
    )
    import numpy as np

    q = emb.filter(F.col("vec_id") < 10)
    rows = ivf_cosine_topk(
        q, emb, "vec_id", "embedding", k=5, train="distributed"
    ).collect()
    exact_pairs = {(r.qid, r.cid) for r in exact}
    got = {(r.qid, r.cid) for r in rows}
    recall = len(got & exact_pairs) / len(exact_pairs)
    print(f"IVF(distributed) top-5 recall vs exact: {recall:.2f}")
    assert recall >= 0.3
    c1 = train_ivf_centroids_distributed(emb, "embedding", 16, n_iters=3)
    c2 = train_ivf_centroids_distributed(emb, "embedding", 16, n_iters=3)
    assert np.array_equal(c1, c2)


def test_column_bucket_matches_numpy_backend(spark):
    """lsh_cosine_topk's bucket assignment moved to the Arrow/numpy
    matmul (round-11: the chained-HOF Column form was CODEGEN-bound,
    ~4.8 s to first execution at 4 tables x 8 bits x dim 64). The
    Column form (functions.vectors.random_hyperplane_bucket) remains
    the pure-JVM library surface — pin that both backends assign the
    SAME bucket ids on the fixture vectors, so either can stand in
    for the other."""
    import numpy as np
    from pyspark.sql import functions as F

    from car_insurance_data_pipeline_spark_spark.functions.vectors import (
        random_hyperplane_bucket,
    )
    from car_insurance_data_pipeline_spark_spark.operators.similarity import (
        make_hyperplanes,
    )
    from car_insurance_data_pipeline_spark_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings").limit(64)
    planes = make_hyperplanes(64, 8, seed=42)
    jvm = {
        r.vec_id: r.b
        for r in emb.select(
            "vec_id",
            random_hyperplane_bucket("embedding", planes).alias("b"),
        ).collect()
    }
    mat = np.asarray(planes, dtype=np.float64)
    weights = (1 << np.arange(8)).astype(np.int64)
    rows = emb.select("vec_id", "embedding").collect()
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        expected = int(((v @ mat.T) >= 0) @ weights)
        assert jvm[r.vec_id] == expected, r.vec_id
    # BATCHED path parity (round-11 review finding): the production
    # assigner matmuls whole Arrow batches — (n, dim) @ (dim, bits)
    # — while the loop above exercises the per-row dgemv path. A
    # BLAS that picked shape-dependent accumulation orders could
    # round a near-zero dot to opposite signs between the two, so
    # pin batched == per-row on the fixture vectors (q370's planted
    # guarantee additionally never depends on this: identical
    # vectors agree under ANY consistent backend).
    m = np.vstack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    batched = ((m @ mat.T) >= 0) @ weights
    for r, bb in zip(rows, batched):
        assert jvm[r.vec_id] == int(bb), f"batched diverged at {r.vec_id}"


def _by_rank(df):
    return sorted((r.qid, r.rn, r.cid, r.sim) for r in df.collect())


@pytest.mark.parametrize("dim", [2, 128])
def test_routes_agree_on_zero_vectors_and_negative_scores(spark, dim):
    """jvm, pandas and auto return the same rows on a corpus whose
    zero vectors (ids 2 and 9) sit among mostly negative scores; one
    query (id 2) is itself the zero vector, so all its sims are NULL
    and its candidates come in cid order."""
    import numpy as np

    from car_insurance_data_pipeline_spark_spark.functions.vectors import (
        with_vector_dim,
    )

    rng = np.random.default_rng(11)
    u = rng.standard_normal(dim)
    vecs = (
        [u, np.zeros(dim)]
        + [-u + 0.3 * rng.standard_normal(dim) for _ in range(6)]
        + [np.zeros(dim)]
        + [rng.standard_normal(dim) for _ in range(3)]
    )
    rows = [(i + 1, v.tolist()) for i, v in enumerate(vecs)]
    df = with_vector_dim(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        "embedding",
        dim,
    )
    q = df.filter(F.col("vec_id").isin(1, 2))
    jvm = _by_rank(cosine_topk(q, df, k=11, dispatch="jvm"))
    assert _by_rank(cosine_topk(q, df, k=11, dispatch="pandas")) == jvm
    assert _by_rank(cosine_topk(q, df, k=11, dispatch="auto")) == jvm
    real = [r for r in jvm if r[0] == 1]
    assert [r[2] for r in real[-2:]] == [2, 9]
    assert all(r[3] is None for r in real[-2:])
    assert all(r[3] is not None for r in real[:-2])
    assert sum(r[3] < 0 for r in real[:-2]) >= 6
    zero_q = [r for r in jvm if r[0] == 2]
    assert [(r[2], r[3]) for r in zero_q] == [
        (c, None) for c in [1, *range(3, 13)]
    ]


def test_batch_topk_keeps_the_lexsort_rows_at_ties():
    """The vectorized per-batch cut keeps exactly the rows a
    per-query lexsort on (-sim, cid) keeps, with heavy ties, repeated
    cids and NaN scores (which rank last). Spark-free."""
    import numpy as np

    from car_insurance_data_pipeline_spark_spark.operators.similarity import (
        _batch_topk,
    )

    rng = np.random.default_rng(5)
    sims = np.round(rng.uniform(-1, 1, (200, 7)), 1)
    sims[rng.uniform(size=sims.shape) < 0.1] = np.nan
    cids = rng.integers(0, 150, 200)
    qids = np.arange(100, 107)
    for k in (0, 4, 30, 250):
        got = _batch_topk(sims, cids, qids, k)
        for j, qid in enumerate(qids):
            key = np.where(np.isnan(sims[:, j]), np.inf, -sims[:, j])
            want = np.lexsort((cids, key))[: k + 1]
            mine = got[got.qid == qid]
            assert mine.cid.tolist() == cids[want].tolist()
            np.testing.assert_array_equal(mine.sim.to_numpy(), sims[want, j])


_KERNEL_HELPERS = {"_vec_matrix", "_batch_topk"}


def _hand_rolled_kernel_sites(path):
    """Every np.vstack / np.lexsort call, ``1e-12`` norm clamp and
    ``n[n == 0]`` zero-norm patch outside the two kernel helpers."""
    import ast

    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    sites = []
    for top in tree.body:
        if getattr(top, "name", None) in _KERNEL_HELPERS:
            continue
        for node in ast.walk(top):
            hit = (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "np"
                and node.func.attr in ("vstack", "lexsort")
            ) or (
                isinstance(node, ast.Constant)
                and isinstance(node.value, float)
                and node.value == 1e-12
            ) or (
                isinstance(node, ast.Subscript)
                and isinstance(node.slice, ast.Compare)
                and isinstance(node.slice.ops[0], ast.Eq)
                and ast.unparse(node.slice.left) == ast.unparse(node.value)
            )
            if hit:
                sites.append(
                    f"{os.path.basename(path)}:{node.lineno}: {ast.unparse(node)}"
                )
    return sites


def test_vector_kernels_go_through_the_two_helpers():
    """similarity.py, pq.py and clustering.py build vector matrices
    only with _vec_matrix, apply only its zero-vector rule, and cut
    per-batch top-k only with _batch_topk."""
    ops = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "car_insurance_data_pipeline_spark_spark",
        "operators",
    )
    sites = [
        site
        for name in ("similarity.py", "pq.py", "clustering.py")
        for site in _hand_rolled_kernel_sites(os.path.join(ops, name))
    ]
    assert not sites, "hand-rolled kernel steps:\n" + "\n".join(sites)
