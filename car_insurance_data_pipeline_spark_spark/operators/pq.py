"""Product-quantization (PQ) approximate nearest-neighbor search.

The compression-based ANN variant the similarity stack was missing:
IVF (operators/similarity.py) prunes WHICH vectors a query scores;
sign-LSH buckets candidates; int8 (plans/vectorops.py q125) shrinks
each dimension. PQ instead replaces every corpus vector with m
subspace CODES (here 4 bytes for a 64-float vector — 64× smaller
than float64, 16× smaller than the parquet float32), and queries
score codes through per-query lookup tables without ever touching
the original vectors — the memory-bound regime where 100 TB of
embeddings must live in RAM-sized code form (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — public
literature).

Pipeline: train per-subspace codebooks on a seeded sample (k-means
in each of the m subspaces independently) → encode the corpus with
a narrow Arrow map (argmin distance per subspace) → ADC search
(asymmetric distance computation): each query precomputes an
(m × k_sub) table of subvector·centroid dots, and a candidate's
approximate cosine is m table lookups summed.

Scale notes:
- Training samples driver-side (same contract as train_ivf_centroids
  — codebook quality needs thousands of points, not the corpus).
- Encoding is a narrow mapInPandas: no shuffle; codes are the ONLY
  thing downstream search reads, so the 16-64× compression is also
  a 16-64× scan saving on every query batch.
- Search broadcasts the per-query LUT stack ((nq, m, k_sub) floats —
  queries are small by the cosine_topk contract) and streams the
  code table through one Arrow pass + the usual per-query top-k
  window. The corpus is never collected, never self-joined.
- Determinism: seeded init, argmin lowest-index tie-breaks, sims
  rounded to 5 decimals before the (sim desc, cid) ranking — the
  shared _ranked_topk contract.
- Zero vectors: a zero query's sims are NULL, the similarity
  family's rule. A corpus code cannot record that its vector was
  zero: a zero vector normalizes to a NaN row, which encodes as
  centroid 0 in every subspace and then scores like any code 0.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from car_insurance_data_pipeline_spark_spark.operators.similarity import (
    _batch_topk,
    _ranked_topk,
    _vec_matrix,
)


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    k_sub: int = 16,
    n_iters: int = 10,
    sample: int = 2048,
    seed: int = 42,
) -> np.ndarray:
    """Seeded per-subspace k-means on a driver-side sample →
    codebooks of shape (m, k_sub, dim/m).

    Vectors are L2-normalized BEFORE splitting, so downstream dot
    products of reconstructed subvectors approximate cosine. Each
    subspace trains independently (that independence is what makes
    the implicit codebook size k_sub**m while storing only m·k_sub
    centroids). Empty cells keep their previous centroid and zero
    vectors are dropped from the sample — same policies as the IVF
    trainers.
    """
    rows = df.select(vec_col).limit(sample).collect()
    x, zero = _vec_matrix([r[0] for r in rows], normalize=True)
    x = x[~zero]
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k_sub, d_sub), dtype=np.float64)
    for j in range(m):
        sub = x[:, j * d_sub : (j + 1) * d_sub]
        cents = sub[
            rng.choice(len(sub), size=min(k_sub, len(sub)), replace=False)
        ].copy()
        for _ in range(n_iters):
            # squared-L2 assignment; argmin breaks ties at the lowest
            # centroid index (deterministic)
            d2 = (
                (sub**2).sum(1, keepdims=True)
                - 2 * sub @ cents.T
                + (cents**2).sum(1)
            )
            assign = np.argmin(d2, axis=1)
            for c in range(len(cents)):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[j, : len(cents)] = cents
        if len(cents) < k_sub:  # degenerate tiny sample: pad by repeat
            books[j, len(cents) :] = cents[0]
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every corpus vector as m subspace code indices.
    Columns: cid long, code array<int> (length m — the compressed
    representation downstream search reads INSTEAD of the vector).

    Narrow Arrow map: no shuffle, no collect.
    """
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = bc.value
        m, _, d_sub = books.shape
        for pdf in batches:
            if pdf.empty:
                continue
            x, _ = _vec_matrix(pdf[vec_col], normalize=True)
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                sub = x[:, j * d_sub : (j + 1) * d_sub]
                d2 = (
                    (sub**2).sum(1, keepdims=True)
                    - 2 * sub @ books[j].T
                    + (books[j] ** 2).sum(1)
                )
                codes[:, j] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {"cid": pdf[id_col].to_numpy(), "code": list(codes)}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        enc, "cid long, code array<int>"
    )


def pq_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 4,
    k_sub: int = 16,
    seed: int = 42,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """ADC top-k over PQ codes. Columns: qid, cid, sim, rn (the
    shared ANN output contract; sim is the APPROXIMATE cosine —
    recall vs exact asserted in tests/test_pq.py).

    Each query's (m × k_sub) lookup table holds its subvector dots
    with every centroid; a candidate's score is m table lookups
    summed — the corpus vectors themselves are never read after
    encoding.
    """
    books = (
        codebooks
        if codebooks is not None
        else train_pq_codebooks(
            corpus, vec_col, m=m, k_sub=k_sub, seed=seed
        )
    )
    codes = pq_encode(corpus, books, id_col, vec_col)

    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows])
    qmat, _ = _vec_matrix([r[1] for r in qrows], normalize=True)
    mm, _, d_sub = books.shape
    # LUT[i, j, c] = q_i's j-th subvector · centroid c of subspace j
    lut = np.stack(
        [
            qmat[:, j * d_sub : (j + 1) * d_sub] @ books[j].T
            for j in range(mm)
        ],
        axis=1,
    )
    bc = queries.sparkSession.sparkContext.broadcast((qids, lut))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qids, b_lut = bc.value
        nq = len(b_qids)
        for pdf in batches:
            if pdf.empty:
                continue
            codes_mat = _vec_matrix(pdf["code"])[0].astype(np.intp)  # (n, m)
            # sims[i, q] = sum_j LUT[q, j, codes[i, j]]
            sims = np.zeros((len(codes_mat), nq))
            for j in range(codes_mat.shape[1]):
                sims += b_lut[:, j, codes_mat[:, j]].T
            sims = np.round(sims, 5)
            yield _batch_topk(sims, pdf["cid"].to_numpy(), b_qids, k)

    sims = codes.mapInPandas(score, "qid long, cid long, sim double")
    sims = sims.filter(F.col("cid") != F.col("qid"))
    return _ranked_topk(sims, k)
