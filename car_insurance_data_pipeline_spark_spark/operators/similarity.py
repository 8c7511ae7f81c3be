"""Similarity search over embedding columns (array<float>).

- cosine_topk:      brute-force exact top-k — the correctness
                    baseline. Query side is broadcast; per (query,
                    candidate) cosine runs JVM-side via higher-order
                    functions; ranking is a partitioned window.
- lsh_cosine_topk:  multi-table sign-LSH (random hyperplanes)
                    bucketed top-k — the scale path. Bucket
                    assignment is a narrow map; the join shuffles
                    only (id, table, bucket) rows, so the corpus is
                    never cross-joined and vectors never ride the
                    bucket join.
- embedding_dup_pairs: cosine near-dup pairs for dedup.

For very wide vectors where per-element expression evaluation
dominates, ``cosine_topk_pandas`` is the Arrow-vectorized variant
(numpy matmul per batch) — same rows, Pandas-UDF path.

Every numpy kernel builds its matrices with ``_vec_matrix`` and cuts
per-batch top-k with ``_batch_topk``. One zero-vector rule holds on
every route: a zero vector has no direction, so its similarity is
NULL (NaN in numpy), ranks last and meets no threshold — what the JVM
``cosine()`` and the DuckDB oracles give.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from car_insurance_data_pipeline_spark_spark.functions.vectors import cosine
from car_insurance_data_pipeline_spark_spark.session import driver_frame


def _vec_matrix(
    values, normalize: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """A batch of vectors (a pandas column or a list of array-likes)
    as one float64 (n, dim) matrix, plus the (n,) mask of its
    zero-norm rows.

    ``normalize=True`` scales each row to unit length and applies the
    zero-vector rule: a zero row becomes NaN, so every dot product it
    enters is NaN, which Arrow hands to Spark as NULL. Sites that need
    a point rather than a direction drop the masked rows (the
    centroid trainers) or say in their docstring what a NaN row does
    there."""
    m = np.vstack(list(values), dtype=np.float64)
    norms = np.linalg.norm(m, axis=1)
    zero = norms == 0
    if normalize:
        m /= np.where(zero, 1.0, norms)[:, None]
        m[zero] = np.nan
    return m, zero


def _batch_topk(
    sims: np.ndarray, cids: np.ndarray, qids: np.ndarray, k: int
) -> pd.DataFrame:
    """The per-batch cut before the global ``_ranked_topk`` merge
    (REPOSE's local top-k pruning): for each query column j of
    ``sims`` (batch, n_queries), the k + 1 candidates first on (sim
    desc with NaN last, cid) — one spare for the self-match filtered
    after the cut. A stable sort by cid, then one stable sort of every
    column by -sim, keeps exactly the rows a per-query
    ``lexsort((cids, -sims[:, j]))`` keeps, ties at the cut included.
    Columns: qid, cid, sim."""
    by_cid = np.argsort(cids, kind="stable")
    sims, cids = sims[by_cid], cids[by_cid]
    order = np.argsort(-sims, axis=0, kind="stable")[: k + 1]
    return pd.DataFrame(
        {
            "qid": np.tile(qids, len(order)),
            "cid": cids[order].ravel(),
            "sim": np.take_along_axis(sims, order, axis=0).ravel(),
        }
    )


def _ranked_topk(sims: DataFrame, k: int) -> DataFrame:
    """Rank candidates per query on (rounded sim desc, cid) and keep
    top-k. Rounding to 5 decimals BEFORE ranking makes the ordering
    reproducible across engines/architectures (float ulp noise)."""
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))
    return (
        sims.withColumn("sim", F.round("sim", 5))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", "sim", "rn")
    )


# Vector width where the Arrow/numpy path overtakes Column-expression
# cosine: Catalyst interprets HOF lambdas per ELEMENT, so HOF cost is
# linear in dim with a large constant (measured at 2000x2000 pairs:
# dim 64 HOF≈pandas, dim 256 pandas 1.7x faster, dim 512 pandas 3x).
_WIDE_VECTOR_DIM = 128


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dispatch: str = "auto",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors. Columns: qid, cid, sim, rn.

    ``dispatch``: 'auto' (default) routes wide vectors
    (dim >= 128) through the Arrow/numpy variant — identical results
    (equality-asserted in tests), different physical path; 'jvm'
    forces the Column-expression form; 'pandas' forces the Arrow
    form. Construction is ALWAYS lazy: 'auto' needs the vector width,
    taken from ``dim`` when passed, else from the column's schema
    metadata (``with_vector_dim`` stamps it; array types carry no
    length themselves). With neither available, 'auto' raises rather
    than running a hidden plan-construction job — pass ``dim=`` or
    pick 'jvm'/'pandas' explicitly.

    The query side is materialized driver-side on EITHER path (JVM:
    broadcast-join build; pandas: collect + sparkContext.broadcast) —
    it is small by contract; the corpus side streams through
    executors and is never collected.

    Scale (jvm path): broadcast the (small) query set against the
    corpus scan — a narrow map per corpus row, then one shuffle for
    the per-query window. Self-matches (qid == cid) are excluded.
    """
    if dispatch not in ("auto", "jvm", "pandas"):
        raise ValueError(
            f"dispatch must be 'auto', 'jvm' or 'pandas', got {dispatch!r}"
        )
    if dispatch == "auto":
        if dim is None:
            from car_insurance_data_pipeline_spark_spark.functions.vectors import (
                vector_dim_from_schema,
            )

            dim = vector_dim_from_schema(
                queries, vec_col
            ) or vector_dim_from_schema(corpus, vec_col)
        if dim is None:
            raise ValueError(
                "cosine_topk(dispatch='auto') needs the vector width to "
                "choose a path: pass dim=, stamp it with "
                "with_vector_dim(df, vec_col, dim), or pick "
                "dispatch='jvm'/'pandas' explicitly (laziness contract: "
                "no job runs at plan-construction time)"
            )
        if dim >= _WIDE_VECTOR_DIM:
            dispatch = "pandas"
    if dispatch == "pandas":
        return cosine_topk_pandas(queries, corpus, id_col, vec_col, k)
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qe")
    )
    c = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("ce"))
    sims = (
        c.join(F.broadcast(q), F.col("cid") != F.col("qid"))
        .select("qid", "cid", cosine("qe", "ce").alias("sim"))
    )
    return _ranked_topk(sims, k)


def make_hyperplanes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """Seeded random hyperplanes for sign-LSH (driver-side, embedded
    in the plan as literals — deterministic at any parallelism)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((nbits, dim)).tolist()


def _bucket_map(
    id_col: str, vec_col: str, out_id: str,
    dim: int, nbits: int, seed: int, n_tables: int,
):
    """The sign-LSH bucket kernel of lsh_cosine_topk and
    embedding_dup_pairs_lsh, as a mapInPandas function: one (out_id,
    tbl, bucket) row per vector and table, where bit b of table t's
    bucket is 1 iff the vector's dot with hyperplane b of table t
    (seeded seed + t) is >= 0. A zero vector (every dot 0) hashes to
    each table's all-ones bucket; its similarities are NULL at
    scoring."""
    planes = np.asarray(
        [make_hyperplanes(dim, nbits, seed + t) for t in range(n_tables)]
    ).reshape(-1, dim)
    weights = 1 << np.arange(nbits, dtype=np.int64)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m, _ = _vec_matrix(pdf[vec_col])
            bits = (m @ planes.T >= 0).reshape(len(m), n_tables, nbits)
            tables = np.arange(n_tables, dtype=np.int32)
            yield pd.DataFrame(
                {
                    out_id: np.tile(pdf[id_col].to_numpy(), n_tables),
                    "tbl": np.repeat(tables, len(m)),
                    "bucket": (bits @ weights).T.ravel(),
                }
            )

    return assign


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    nbits: int = 8,
    seed: int = 42,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH (OR-amplification):
    a pair is a candidate if it collides in ANY of ``n_tables``
    independent hash tables (table t's hyperplanes seeded seed+t).
    Columns: qid, cid, sim, rn. Recall vs the exact baseline is
    gated in tests/test_similarity.py; ``n_tables=1`` reproduces the
    single-table candidate set.

    Scale: the bucket stream carries (id, table, bucket) ONLY —
    n_tables narrow rows per vector, never the vectors themselves —
    and vectors reattach AFTER the cross-table dropDuplicates via
    two linear equi-joins (the same discipline that fixed the q109
    bucket-explosion hazard, see SCALE_CHECK.md). Raising n_tables
    therefore multiplies a narrow map + broadcast-join, not shuffled
    vector bytes; per-table bucket occupancy is controlled
    independently by nbits (suggest_lsh_nbits sizes it to corpus).
    """
    # Bucket assignment is one Arrow-batched numpy matmul over every
    # table's planes (_bucket_map), not a Column expression tree: the
    # HOF form (n_tables × nbits chained zip_with/aggregate dots) was
    # CODEGEN-bound — measured 4.8 s to first execution at sf0.1 (4
    # tables × 8 bits × dim 64) vs 0.9 s for this map, with identical
    # warm per-row cost (the generated method is enormous and compiles
    # once per distinct expression tree, so every fresh plan pays it;
    # the matmul pays nothing). Sign semantics match the HOF fold up
    # to IEEE summation order — identical vectors always agree (the
    # planted oracle guarantee), and bucket ids stay deterministic at
    # any parallelism (plane matrices are driver-seeded constants).
    #
    # declare the id field with the INPUT's type — hardcoding long
    # would narrow the public id_col contract (string/decimal ids
    # worked in the pre-Arrow Column form; round-11 review finding)
    q_id_t = queries.schema[id_col].dataType.simpleString()
    c_id_t = corpus.schema[id_col].dataType.simpleString()
    q_buckets = queries.select(id_col, vec_col).mapInPandas(
        _bucket_map(id_col, vec_col, "qid", dim, nbits, seed, n_tables),
        f"qid {q_id_t}, tbl int, bucket long",
    )
    c_buckets = corpus.select(id_col, vec_col).mapInPandas(
        _bucket_map(id_col, vec_col, "cid", dim, nbits, seed, n_tables),
        f"cid {c_id_t}, tbl int, bucket long",
    )
    candidates = (
        c_buckets.join(F.broadcast(q_buckets), ["tbl", "bucket"])
        .filter(F.col("cid") != F.col("qid"))
        .select("qid", "cid")
        .dropDuplicates(["qid", "cid"])
    )
    qv = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"))
    cv = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("ce"))
    sims = (
        candidates.join(cv, "cid")
        .join(F.broadcast(qv), "qid")
        .select("qid", "cid", cosine("qe", "ce").alias("sim"))
    )
    return _ranked_topk(sims, k)


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact cosine near-dup pairs (vec_a < vec_b, sim >= threshold),
    computed DISTRIBUTED — nothing is collected to the driver.

    Physical strategy: block-pair matmul. Rows hash into ``n_blocks``
    deterministic blocks (xxhash64 of the id); the C(n_blocks+1, 2)
    block pairs (a ≤ b) each become one applyInPandas group that
    numpy-matmuls block a against block b (upper triangle when
    a == b). Every unordered row pair lands in exactly one block
    pair, so the result is exact. Each row is shuffled
    (n_blocks+1)/2 times — choose n_blocks so one block (~N/n_blocks
    rows × dim doubles) fits executor memory; work grows as N², which
    is inherent to exact all-pairs. The 100 TB path is
    ``embedding_dup_pairs_lsh`` (sign-LSH bucketing, near-linear);
    this exact form is the oracle baseline for it.

    Emitted sims are rounded to 5 decimals (matmul's pairwise
    summation vs a sequential fold differ only in ulps). A pure
    Column-expression pair join was measured 60× slower at sf=0.1:
    Catalyst higher-order-function lambdas are interpreted per
    element, so O(pairs × dim) folds dominate.
    """
    spark = df.sparkSession
    blocks = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    pair_rows = [
        (a, b) for a in range(n_blocks) for b in range(a, n_blocks)
    ]
    pairs = driver_frame(spark, pair_rows, "ba int, bb int")
    # Replicate each row into every block pair where its block is side
    # a (tag 0) or side b (tag 1); diagonal pairs keep one copy.
    side_a = blocks.join(
        F.broadcast(pairs), blocks["blk"] == pairs["ba"]
    ).select("ba", "bb", F.lit(0).alias("side"), "vid", "v")
    side_b = blocks.join(
        F.broadcast(pairs),
        (blocks["blk"] == pairs["bb"]) & (pairs["ba"] != pairs["bb"]),
    ).select("ba", "bb", F.lit(1).alias("side"), "vid", "v")
    repl = side_a.unionByName(side_b)

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_a": [], "vec_b": [], "sim": []})
        if pdf.empty:
            return empty
        # diagonal-ness comes from the GROUP KEY, never from row
        # presence: an off-diagonal group whose b-block hashed no rows
        # would otherwise masquerade as diagonal and double-emit
        # block a's intra-pairs.
        diagonal = bool(pdf["ba"].iloc[0] == pdf["bb"].iloc[0])
        a = pdf[pdf["side"] == 0]
        b = a if diagonal else pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return empty
        ma, _ = _vec_matrix(a["v"], normalize=True)
        mb = ma if diagonal else _vec_matrix(b["v"], normalize=True)[0]
        sims = np.round(ma @ mb.T, 5)
        aids, bids = a["vid"].to_numpy(), b["vid"].to_numpy()
        if diagonal:
            # same rows on both axes: keep the upper triangle only
            hit = (sims >= threshold) & (aids[:, None] < bids[None, :])
        else:
            # disjoint blocks: every (i, j) is a distinct unordered
            # pair seen exactly once — ORIENT by id, never filter
            # (an aid > bid pair exists in no other block group)
            hit = sims >= threshold
        ii, jj = np.nonzero(hit)
        if not len(ii):
            return empty
        lo = np.minimum(aids[ii], bids[jj])
        hi = np.maximum(aids[ii], bids[jj])
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "sim": sims[ii, jj]})

    return repl.groupBy("ba", "bb").applyInPandas(
        score, "vec_a long, vec_b long, sim double"
    )


def suggest_lsh_nbits(
    n_rows: int,
    target_bucket: int = 8,
    min_bits: int = 8,
    max_bits: int = 24,
) -> int:
    """Size the per-band hyperplane count so expected bucket
    occupancy stays ~``target_bucket`` as the corpus grows.

    A FIXED nbits is a quadratic scale hazard: with 2^nbits buckets
    per band, expected candidate pairs grow ~n²/2^(nbits+1) — the
    round-5 weak-scaling check measured q109's candidate shuffle
    growing 68× on 10× data at nbits=8. Growing nbits with log2(n)
    keeps buckets constant-occupancy and the candidate set ~linear.
    Recall per band is p_bit^nbits (p_bit = 1 − θ/π for angle θ at
    the similarity threshold), so raising nbits for a bigger corpus
    may need more bands to hold recall: for EXACT duplicates
    (sign-identical vectors) recall is 1 at any nbits; for
    threshold ≈ 0.99, p_bit ≈ 0.955 and 4 bands hold ≥0.95 recall
    through ~16 bits.
    """
    import math

    return max(
        min_bits,
        min(max_bits, math.ceil(math.log2(max(n_rows, 1) / target_bucket))),
    )


def embedding_dup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int = 64,
    nbits: int = 8,
    n_bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine near-dup pairs — the 100 TB path.

    Sign-LSH bucketed pair generation: ``n_bands`` independent
    hyperplane sets each assign every row a bucket id (narrow map,
    plan-embedded literals); candidate pairs are the equi self-join
    on (band, bucket) — the corpus is never cross-joined and nothing
    touches the driver. Candidates are then scored EXACTLY
    (Arrow-vectorized numpy cosine) and thresholded, so precision
    is 1; recall grows with n_bands (any band agreeing on all nbits
    signs surfaces the pair) and is asserted against the exact
    baseline in tests/test_similarity.py. Columns: vec_a, vec_b, sim.

    Shuffle discipline (round-5 weak-scaling fix): the band-exploded
    stream and the candidate self-join carry (id, bucket) ONLY —
    vectors reattach AFTER the cross-band dropDuplicates via two
    equi-joins against the corpus. Carrying the vectors through the
    explosion multiplied every shuffle byte by the vector width ×
    n_bands; reattachment costs two linear corpus shuffles instead.
    Size ``nbits`` with suggest_lsh_nbits(corpus size) — a fixed
    bucket space makes the candidate set quadratic in n.
    """
    # Bucket assignment is the lsh_cosine_topk kernel: ONE
    # Arrow-vectorized map emitting n_bands keyed copies per row.
    # (A Column-expression form via random_hyperplane_bucket exists
    # but Catalyst interprets HOF dot products per element — measured
    # ~5× slower at 64 dims; numpy matmul is the narrow-map analog.)
    keyed = df.select(id_col, vec_col).mapInPandas(
        _bucket_map(id_col, vec_col, "vid", dim, nbits, seed, n_bands),
        "vid long, tbl int, bucket long",
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand_ids = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    vecs = df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    )
    cand = (
        cand_ids.join(
            vecs.select(
                F.col("vid").alias("vec_a"), F.col("vec").alias("va")
            ),
            "vec_a",
        )
        .join(
            vecs.select(
                F.col("vid").alias("vec_b"), F.col("vec").alias("vb")
            ),
            "vec_b",
        )
        .select("vec_a", "vec_b", "va", "vb")
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Arrow-vectorized rowwise cosine: Catalyst HOF lambdas are
        # interpreted per element (measured 60× slower than numpy on
        # pair scoring), so candidate verification goes through numpy.
        for pdf in batches:
            if pdf.empty:
                continue
            ma, _ = _vec_matrix(pdf["va"], normalize=True)
            mb, _ = _vec_matrix(pdf["vb"], normalize=True)
            sims = np.round(np.einsum("ij,ij->i", ma, mb), 5)
            keep = sims >= threshold
            if keep.any():
                yield pd.DataFrame(
                    {
                        "vec_a": pdf["vec_a"].to_numpy()[keep],
                        "vec_b": pdf["vec_b"].to_numpy()[keep],
                        "sim": sims[keep],
                    }
                )

    return cand.mapInPandas(score, "vec_a long, vec_b long, sim double")


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_iters: int = 10,
    sample: int = 2048,
    seed: int = 42,
) -> np.ndarray:
    """Seeded mini k-means on a driver-side sample → IVF centroids.

    At 100 TB the sample is a tiny reservoir (centroid quality needs
    only thousands of points); training is O(sample · k · iters) on
    the driver, and the resulting (k × dim) matrix broadcasts with
    the plan.

    Zero vectors have no direction to train on and are dropped from
    the sample; a cell whose mean has no direction keeps its previous
    centroid, as an empty cell does.
    """
    rows = df.select(vec_col).limit(sample).collect()
    x, zero = _vec_matrix([r[0] for r in rows], normalize=True)
    x = x[~zero]
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_clusters, len(x)), replace=False)]
    for _ in range(n_iters):
        assign = np.argmax(x @ cents.T, axis=1)
        live = np.unique(assign)
        means = [x[assign == c].mean(axis=0) for c in live]
        unit, zero = _vec_matrix(means, normalize=True)
        cents[live[~zero]] = unit[~zero]
    return cents


def train_ivf_centroids_distributed(
    df: DataFrame,
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_iters: int = 5,
    seed: int = 42,
) -> np.ndarray:
    """Distributed Lloyd's k-means over the FULL corpus — the scale
    upgrade of train_ivf_centroids (whose driver-side sample caps
    centroid quality when the corpus distribution has structure a
    2048-row reservoir misses).

    Per iteration, nothing corpus-sized ever moves: each partition
    computes its per-cell partial sum matrix in one Arrow pass
    (k x dim floats per partition), the partials tree-reduce through
    a JVM groupBy on (cell, pos) — cast to decimal(38,12) first, so
    the CROSS-PARTITION reduction is exact and order-independent
    (float partial-agg order would jitter centroids run to run) —
    and only k x dim aggregated values reach the driver. Empty cells
    keep their previous centroid. Init is the seeded driver-sample
    k-means, so iterations start from a sane, deterministic state.

    Determinism scope: centroids are stable across runs for a FIXED
    input partition layout (the within-partition float partial sums
    accumulate in partition row order). A different file-split or an
    upstream repartition regroups those float sums, which can move
    centroids by float-rounding noise — inherent to any distributed
    float k-means; the decimal reduction removes the scheduling
    (reduce-order) source, not the layout one. Zero vectors are
    dropped, as in train_ivf_centroids.
    """
    cents = train_ivf_centroids(
        df, vec_col, n_clusters, n_iters=3, seed=seed
    )
    spark = df.sparkSession
    for _ in range(n_iters):
        bc = spark.sparkContext.broadcast(cents)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = bc.value
            sums = np.zeros_like(c)
            counts = np.zeros(len(c), dtype=np.int64)
            for pdf in batches:
                if pdf.empty:
                    continue
                m, zero = _vec_matrix(pdf[vec_col], normalize=True)
                m = m[~zero]
                assign = np.argmax(m @ c.T, axis=1)
                np.add.at(sums, assign, m)
                counts += np.bincount(assign, minlength=len(c))
            live = np.flatnonzero(counts)
            if len(live):
                yield pd.DataFrame(
                    {
                        "cell": live.astype("int32"),
                        "vsum": list(sums[live]),
                        "n": counts[live],
                    }
                )

        p = df.select(vec_col).mapInPandas(
            partials, "cell int, vsum array<double>, n long"
        )
        agg = (
            p.select(
                "cell",
                "n",
                F.posexplode("vsum").alias("pos", "x"),
            )
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.col("x").cast("decimal(38,12)")).alias("sx"),
                # n repeats per pos; summing it dim times then
                # dividing by dim would also work, but max() is the
                # honest "this value is per-cell, not per-pos" agg
                F.sum(F.when(F.col("pos") == 0, F.col("n"))).alias("np"),
            )
        )
        rows = agg.collect()  # k x dim rows — bounded, never corpus-sized
        new = cents.copy()
        counts = np.zeros(len(cents), dtype=np.int64)
        acc = np.zeros_like(cents)
        for r in rows:
            acc[r["cell"], r["pos"]] = float(r["sx"])
            if r["pos"] == 0:
                counts[r["cell"]] = int(r["np"])
        live = np.flatnonzero(counts)
        unit, zero = _vec_matrix(acc[live] / counts[live, None], normalize=True)
        new[live[~zero]] = unit[~zero]
        bc.destroy()
        if np.allclose(new, cents, atol=1e-9):
            cents = new
            break
        cents = new
    return cents


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    train: str = "sample",
) -> DataFrame:
    """IVF ANN top-k: corpus rows partition into centroid cells
    (narrow Arrow-batched map); each query searches only its n_probe
    nearest cells. Columns: qid, cid, sim, rn.

    ``train``: 'sample' (seeded driver-sample k-means — fast, fine
    when a small reservoir captures the distribution) or
    'distributed' (full-corpus Lloyd iterations with exact decimal
    tree-aggregation — the 100 TB path; see
    train_ivf_centroids_distributed).

    Scale: the shuffle is an equi join on cell id — the corpus is
    never cross-joined, and raising n_probe trades cost for recall.

    A zero vector (a NaN row) lands in cell 0 and probes cells
    0 .. n_probe-1; the JVM ``cosine()`` scores it NULL.
    """
    if train == "distributed":
        cents = train_ivf_centroids_distributed(
            corpus, vec_col, n_clusters, seed=seed
        )
    else:
        cents = train_ivf_centroids(corpus, vec_col, n_clusters, seed=seed)
    n_probe = min(n_probe, len(cents))  # tiny corpora: fewer cells than probes

    def assign_cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m, _ = _vec_matrix(pdf[vec_col], normalize=True)
            yield pd.DataFrame(
                {
                    "cid": pdf[id_col].to_numpy(),
                    "cell": np.argmax(m @ cents.T, axis=1),
                    "ce": pdf[vec_col],
                }
            )

    c = corpus.select(id_col, vec_col).mapInPandas(
        assign_cells, f"cid long, cell int, ce {corpus.schema[vec_col].dataType.simpleString()}"
    )

    def probe_cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m, _ = _vec_matrix(pdf[vec_col], normalize=True)
            cells = np.argsort(-(m @ cents.T), axis=1, kind="stable")
            row = np.repeat(np.arange(len(pdf)), n_probe)
            yield pd.DataFrame(
                {
                    "qid": pdf[id_col].to_numpy()[row],
                    "cell": cells[:, :n_probe].ravel(),
                    "qe": pdf[vec_col].to_numpy()[row],
                }
            )

    q = queries.select(id_col, vec_col).mapInPandas(
        probe_cells, f"qid long, cell int, qe {queries.schema[vec_col].dataType.simpleString()}"
    )
    sims = (
        c.join(F.broadcast(q), ["cell"])
        .filter(F.col("cid") != F.col("qid"))
        .select("qid", "cid", cosine("qe", "ce").alias("sim"))
    )
    return _ranked_topk(sims, k)


def cosine_topk_pandas(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Arrow-vectorized brute-force top-k (mapInPandas + numpy matmul
    per batch, heap-merged by the final window). Same output contract
    as cosine_topk; preferred when vectors are wide enough that
    per-element Column expressions dominate. A zero vector's sim is
    NaN here, which reaches Spark as NULL, the JVM route's value.
    """
    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows])
    qmat, _ = _vec_matrix([r[1] for r in qrows], normalize=True)
    # ship the query matrix once per executor, not pickled per task
    bq = corpus.sparkSession.sparkContext.broadcast((qids, qmat))

    out_schema = "qid long, cid long, sim double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qids, qnorm = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            cmat, _ = _vec_matrix(pdf[vec_col], normalize=True)
            # round BEFORE the per-batch cut: the final ranking orders
            # by (rounded sim desc, cid), so the partial top-k must use
            # the same key or a candidate cut pre-rounding could tie
            # post-rounding with a retained row and lose its cid
            # tie-break (same contract as cosine_topk).
            sims = np.round(cmat @ qnorm.T, 5)  # (batch, nq)
            yield _batch_topk(sims, pdf[id_col].to_numpy(), b_qids, k)

    sims = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    sims = sims.filter(F.col("cid") != F.col("qid"))
    return _ranked_topk(sims, k)
