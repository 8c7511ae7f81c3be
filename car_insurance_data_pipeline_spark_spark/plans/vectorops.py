"""Similarity-search catalog queries over the ``embeddings`` fixture.

Exact brute-force cosine top-k is the oracle-checked baseline; the
sign-LSH variant (the 100 TB path) and the Pandas-UDF variant are
rows-only entries whose recall/equivalence vs the exact baseline is
asserted in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from car_insurance_data_pipeline_spark_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_pandas,
    embedding_dup_pairs,
    embedding_dup_pairs_lsh,
    ivf_cosine_topk,
    lsh_cosine_topk,
)
from car_insurance_data_pipeline_spark_spark.plans.catalog import query, table
from car_insurance_data_pipeline_spark_spark.session import checkpoint

# Shared DuckDB fragments: double-precision dot product / norm over
# list<float>, sequential like Spark's aggregate() fold; results are
# rounded to 5 decimals before ranking on both sides so float ulp
# noise cannot reorder ties.
_DOT = "list_aggregate(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]), 'sum')"
_NORM = "sqrt(list_aggregate(list_transform({a}, x -> x * x), 'sum'))"


@query(
    "q38_cosine_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings
), sims AS (
  SELECT qid, cid,
    ROUND({_DOT.format(a="qe", b="ce")}
      / ({_NORM.format(a="qe")} * {_NORM.format(a="ce")}), 5) AS sim
  FROM c, q WHERE cid != qid
)
SELECT qid, cid, sim, CAST(rn AS INT) AS rn FROM (
  SELECT qid, cid, sim,
    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
  FROM sims
) WHERE rn <= 5
""",
)
def q38_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for 10 query vectors — the ANN
    correctness baseline. JVM-side dot products (zip_with/aggregate),
    broadcast query side, one window shuffle.
    """
    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb.filter(F.col("vec_id") < 10), emb, "vec_id", "embedding",
        k=5, dim=64,  # fixture width is known: keeps construction lazy
    )


@query("q39_lsh_topk")  # rows-only: approximate by design
def q39_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH bucketed top-5 (4 tables × 8 hyperplane
    bits, OR-amplified, seed 42) — the scale path for ANN: join on
    (table, bucket) instead of cross join; vectors reattach after
    the cross-table dedup. Recall invariants and the planted-pair
    floor are asserted in tests/test_similarity.py.
    """
    emb = table(spark, sf_dir, "embeddings")
    return lsh_cosine_topk(
        emb.filter(F.col("vec_id") < 10), emb, "vec_id", "embedding",
        k=5, dim=64, nbits=8, seed=42,
    )


@query("q40_cosine_topk_pandas")  # rows-only: Pandas-UDF path
def q40_cosine_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized brute-force top-5 (mapInPandas + numpy matmul
    with per-batch partial top-k) — same contract as q38; equality is
    asserted in tests/test_similarity.py.
    """
    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk_pandas(
        emb.filter(F.col("vec_id") < 10), emb, "vec_id", "embedding", k=5
    )


@query(
    "q41_embedding_dup_pairs",
    oracle=f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  ROUND({_DOT.format(a="a.e", b="b.e")}
    / ({_NORM.format(a="a.e")} * {_NORM.format(a="b.e")}), 5) AS sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE ROUND({_DOT.format(a="a.e", b="b.e")}
    / ({_NORM.format(a="a.e")} * {_NORM.format(a="b.e")}), 5) >= 0.4
""",
)
def q41_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (sim ≥ 0.4) — the
    semantic-dedup operator. Brute-force form doubles as the oracle;
    the LSH-bucketed form is the scale path (same machinery as q39).

    n_blocks sizes to the corpus. An extra applyInPandas group costs
    little, because groups share the stage's tasks and so its Python
    workers: re-measured at sf0.1 on a 4-CPU host (median of 5),
    10 groups take 0.70 s and 36 take 0.80 s, about 4 ms per extra
    group. The ~0.15 s per group once quoted here was mostly the
    block-pair table being read as a pickled Python RDD by every job
    that joined it; built through ``session.driver_frame`` it is a
    JVM LocalRelation, and the query fell from 1.15 s to 0.70 s. At
    100 TB you raise n_blocks until one block (~N/n_blocks · dim · 8
    bytes) fits executor memory; the group count grows as
    n_blocks²/2.
    """
    emb = table(spark, sf_dir, "embeddings")
    return embedding_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.4, n_blocks=4
    )


@query(
    "q72_embedding_dup_lsh",
    oracle=f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), u AS (
  SELECT vec_id, e FROM v
  UNION ALL
  SELECT vec_id + 1000000, e FROM v WHERE vec_id % 10 = 0
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  ROUND({_DOT.format(a="a.e", b="b.e")}
    / ({_NORM.format(a="a.e")} * {_NORM.format(a="b.e")}), 5) AS sim
FROM u a JOIN u b ON a.vec_id < b.vec_id
WHERE ROUND({_DOT.format(a="a.e", b="b.e")}
    / ({_NORM.format(a="a.e")} * {_NORM.format(a="b.e")}), 5) >= 0.99
""",
)
def q72_embedding_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed embedding dedup — the 100 TB near-dup path
    (bucket self-join, Arrow-verified candidates; NOTHING touches the
    driver), demonstrated on a corpus with planted exact duplicates
    (every 10th vector re-inserted under vec_id + 1e6).

    Oracle-checkable despite LSH being approximate: identical vectors
    agree on every hyperplane sign, so every planted pair surfaces in
    every band (recall is exactly 1 at threshold 0.99 — no organic
    pair in this corpus exceeds ~0.6), and candidate verification is
    exact cosine, so precision is 1. Recall on *perturbed* (sim < 1)
    duplicates is asserted separately in tests/test_similarity.py.
    """
    from car_insurance_data_pipeline_spark_spark.operators.similarity import (
        suggest_lsh_nbits,
    )

    emb = table(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    corpus = emb.select("vec_id", "embedding").unionByName(
        planted.select("vec_id", "embedding")
    )
    # corpus-sized bucket space (round-5 weak-scaling fix): the
    # count is parquet-metadata-cheap; a fixed nbits makes the
    # candidate set quadratic in corpus size
    n = emb.count()
    return embedding_dup_pairs_lsh(
        corpus, "vec_id", "embedding",
        threshold=0.99, dim=64,
        nbits=suggest_lsh_nbits(n + n // 10), n_bands=4, seed=42,
    )


@query(
    "q370_lsh_topk_planted",
    oracle=f"""
WITH q AS (
  SELECT vec_id + 1000000 AS qid, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
  FROM embeddings WHERE vec_id < 10
), sims AS (
  SELECT qid, cid,
    ROUND({_DOT.format(a="qe", b="ce")}
      / ({_NORM.format(a="qe")} * {_NORM.format(a="ce")}), 5) AS sim
  FROM c, q WHERE cid != qid
)
SELECT qid, cid, sim, CAST(rn AS INT) AS rn FROM (
  SELECT qid, cid, sim,
    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
  FROM sims
) WHERE rn <= 1
""",
)
def q370_lsh_topk_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH top-1 on a corpus with PLANTED exact duplicates —
    the q72 pattern promoted to the TOP-K family (round-10 verdict
    #3): the 10 query vectors are verbatim copies (vec_id + 1e6) of
    vec_id < 10, so each query's global top-1 is its twin at
    sim 1.0 DETERMINISTICALLY — an identical vector lands in the
    same bucket of every hash table (recall exactly 1 at rank 1; no
    organic pair in this corpus exceeds ~0.6), and verification is
    exact cosine. The oracle is plain brute-force top-1 with NO
    algorithm mirroring, so a hash match proves the LSH candidate
    machinery (multi-table bucketing, cross-table dedup, vector
    reattach, ranked window) end to end. q39 remains the organic
    rows-only entry whose sub-1.0 recall is pinned in
    tests/test_similarity.py.

    Scale: identical machinery to q39 — the bucket stream carries
    (id, table, bucket) only; the broadcast side is the bounded
    10-row query set; nbits sizes to the corpus (suggest_lsh_nbits,
    the round-5 weak-scaling fix).
    """
    from car_insurance_data_pipeline_spark_spark.operators.similarity import (
        suggest_lsh_nbits,
    )

    emb = table(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    corpus = emb.select("vec_id", "embedding").unionByName(
        planted.select("vec_id", "embedding")
    )
    n = emb.count()
    return lsh_cosine_topk(
        planted, corpus, "vec_id", "embedding",
        k=1, dim=64, nbits=suggest_lsh_nbits(n + 10), seed=42,
    )


@query(
    "q371_ivf_topk_planted",
    oracle=f"""
WITH q AS (
  SELECT vec_id + 1000000 AS qid, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
  FROM embeddings WHERE vec_id < 10
), sims AS (
  SELECT qid, cid,
    ROUND({_DOT.format(a="qe", b="ce")}
      / ({_NORM.format(a="qe")} * {_NORM.format(a="ce")}), 5) AS sim
  FROM c, q WHERE cid != qid
)
SELECT qid, cid, sim, CAST(rn AS INT) AS rn FROM (
  SELECT qid, cid, sim,
    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
  FROM sims
) WHERE rn <= 1
""",
)
def q371_ivf_topk_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-1 on the planted-duplicate corpus — q370's oracle
    argument applied to the IVF family (round-10 verdict #3): a
    query identical to a corpus vector is assigned the SAME nearest
    centroid (argmax of the same centroid sims), and that cell is
    by definition the query's first probe, so the twin is always a
    candidate and wins rank 1 at sim 1.0 regardless of how the
    centroids land. The brute-force oracle therefore hash-checks
    the whole IVF pipeline — distributed Lloyd training, Arrow cell
    assign/probe maps, the cell equi-join, exact verification —
    without mirroring any of it. q60 remains the organic rows-only
    entry (recall vs q38 pinned in tests/test_similarity.py).

    Scale: q60's machinery — the corpus shuffles on cell id only;
    the broadcast side is the bounded 10-query probe fan-out
    (n_probe rows per query); centroid training is the exact
    decimal tree-aggregation (the 100 TB path).
    """
    emb = table(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    corpus = emb.select("vec_id", "embedding").unionByName(
        planted.select("vec_id", "embedding")
    )
    return ivf_cosine_topk(
        planted, corpus, "vec_id", "embedding",
        k=1, n_clusters=16, n_probe=4, train="distributed",
    )


@query("q60_ivf_topk")  # rows-only: approximate by design
def q60_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 (16 cells, 4 probes) with DISTRIBUTED Lloyd
    centroid training — full-corpus iterations with exact decimal
    tree-aggregation (train_ivf_centroids_distributed), the 100 TB
    path; the seeded driver-sample trainer remains as the fast
    option. Cell assignment is a narrow Arrow map, search joins on
    cell id only. Recall vs q38 asserted in tests/test_similarity.py.
    """
    emb = table(spark, sf_dir, "embeddings")
    return ivf_cosine_topk(
        emb.filter(F.col("vec_id") < 10), emb, "vec_id", "embedding",
        k=5, n_clusters=16, n_probe=4, train="distributed",
    )


@query(
    "q125_quantized_ann",
    oracle="""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), m AS (
  SELECT vec_id, e,
    list_aggregate(list_transform(e, x -> abs(x)), 'max') AS maxabs
  FROM v
), qz AS (
  SELECT vec_id,
    list_transform(e, x -> CAST(floor(x * 127.0 / maxabs + 0.5) AS BIGINT))
      AS q
  FROM m WHERE maxabs > 0
), n AS (
  SELECT vec_id, q,
    CAST(list_aggregate(list_transform(q, x -> x * x), 'sum') AS BIGINT)
      AS n2
  FROM qz
), s AS (
  SELECT a.vec_id AS qid, b.vec_id AS cid,
    ROUND(
      CAST(list_aggregate(list_transform(list_zip(a.q, b.q),
                                         x -> x[1] * x[2]), 'sum') AS BIGINT)
        / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)), 5) AS sim
  FROM n a, n b WHERE a.vec_id < 10 AND b.vec_id != a.vec_id
)
SELECT qid, cid, sim, CAST(rn AS INT) AS rn FROM (
  SELECT qid, cid, sim,
    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
  FROM s
) WHERE rn <= 5
""",
)
def q125_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized cosine top-k — the memory-compressed ANN path:
    embeddings are symmetrically quantized per vector
    (q_i = round_half_up(x_i · 127 / max|x|), int8 range), and
    similarity is computed on the INTEGER codes. 4× smaller vectors
    → 4× more candidates per executor-heap byte; the integer dot
    products are exact, so (unlike a float pipeline) quantized
    scoring is bit-deterministic and the oracle can hash-match it.

    Cross-engine determinism: quantization uses floor(x·127/m + 0.5)
    (identical expression text both engines — left-to-right IEEE
    evaluation), dot products and norms are exact BIGINT sums
    (|dot| ≤ 64·127² ≈ 1e6, n2·n2 ≤ 1e12 < 2^53), and the final
    sim = dot / sqrt(na·nb) is one correctly-rounded division by one
    correctly-rounded sqrt of an exact integer. Zero vectors
    (max|x| = 0, present in the fixture) are excluded on both sides.

    Scale: the query side (10 vectors) broadcasts; candidates never
    shuffle — the per-qid top-5 window partitions on qid after a
    map-side filter. At 100 TB the same codes power an IVF variant
    (q60's bucketing) with 4× the fan-in per probe.
    """
    emb = table(spark, sf_dir, "embeddings")
    ed = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    quant = (
        emb.select("vec_id", ed.alias("e"))
        .withColumn(
            "maxabs", F.expr("array_max(transform(e, x -> abs(x)))")
        )
        .filter(F.col("maxabs") > 0)
        .select(
            "vec_id",
            F.expr(
                "transform(e, x -> CAST(floor(x * 127.0D / maxabs + 0.5D)"
                " AS BIGINT))"
            ).alias("q"),
        )
        .withColumn(
            "n2",
            F.expr("aggregate(q, 0L, (acc, x) -> acc + x * x)"),
        )
    )
    qside = quant.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("q").alias("qq"),
        F.col("n2").alias("qn2"),
    )
    joined = quant.crossJoin(F.broadcast(qside)).filter(
        F.col("vec_id") != F.col("qid")
    )
    sims = joined.select(
        "qid",
        F.col("vec_id").alias("cid"),
        F.round(
            F.expr(
                "aggregate(zip_with(qq, q, (a, b) -> a * b), 0L,"
                " (acc, x) -> acc + x)"
            )
            / F.sqrt((F.col("qn2") * F.col("n2")).cast("double")),
            5,
        ).alias("sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "cid")
    return (
        sims.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 5)
    )


def _kmeans_oracle_sql(k: int = 8, n_iter: int = 5) -> str:
    """Unrolled Lloyd-iteration oracle for q136 (round 5).

    Mirrors operators/clustering.py exactly: k lowest-id init, per-
    iteration argmin assignment (squared-L2 as a sequential list
    fold; ties → lower cluster id), centroid update as an EXACT
    decimal(38,12) per-(cluster, dim) sum divided once by the
    integer member count (bit-identical doubles in both engines —
    the only cross-engine wobble is the distance fold's summation
    order, which can flip an argmin only on a measure-zero exact
    distance tie). Empty clusters carry their previous centroid.
    MATERIALIZED CTEs keep the chain linear."""
    d2 = (
        "list_aggregate(list_transform(generate_series(1, len(v.e)),"
        " j -> (v.e[j] - c.e[j]) * (v.e[j] - c.e[j])), 'sum')"
    )
    parts = [
        f"""WITH v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), c0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c, e
  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {k})
)"""
    ]
    prev = "c0"
    for i in range(1, n_iter + 1):
        parts.append(
            f""",
a{i} AS MATERIALIZED (
  SELECT vec_id, e, c FROM (
    SELECT v.vec_id, v.e, c.c,
      row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY {d2}, c.c) AS rn
    FROM v CROSS JOIN {prev} c
  ) WHERE rn = 1
), s{i} AS MATERIALIZED (
  SELECT c, j AS dim,
    CAST(SUM(CAST(e[j] AS DECIMAL(38,12))) AS DOUBLE)
      / COUNT(*) AS m
  FROM a{i}, unnest(generate_series(1, len(e))) AS t(j)
  GROUP BY c, j
), c{i} AS MATERIALIZED (
  SELECT p.c, COALESCE(n.e, p.e) AS e
  FROM {prev} p LEFT JOIN (
    SELECT c, list(m ORDER BY dim) AS e FROM s{i} GROUP BY c
  ) n ON p.c = n.c
)"""
        )
        prev = f"c{i}"
    parts.append(
        f"""
SELECT vec_id, c AS cluster FROM (
  SELECT v.vec_id, c.c,
    row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {d2}, c.c) AS rn
  FROM v CROSS JOIN {prev} c
) WHERE rn = 1"""
    )
    return "".join(parts)


@query("q136_kmeans_clusters", oracle=_kmeans_oracle_sql(8, 5))
def q136_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means clustering of the embedding corpus
    (k=8, 5 Lloyd iterations) — the clustering stage of a semantic
    training-data pipeline: SemDeDup-style cluster-then-dedup,
    per-cluster mixture balancing, IVF coarse-quantizer training
    (q60's index is exactly this with a sampled trainer). Output:
    every vector's final cluster assignment.

    Oracle-checkable despite float k-means (see
    operators/clustering.py): deterministic lowest-id init + exact
    decimal centroid updates hold both engines in bit-identical
    lockstep, and the DuckDB side unrolls the same 5 iterations.

    Scale: per iteration, one map-side-combined (cluster, dim)
    decimal aggregate (k×dim result rows; only those reach the
    driver — the IVF-trainer contract) and one narrow assignment map
    against plan-literal centroids; the corpus shuffles only in the
    k×dim aggregate, never by vector.
    """
    from car_insurance_data_pipeline_spark_spark.operators.clustering import (
        kmeans_fit_predict,
    )

    emb = table(spark, sf_dir, "embeddings")
    return kmeans_fit_predict(emb, "vec_id", "embedding", k=8, n_iter=5)


@query("q176_pq_topk")  # rows-only: approximate by design
def q176_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-5 (m=4 subspaces × 16 centroids
    → 4-byte codes for 64-float vectors, 64× compression): the
    memory-bound scale path where even int8 vectors (q125) don't fit
    — queries score codes through per-query lookup tables (ADC) and
    the corpus vectors are never read after encoding. Recall vs the
    exact q38 ranking asserted in tests/test_pq.py (the rows-only
    family contract, same as q39/q60).
    """
    from car_insurance_data_pipeline_spark_spark.operators.pq import pq_cosine_topk

    emb = table(spark, sf_dir, "embeddings")
    return pq_cosine_topk(
        emb.filter(F.col("vec_id") < 10), emb, "vec_id", "embedding",
        k=5, m=4, k_sub=16,
    )


@query(
    "q345_knn_loo_accuracy",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, label AS qlabel,
    CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id % 5 = 0 AND vec_id < 5000
), c AS (
  SELECT vec_id AS cid, label AS clabel,
    CAST(embedding AS DOUBLE[]) AS ce FROM embeddings
), sims AS (
  SELECT qid, qlabel, cid, clabel,
    ROUND({_DOT.format(a="qe", b="ce")}
      / ({_NORM.format(a="qe")} * {_NORM.format(a="ce")}), 5) AS sim
  FROM c, q WHERE cid != qid
), knn AS (
  SELECT qid, qlabel, clabel FROM (
    SELECT qid, qlabel, clabel,
      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid)
        AS rn
    FROM sims
  ) WHERE rn <= 5
), votes AS (
  SELECT qid, qlabel, clabel, COUNT(*) AS cnt FROM knn
  GROUP BY qid, qlabel, clabel
), winner AS (
  SELECT qid, qlabel, clabel AS plabel FROM (
    SELECT qid, qlabel, clabel,
      row_number() OVER (PARTITION BY qid
        ORDER BY cnt DESC, clabel) AS rv
    FROM votes
  ) WHERE rv = 1
)
SELECT qlabel AS label,
  CAST(COUNT(*) AS BIGINT) AS n_probes,
  CAST(SUM(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
    AS n_correct,
  CAST(SUM(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) * 1000000
    // COUNT(*) AS BIGINT) AS acc_ppm
FROM winner GROUP BY qlabel ORDER BY qlabel
""",
)
def q345_knn_loo_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN leave-one-out label accuracy over the embedding corpus —
    the INTRINSIC QUALITY metric for an embedding space ("do
    same-label points actually cluster?") that every
    similarity-search deployment should compute before trusting ANN
    retrieval: probe vectors (every 5th id — a deterministic sample
    so the probe side stays broadcastable at any corpus size) get
    their 5 nearest neighbors by exact cosine (self excluded),
    neighbors vote by label (ties → smaller label), and accuracy
    rolls up per true label. Low per-label accuracy here predicts
    low ANN recall usefulness regardless of index quality — it is
    the evaluation q39/q60/q125/q176's approximate indexes are
    ultimately judged against. Columns: label, n_probes, n_correct,
    acc_ppm.

    Determinism: sims rounded to 5 decimals before ranking with cid
    tie-break (the q38 contract); integer votes with label
    tie-break; floor ppm.

    Scale: the probe panel is BOUNDED (every 5th id, capped at id <
    5000 → ≤1000 probes at any corpus size — a fixed-rate sample
    would grow the broadcast and make the sim stage quadratic), so
    cost is |panel|×corpus: a narrow map + one window per probe
    partition. Swap in lsh_cosine_topk/ivf for the candidate stage
    at 100 TB and this query becomes the recall harness.
    """
    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(
        (F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 5000)
    )
    # The panel is ~1000 probes — per-probe Column expressions would
    # codegen a 1000-wide dot-product tree per corpus row (measured
    # 21.7 s at sf0.1, 202 s at 10x); the Arrow path batches the
    # whole panel into one numpy matmul per corpus batch (1.9 s /
    # 3.4 s). Same output contract (equality-asserted for the
    # shared-panel case in tests/test_similarity.py).
    knn = cosine_topk_pandas(probes, emb, "vec_id", "embedding", k=5)
    # lbl is ONE ROW PER EMBEDDING (neighbors come from the whole
    # corpus) — never broadcast it (the q317/q355 hazard class; the
    # round-9 audit caught it at growth ratio 4.0): AQE picks the
    # strategy. qlbl only needs the ≤1000-probe panel's labels, so
    # it derives from `probes` and stays a legitimate broadcast.
    lbl = emb.select(
        F.col("vec_id").alias("cid"), F.col("label").alias("clabel")
    )
    qlbl = probes.select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlabel")
    )
    votes = (
        knn.join(lbl, "cid")
        .groupBy("qid", "clabel")
        .agg(F.count("*").alias("cnt"))
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("cnt").desc(), F.col("clabel").asc()
    )
    winner = (
        votes.withColumn("rv", F.row_number().over(wv))
        .filter(F.col("rv") == 1)
        .join(F.broadcast(qlbl), "qid")
    )
    return (
        winner.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count("*").cast("bigint").alias("n_probes"),
            F.sum(
                F.when(F.col("clabel") == F.col("qlabel"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_correct"),
        )
        .select(
            "label",
            "n_probes",
            "n_correct",
            F.expr(
                "CAST(n_correct * 1000000 DIV n_probes AS BIGINT)"
            ).alias("acc_ppm"),
        )
        .orderBy("label")
    )


@query(
    "q365_embedding_isotropy",
    oracle=f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), q AS (
  SELECT vec_id,
    list_transform(e, x -> CAST(FLOOR(x / {_NORM.format(a="e")}
      * 1000000) AS BIGINT)) AS qe
  FROM v
), coords AS (
  SELECT qe[i] AS c, i FROM q, unnest(range(1, 65)) AS r(i)
), svec AS (
  SELECT i, CAST(SUM(c) AS HUGEINT) AS s FROM coords GROUP BY i
), m AS (
  SELECT
    (SELECT CAST(COUNT(*) AS HUGEINT) FROM q) AS n,
    (SELECT CAST(SUM(s * s) AS HUGEINT) FROM svec) AS s2,
    (SELECT CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT)
     FROM coords) AS q2
)
SELECT CAST(n AS BIGINT) AS n, CAST(64 AS BIGINT) AS dim,
  CASE WHEN s2 - q2 >= 0
    THEN CAST((s2 - q2) // (n * (n - 1) * 1000)
      AS BIGINT)
    ELSE -CAST(((q2 - s2) + n * (n - 1) * 1000 - 1)
      // (n * (n - 1) * 1000) AS BIGINT) END AS mean_cos_ppb,
  CAST(q2 // (n * 1000000) AS BIGINT) AS norm_check_micro
FROM m
""",
)
def q365_embedding_isotropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-space isotropy: the MEAN PAIRWISE COSINE of the
    whole corpus, computed WITHOUT any pair join via the sum-vector
    identity Σ_{i≠j} <q_i, q_j> = |Σq|² − Σ|q|² — the anisotropy
    diagnostic (Ethayarajh '19; Mu & Viswanath '18) that explains
    why raw transformer embeddings cluster in a narrow cone (mean
    cosine ≫ 0) and retrieval improves after mean-centering; run it
    before and after any embedding post-processing step. Vectors
    are L2-normalized then FLOOR-quantized per coordinate to micro
    ints (one IEEE tree per coordinate — the q343 pattern), so the
    cross-term identity is exact integer arithmetic end-to-end.
    norm_check_micro ≈ 10⁶ confirms quantization fidelity. Columns:
    n, dim, mean_cos_ppb, norm_check_micro.

    Determinism: per-row quantization before any aggregation;
    exact HUGEINT/DECIMAL sums; portable signed floor for the
    (possibly negative) mean cosine.

    Scale: THE textbook shape — one narrow map then a 64-row vector
    aggregate; O(n·d) total, no shuffle beyond the dimension-sized
    rollup. The naive pairwise form is O(n²·d); this is the version
    that still runs on a 10-billion-vector corpus.
    """
    emb = table(spark, sf_dir, "embeddings")
    # one norm per row (a lambda-nested aggregate would re-evaluate
    # it per ELEMENT — measured 64x the arithmetic), and checkpoint
    # the quantized frame so the three consumers (sum-vector, norm
    # sum, count) share one computation of the transform
    q = (
        emb.select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
                "ed"
            ),
        )
        .select(
            "vec_id",
            "ed",
            F.expr(
                "sqrt(aggregate(ed, CAST(0.0 AS DOUBLE),"
                " (a, y) -> a + y * y))"
            ).alias("nrm"),
        )
        .select(
            "vec_id",
            F.expr(
                "transform(ed, x -> CAST(FLOOR(x / nrm * 1000000)"
                " AS BIGINT))"
            ).alias("qe"),
        )
        .transform(checkpoint)
    )
    coords = q.select(
        F.posexplode("qe").alias("i", "c")
    )
    svec = coords.groupBy("i").agg(
        F.sum(F.col("c").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s")
    )
    s2 = svec.agg(
        F.sum(F.col("s") * F.col("s")).cast("decimal(38,0)").alias("s2")
    )
    q2 = coords.agg(
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("q2")
    )
    n = q.agg(F.count("*").cast("decimal(38,0)").alias("n"))
    return (
        n.crossJoin(F.broadcast(s2))
        .crossJoin(F.broadcast(q2))
        .select(
            F.col("n").cast("bigint").alias("n"),
            F.lit(64).cast("bigint").alias("dim"),
            F.expr(
                "CASE WHEN s2 - q2 >= 0"
                " THEN CAST((s2 - q2) DIV (n * (n - 1) * 1000)"
                "   AS BIGINT)"
                " ELSE -CAST(((q2 - s2) + n * (n - 1) * 1000 - 1)"
                "   DIV (n * (n - 1) * 1000) AS BIGINT) END"
            ).alias("mean_cos_ppb"),
            F.expr("CAST(q2 DIV (n * 1000000) AS BIGINT)").alias(
                "norm_check_micro"
            ),
        )
    )
