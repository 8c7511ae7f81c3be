"""Pipeline-lifecycle catalog queries (round 4): corpus snapshot
diffing, SCD2 dimension history, SemDeDup-style embedding survivor
selection, join-key skew diagnostics, and BM25 relevance ranking.
All north-star extensions (not in the reference — no reference cite
possible), all oracle-checked.

Cross-engine determinism notes specific to this module:

- Snapshot comparison happens on md5 hex digests (identical
  lowercase hex in Spark and DuckDB), never on raw text.
- Per-term BM25 contributions are quantized to integer micro-units
  BEFORE the per-document sum, so the sum is exact integer addition
  (order-independent) in both engines — the q86/q96 quantized-score
  discipline. ln() is not IEEE-correctly-rounded, but a 1-ulp
  disagreement survives the 1e6 quantization only if the true value
  sits within ~1e-10 of a .5 micro-unit boundary.
- Window orderings carry a unique tie-break key (o_orderkey /
  user_id / doc_id); top-k cuts order by (metric, unique id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from car_insurance_data_pipeline_spark_spark.plans.catalog import query, table
from car_insurance_data_pipeline_spark_spark.session import checkpoint


@query(
    "q107_snapshot_diff",
    oracle="""
WITH a AS (
  SELECT doc_id, source, md5(text) AS h_old
  FROM documents WHERE doc_id % 10 != 0
), b AS (
  SELECT doc_id, source,
    md5(CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END) AS h_new
  FROM documents WHERE doc_id % 10 != 1
)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
  COALESCE(a.source, b.source) AS source,
  CASE WHEN a.doc_id IS NULL THEN 'added'
       WHEN b.doc_id IS NULL THEN 'removed'
       WHEN a.h_old != b.h_new THEN 'changed'
       ELSE 'unchanged' END AS status
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
""",
)
def q107_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — classify every document across two
    corpus versions as added / removed / changed / unchanged, the
    audit step between training-data releases. The two snapshots are
    derived deterministically from the fixture (v_old drops
    doc_id%10==0, v_new drops %10==1 and rewrites %7==0), so the
    oracle sees the same inputs.

    Scale: each side is reduced to (id, source, 32-byte digest)
    BEFORE the join — the full-outer join moves hashes, never text,
    and co-partitions on doc_id (one exchange per side; zero with
    bucketed snapshot tables). Classification is a narrow projection.
    """
    d = table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", "source", F.md5("text").alias("h_old")
    )
    new_text = F.when(
        F.col("doc_id") % 7 == 0, F.upper(F.col("text"))
    ).otherwise(F.col("text"))
    new = d.filter(F.col("doc_id") % 10 != 1).select(
        "doc_id", "source", F.md5(new_text).alias("h_new")
    )
    j = old.alias("a").join(
        new.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    return j.select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.coalesce(F.col("a.source"), F.col("b.source")).alias("source"),
        F.when(F.col("a.doc_id").isNull(), F.lit("added"))
        .when(F.col("b.doc_id").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


@query(
    "q108_scd2_history",
    oracle="""
WITH flagged AS (
  -- null-safe change detection: IS DISTINCT FROM treats NULL as a
  -- value of its own, so a NULL-priority row starts (and continues)
  -- its own run instead of silently merging into the previous one -
  -- a plain != would produce duplicate run_ids with nondeterministic
  -- interval closes. row_number()=1 pins the first run explicitly.
  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
    CASE WHEN row_number() OVER w = 1
           OR lag(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority
         THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), runs AS (
  SELECT o_custkey, o_orderdate, o_orderpriority,
    SUM(chg) OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flagged
), grouped AS (
  SELECT o_custkey, CAST(run_id AS INT) AS run_id,
    o_orderpriority AS priority,
    MIN(o_orderdate) AS vf,
    CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM runs GROUP BY o_custkey, run_id, o_orderpriority
)
SELECT o_custkey, run_id, priority,
  strftime(vf, '%Y-%m-%d') AS valid_from,
  strftime(lead(vf) OVER (PARTITION BY o_custkey ORDER BY run_id),
           '%Y-%m-%d') AS valid_to,
  CAST(CASE WHEN lead(vf) OVER (PARTITION BY o_custkey ORDER BY run_id)
            IS NULL THEN 1 ELSE 0 END AS INT) AS is_current,
  n_orders
FROM grouped
""",
)
def q108_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build — collapse each customer's order
    timeline into contiguous runs of o_orderpriority and emit
    validity intervals (valid_from, valid_to, is_current), the
    gaps-and-islands change-capture shape that complements q54's
    Type-1 upsert.

    Scale: both change-flag windows and the run groupBy key on
    o_custkey, so the whole history builds inside ONE exchange on
    customer (Spark reuses the partitioning across the lag window,
    the running sum, and the partial-agg groupBy); the interval
    close (lead over runs) operates on the collapsed run table,
    orders of magnitude smaller than the input.
    """
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # null-safe run detection (mirrors the oracle's IS DISTINCT
    # FROM): NULL priority is a run of its own, never merged
    flagged = o.select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority",
        F.when(
            (F.row_number().over(w) == 1)
            | ~F.lag("o_orderpriority")
            .over(w)
            .eqNullSafe(F.col("o_orderpriority")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    runs = flagged.select(
        "o_custkey", "o_orderdate", "o_orderpriority",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("run_id"),
    )
    grouped = runs.groupBy(
        "o_custkey",
        F.col("run_id").cast("int").alias("run_id"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.min("o_orderdate").alias("vf"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    w2 = Window.partitionBy("o_custkey").orderBy("run_id")
    nxt = F.lead("vf").over(w2)
    return grouped.select(
        "o_custkey", "run_id", "priority",
        F.date_format("vf", "yyyy-MM-dd").alias("valid_from"),
        F.date_format(nxt, "yyyy-MM-dd").alias("valid_to"),
        nxt.isNull().cast("int").alias("is_current"),
        "n_orders",
    )


@query(
    "q109_semdedup_survivors",
    oracle="""
WITH RECURSIVE v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), u AS (
  SELECT vec_id, e FROM v
  UNION ALL
  SELECT vec_id + 1000000, e FROM v WHERE vec_id % 10 = 0
), pairs AS (
  SELECT a.vec_id AS pa, b.vec_id AS pb
  FROM u a JOIN u b ON a.vec_id < b.vec_id
  WHERE ROUND(
      list_aggregate(list_transform(list_zip(a.e, b.e),
                                    x -> x[1] * x[2]), 'sum')
    / (sqrt(list_aggregate(list_transform(a.e, x -> x * x), 'sum'))
     * sqrt(list_aggregate(list_transform(b.e, x -> x * x), 'sum'))),
      5) >= 0.99
), edges AS (
  SELECT pa AS s, pb AS t FROM pairs UNION SELECT pb, pa FROM pairs
), reach(s, t) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges) AS nodes(s)
  UNION
  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
), comp AS (
  SELECT s AS vec_id, MIN(t) AS component FROM reach GROUP BY s
)
SELECT u.vec_id,
  COALESCE(c.component, u.vec_id) AS component,
  CAST(CASE WHEN COALESCE(c.component, u.vec_id) = u.vec_id
       THEN 1 ELSE 0 END AS INT) AS is_canonical
FROM u LEFT JOIN comp c USING (vec_id)
""",
)
def q109_semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style survivor selection — semantic near-duplicate
    PAIRS (sign-LSH buckets + exact cosine verification, same
    machinery as q72) fed through distributed connected components,
    every vector labeled with its cluster and a keep-one
    is_canonical flag. This is the full semantic-dedup REWRITE
    step: filter is_canonical = 1 and the corpus is deduplicated.
    Demonstrated on the planted-duplicate corpus (every 10th vector
    re-inserted under vec_id + 1e6) where LSH recall is exactly 1 at
    threshold 0.99, so the approximate path equals the oracle's
    brute-force closure.

    Scale: candidate generation shuffles (band_key, id) only, exact
    verification is an Arrow-batched block matmul within buckets, and
    the component step is O(log n) rounds over the EDGE list — the
    pipeline never materializes an all-pairs product or any
    driver-side graph.
    """
    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        connected_components,
    )
    from car_insurance_data_pipeline_spark_spark.operators.similarity import (
        embedding_dup_pairs_lsh,
    )

    emb = table(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    corpus = emb.select("vec_id", "embedding").unionByName(
        planted.select("vec_id", "embedding")
    )
    from car_insurance_data_pipeline_spark_spark.operators.similarity import (
        suggest_lsh_nbits,
    )

    # corpus-sized bucket space (round-5 weak-scaling fix; see
    # suggest_lsh_nbits — nbits=8 measured a 68× candidate-shuffle
    # blowup on 10× data)
    n = emb.count()
    pairs = embedding_dup_pairs_lsh(
        corpus, "vec_id", "embedding",
        threshold=0.99, dim=64,
        nbits=suggest_lsh_nbits(n + n // 10), n_bands=4, seed=42,
    )
    comp = connected_components(pairs, "vec_a", "vec_b")
    out = (
        corpus.select("vec_id")
        .join(comp, corpus["vec_id"] == comp["node"], "left")
        .select(
            "vec_id",
            F.coalesce(F.col("component"), F.col("vec_id")).alias("component"),
        )
    )
    return out.withColumn(
        "is_canonical", (F.col("vec_id") == F.col("component")).cast("int")
    )


@query(
    "q110_key_skew_report",
    oracle="""
WITH c AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id
), t AS (
  SELECT SUM(n) AS total, COUNT(*) AS n_keys FROM c
), top AS (
  SELECT user_id, n FROM c ORDER BY n DESC, user_id LIMIT 10
)
SELECT user_id, n,
  CAST(row_number() OVER (ORDER BY n DESC, user_id) AS INT) AS rank,
  CAST(n * 1000000 // total AS BIGINT) AS ppm,
  CAST(n * n_keys * 1000 // total AS BIGINT) AS x1000_vs_avg
FROM top, t
""",
)
def q110_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the planning companion to the
    salted join (q53): per-key row counts, the top-10 heavy hitters
    with rank, parts-per-million share, and size-vs-average ratio
    (×1000, integer). Running this before a big join tells you
    whether to salt, and which keys dominate. All ratios are exact
    integer arithmetic — no float division to disagree across
    engines.

    Scale: one partial-agg exchange builds the per-key counts; the
    totals reduce FROM those counts (no second scan) into a 1-row
    broadcast; the top-10 cut is TakeOrderedAndProject (no global
    sort), and the rank window runs over 10 rows.
    """
    e = table(spark, sf_dir, "events")
    # localCheckpoint: the per-key count table feeds BOTH the totals
    # reduce and the top-10 cut; without materializing it once, each
    # branch re-scans and re-shuffles the raw table. Eager checkpoint
    # (rather than persist) so the blocks are self-contained and the
    # ContextCleaner reclaims them when the result is dropped — a
    # bare .persist() here leaked one cached relation per invocation.
    # The materialized table is one row per distinct key — bounded by
    # key cardinality, not input size.
    counts = (
        e.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n"))
        .transform(checkpoint, eager=True)
    )
    totals = counts.agg(
        F.sum("n").alias("total"), F.count("*").alias("n_keys")
    )
    top = counts.orderBy(F.desc("n"), "user_id").limit(10)
    w = Window.orderBy(F.desc("n"), "user_id")
    return (
        top.join(F.broadcast(totals))
        .select(
            "user_id", "n",
            F.row_number().over(w).cast("int").alias("rank"),
            F.expr("n * 1000000L div total").cast("bigint").alias("ppm"),
            F.expr("n * n_keys * 1000L div total")
            .cast("bigint")
            .alias("x1000_vs_avg"),
        )
    )


# BM25 constants; the query term set is fixed so both engines filter
# the exploded token stream identically.
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("spark", "join", "filter")
# interpolated into the oracle's IN (...) so the Spark filter and the
# SQL can never drift apart (same regime as the k1/b constants)
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@query(
    "q111_bm25_rank",
    oracle=f"""
WITH toks AS (
  -- '' guard mirrors tokens(): empty/NULL docs contribute no terms
  SELECT doc_id, unnest(
    regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE trim(COALESCE(text, '')) != ''
), dl AS (
  -- doc length over ALL docs (empty/NULL -> 0), so n_docs and
  -- total_len cover the whole corpus in both engines
  SELECT doc_id,
    CASE WHEN trim(lower(COALESCE(text, ''))) = '' THEN CAST(0 AS BIGINT)
         ELSE CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+'))
              AS BIGINT) END AS dl
  FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_len
  FROM dl
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
  WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), contrib AS (
  SELECT tf.doc_id,
    CAST(ROUND(
      ln(1 + (n_docs - df + 0.5) / (df + 0.5))
      * (tf * ({_BM25_K1} + 1))
      / (tf + {_BM25_K1} * (1 - {_BM25_B}
         + {_BM25_B} * dl * n_docs / CAST(total_len AS DOUBLE)))
      * 1000000) AS BIGINT) AS score_micro
  FROM tf
  JOIN df USING (term) JOIN dl USING (doc_id), stats
)
SELECT doc_id, bm25_micro,
  CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS INT) AS rank
FROM (
  SELECT doc_id, CAST(SUM(score_micro) AS BIGINT) AS bm25_micro
  FROM contrib GROUP BY doc_id
  ORDER BY bm25_micro DESC, doc_id LIMIT 20
)
""",
)
def q111_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance ranking (k1=1.2, b=0.75) of the corpus against
    a fixed query term set — the retrieval-scoring step of a
    data-curation search loop; complements q61's TF-IDF with
    document-length normalization. Per-term scores are quantized to
    integer micro-units before the per-document sum, so the final
    score is exact integer addition in any aggregation order.

    Scale: the token explode is filtered to the query terms BEFORE
    the tf aggregation (the exploded stream shrinks to ~|terms|
    matches per doc immediately); doc lengths come from one narrow
    size() projection, corpus stats reduce to a 1-row broadcast, the
    df table is |terms| rows (broadcast), and the top-20 cut is
    TakeOrderedAndProject.
    """
    from car_insurance_data_pipeline_spark_spark.functions.text import (
        tokens,
    )

    d = table(spark, sf_dir, "documents")
    # tokens() gives ''/NULL docs ZERO terms (explode of an empty
    # array emits no rows) — the oracle's '' guard mirrors this
    toksafe = tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    toks = d.select("doc_id", F.explode(toksafe).alias("term"))
    dl = d.select(
        "doc_id", F.size(toksafe).cast("bigint").alias("dl")
    )
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
    )
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    contrib = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(
                    1
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (_BM25_K1 + 1))
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (
                        1
                        - _BM25_B
                        + _BM25_B
                        * F.col("dl")
                        * F.col("n_docs")
                        / F.col("total_len").cast("double")
                    )
                )
                * 1_000_000
            )
            .cast("bigint")
            .alias("score_micro"),
        )
    )
    scored = (
        contrib.groupBy("doc_id")
        .agg(F.sum("score_micro").cast("bigint").alias("bm25_micro"))
        .orderBy(F.desc("bm25_micro"), "doc_id")
        .limit(20)
    )
    w = Window.orderBy(F.desc("bm25_micro"), "doc_id")
    return scored.select(
        "doc_id", "bm25_micro", F.row_number().over(w).cast("int").alias("rank")
    )


@query(
    "q112_oversample",
    oracle="""
WITH g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source
), m AS (
  SELECT MAX(n) AS n_max FROM g
), w AS (
  SELECT source, ROUND(LEAST(3.0, CAST(n_max AS DOUBLE) / n), 6) AS w
  FROM g CROSS JOIN m
), c AS (
  SELECT d.doc_id, d.source,
    CAST(FLOOR(w.w) AS INT)
    + CASE WHEN CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)
                  AS INT) / 16777216.0 < w.w - FLOOR(w.w)
           THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN w USING (source)
)
SELECT doc_id, source, CAST(r.i AS INT) AS copy_idx, n_copies
FROM c, unnest(range(1, n_copies + 1)) AS r(i)
""",
)
def q112_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-repeat OVERSAMPLING — the other half of the mixture
    story (q75/q77/q87 subsample; this upsamples minority sources
    toward the largest one). Per-source weight w_s = min(3,
    n_max/n_s); every document materializes floor(w) copies plus one
    more iff its md5-uniform coin lands under the fractional part —
    so expected copies per source hit the target exactly while every
    individual row's multiplicity is deterministic and
    oracle-checkable. Columns: doc_id, source, copy_idx, n_copies.

    Scale: one tiny per-source count agg broadcasts back; the repeat
    is a narrow explode of a [1..n_copies] sequence — rows fan out
    in place with NO shuffle, and downstream consumers see copies
    pre-scattered across the same partitions as their originals.
    """
    from car_insurance_data_pipeline_spark_spark.functions.sampling import (
        md5_uniform,
    )

    d = table(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    m = g.agg(F.max("n").alias("n_max"))
    w = g.crossJoin(F.broadcast(m)).select(
        "source",
        F.round(
            F.least(
                F.lit(3.0), F.col("n_max").cast("double") / F.col("n")
            ),
            6,
        ).alias("w"),
    )
    n_copies = (
        F.floor("w").cast("int")
        + (md5_uniform("doc_id") < (F.col("w") - F.floor("w"))).cast("int")
    ).alias("n_copies")
    c = d.join(F.broadcast(w), "source").select("doc_id", "source", n_copies)
    return c.select(
        "doc_id", "source",
        F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy_idx"),
        "n_copies",
    )


# q34's already-driver-proven pair-mining SQL, shared by the graph
# oracles (q113 PageRank, q137 label propagation) as their edge
# source: exact 3-shingle Jaccard >= 0.1 with the 1000-posting df-cut
_Q34_PAIRS_SQL = """
arr AS MATERIALIZED (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents
), sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS s
  FROM arr, unnest(range(1, len(a) - 1)) AS r(i)
), sizes AS MATERIALIZED (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), ok AS MATERIALIZED (
  SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000
), inter AS MATERIALIZED (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  JOIN ok ON ok.s = x.s
  GROUP BY 1, 2
), pairs AS MATERIALIZED (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.1
)"""


def _pagerank_oracle_sql(n_iter: int = 10, damping: float = 0.85) -> str:
    """Unrolled power-iteration oracle for q113 (round-5 upgrade
    from rows-only to oracle-bearing, ppm-quantized).

    Edges are q34's exact-Jaccard pairs (the SQL below is q34's
    already-driver-proven oracle), both directions — a SYMMETRIC
    graph, so every node has out-edges and the dangling term is
    exactly zero in both engines. Each unrolled CTE applies
    r' = (1-d)/n + d * Σ_in r(u)/deg(u), the same recurrence as
    operators/graph.py:pagerank (both its numpy driver path and the
    distributed loop).

    Why quantized output can hash-match a float fixpoint: the only
    cross-engine difference is floating-point SUM ORDER inside each
    iteration's contribution aggregate — a ~1-ulp (1e-16 relative)
    wobble that compounds to <1e-12 ppm after 10 iterations, while
    ROUND(rank*1e6) only disagrees within half-a-ppm of a .5
    boundary; ranks carry non-dyadic factors (1/n, 0.85^k), so
    landing that close to a boundary is measure-zero. Verified
    bit-exact against the numpy path at sf0.01/sf0.001."""
    q34_pairs = _Q34_PAIRS_SQL
    parts = [
        "WITH "
        + q34_pairs
        + """,
edges AS MATERIALIZED (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS t FROM pairs
), deg AS MATERIALIZED (
  SELECT s, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY s
), nodes AS MATERIALIZED (
  SELECT DISTINCT s AS node FROM edges
), nn AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
), r0 AS MATERIALIZED (
  SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes
)"""
    ]
    prev = "r0"
    for i in range(1, n_iter + 1):
        parts.append(
            f""",
r{i} AS MATERIALIZED (
  SELECT nodes.node,
    (SELECT (1.0 - {damping}) / n FROM nn)
      + {damping} * COALESCE(c.c, 0.0) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.t AS node, SUM(r.rank / d.deg) AS c
    FROM edges e JOIN {prev} r ON e.s = r.node JOIN deg d ON e.s = d.s
    GROUP BY e.t
  ) c ON nodes.node = c.node
)"""
        )
        prev = f"r{i}"
    parts.append(
        f"""
SELECT node, CAST(ROUND(rank * 1000000) AS BIGINT) AS rank_ppm
FROM {prev}"""
    )
    return "".join(parts)


@query("q113_pagerank_centrality", oracle=_pagerank_oracle_sql(10))
def q113_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-dup similarity graph (q34's
    jaccard pairs, both directions) — ranks the most CENTRAL
    document of each dup cluster as its representative, the
    centrality-based alternative to q73's min-id and q88's
    max-quality survivor rules. Columns: node, rank_ppm — the
    fixpoint ranks (which sum to 1 over the pair graph's nodes)
    quantized to integer parts-per-million for cross-engine
    hash-stability (see _pagerank_oracle_sql for why the .5
    rounding boundary is safe); operators/graph.py:pagerank is
    additionally equality-tested against a numpy power iteration in
    tests/test_graph.py.
    """
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        jaccard_pairs,
    )
    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        pagerank,
    )

    d = table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        d, "doc_id", "text", k=3, threshold=0.1, max_postings=1000
    )
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    ranks = pagerank(sym, n_iter=10)
    return ranks.select(
        "node",
        F.round(F.col("rank") * F.lit(1000000.0), 0)
        .cast("bigint")
        .alias("rank_ppm"),
    )


@query(
    "q114_mad_outliers",
    oracle="""
WITH med AS (
  SELECT lang, quantile_cont(n_chars, 0.5) AS med
  FROM documents GROUP BY lang
), j AS (
  SELECT d.doc_id, d.lang, d.n_chars, med.med,
    ABS(d.n_chars - med.med) AS absdev
  FROM documents d JOIN med USING (lang)
), mad AS (
  SELECT lang, quantile_cont(absdev, 0.5) AS mad FROM j GROUP BY lang
)
SELECT j.doc_id, j.lang, j.n_chars, j.med, m.mad,
  -- NULL measurement -> NULL verdict (unknown), matching Spark's
  -- three-valued (NULL > x) semantics; a bare CASE would coerce the
  -- NULL comparison to 0 and disagree cross-engine
  CAST(CASE WHEN j.absdev IS NULL THEN NULL
       WHEN j.absdev > 3 * 1.4826 * m.mad
       THEN 1 ELSE 0 END AS INT) AS is_outlier
FROM j JOIN mad m USING (lang)
""",
)
def q114_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection: flag documents whose
    length deviates from the per-language median by more than
    3 × 1.4826 × MAD — the anomaly-detection step of a DQ pipeline
    (median/MAD are immune to the very outliers they hunt, unlike
    mean/stddev z-scores). Composes with q103's pandas-UDAF MAD:
    this is the pure-JVM exact form with a hard oracle.

    Determinism: n_chars is integral, so interpolated medians are
    exact binary fractions (x or x.5) in BOTH engines; |x − med|,
    the MAD, and the 3·1.4826·mad product are then exact-double
    identical cross-engine — no rounding needed anywhere.

    Scale: two grouped EXACT percentiles (each buffers one group's
    values — the honest cost of exact medians; swap in
    percentile_approx (q92's sketch) for the 100 TB path, identical
    plan shape) + two broadcast joins of |langs|-row stats back to
    the corpus; the corpus itself never shuffles.
    """
    d = table(spark, sf_dir, "documents")
    med = d.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.5)).alias("med")
    )
    j = d.join(F.broadcast(med), "lang").select(
        "doc_id", "lang", "n_chars", "med",
        F.abs(F.col("n_chars") - F.col("med")).alias("absdev"),
    )
    mad = j.groupBy("lang").agg(F.percentile("absdev", F.lit(0.5)).alias("mad"))
    return j.join(F.broadcast(mad), "lang").select(
        "doc_id", "lang", "n_chars", "med", "mad",
        (F.col("absdev") > 3 * 1.4826 * F.col("mad"))
        .cast("int")
        .alias("is_outlier"),
    )


@query(
    "q115_retention_cohorts",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
), c AS (
  SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id
)
SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM e JOIN c USING (user_id)
GROUP BY c.cohort_day, e.day - c.cohort_day
""",
)
def q115_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention analytics: users grouped by first-seen day,
    counted distinct on each day-offset of later activity — the
    retention-triangle table behind every product-analytics
    dashboard. Day arithmetic is integer floor-division of epoch
    micros (timezone-free, exact cross-engine).

    Scale: one exchange on user_id serves BOTH the cohort min-agg
    and the self-join (co-partitioned), then the (cohort, offset)
    roll-up aggregates distinct users with partial aggregation. The
    cohort table is one row per user — the join never broadcasts at
    scale but stays co-located with the event shuffle.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    # FLOOR division, all-integer: Spark's `div` truncates toward
    # zero, which diverges from DuckDB's `//` (floor) for pre-1970
    # timestamps; subtracting the nonnegative pmod first makes the
    # dividend an exact multiple, where truncation == floor.
    e = events_with_us(spark, sf_dir).select(
        "user_id",
        F.expr(
            "(ts_us - pmod(ts_us, 86400000000)) div 86400000000"
        ).alias("day"),
    )
    c = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        e.join(c, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    )


@query(
    "q117_bloom_prefilter_join",
    oracle="""
SELECT l_returnflag,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  CAST(SUM(TRY_CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)
    AS revenue
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
GROUP BY l_returnflag
""",
)
def q117_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pre-filtered semi-join: lineitem rows for urgent orders,
    rolled up per return flag. The urgent-order key set aggregates
    into a 16 KB bitmap probed in lineitem's SCAN stage, so ~80% of
    the fact table dies before the join exchange; the closing exact
    semi-join removes bloom false positives, making the result
    identical to a plain semi-join — the oracle checks exactly that.
    This is the explicit form of the runtime row-level filtering
    Spark's optimizer injects only under its own heuristics.

    Scale: the bitmap is fixed-size regardless of fact-table volume
    (resize n_bits to the DIM side's key count), the probe is k
    hashes + k array lookups per row inside codegen, and the
    pre-filter multiplies the join's shuffle volume by the true
    selectivity instead of 1.
    """
    from car_insurance_data_pipeline_spark_spark.operators.bloom import (
        bloom_prefilter_semi_join,
    )
    from car_insurance_data_pipeline_spark_spark.plans.relational import dsum

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    semi = bloom_prefilter_semi_join(li, o, "l_orderkey", "o_orderkey")
    return semi.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_items"),
        dsum(F.col("l_extendedprice")).alias("revenue"),
    )


@query(
    "q120_moving_window_range",
    oracle="""
SELECT o_custkey, o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
  CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(27,6))) OVER wr AS DOUBLE)
    AS spend_30d,
  CAST(COUNT(*) OVER wr AS BIGINT) AS n_orders_30d
FROM orders
WINDOW wr AS (
  PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
  RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW)
""",
)
def q120_moving_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window with a time-interval bound: per-customer
    30-day trailing spend and order count — the moving-window class
    q15's ROWS frames can't express (the frame is defined by VALUE
    distance over epoch micros, so same-timestamp rows always share
    a frame and no tie-break is needed for determinism). Decimal
    accumulation keeps the trailing sum exact cross-engine.

    Scale: one exchange on the partition key; the range frame is
    evaluated with a sliding pointer over each partition's sort —
    O(n) per partition, state bounded by the 30-day span.
    """
    o = table(spark, sf_dir, "orders")
    ts_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        " CAST(o_orderdate AS TIMESTAMP_NTZ))"
    )
    wr = (
        Window.partitionBy("o_custkey")
        .orderBy(ts_us)
        .rangeBetween(-30 * 86_400 * 1_000_000, Window.currentRow)
    )
    return o.select(
        "o_custkey", "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.sum(F.col("o_totalprice").try_cast("decimal(27,6)"))
        .over(wr)
        .cast("double")
        .alias("spend_30d"),
        F.count("*").over(wr).cast("bigint").alias("n_orders_30d"),
    )


@query(
    "q121_grouping_sets",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
FROM orders
GROUP BY GROUPING SETS (
  (o_orderstatus, o_orderpriority), (o_orderstatus), (o_orderpriority), ())
""",
)
def q121_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with GROUPING() flags — the arbitrary
    multi-aggregation shape that rollup (prefix sets, q42) and cube
    (all subsets, q42) are special cases of; the grouping flags
    disambiguate a NULL group value from a rolled-up level. Runs
    through the engine's SQL surface (X2) — GROUPING SETS has no
    PySpark DataFrame API.

    Scale: Spark expands the sets with a single Expand node feeding
    one partial-aggregated exchange — cost is |sets| × input in map
    output, never |sets| scans.
    """
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("q121_orders")
    return spark.sql("""
SELECT o_orderstatus, o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
FROM q121_orders
GROUP BY GROUPING SETS (
  (o_orderstatus, o_orderpriority), (o_orderstatus), (o_orderpriority), ())
""")


@query(
    "q122_set_operations",
    oracle="""
WITH f AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
), u AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderpriority = '1-URGENT'
)
SELECT 'both' AS segment, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM u)
UNION ALL
SELECT 'f_only', CAST(COUNT(*) AS BIGINT)
FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM u)
UNION ALL
SELECT 'urgent_only', CAST(COUNT(*) AS BIGINT)
FROM (SELECT o_custkey FROM u EXCEPT SELECT o_custkey FROM f)
""",
)
def q122_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set algebra (completing §2.7 beyond
    union+distinct): customer segments by finished-order vs
    urgent-order membership. Columns: segment, n_customers.

    Scale: each set op compiles to an aggregate-style hash
    exchange on the key — same cost class as distinct; no joins.
    """
    o = table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    u = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )

    def seg(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("segment"),
            F.count("*").cast("bigint").alias("n_customers"),
        )

    return (
        seg(f.intersect(u), "both")
        .unionByName(seg(f.subtract(u), "f_only"))
        .unionByName(seg(u.subtract(f), "urgent_only"))
    )


_FUNNEL_STEP_US = 86_400_000_000  # 24 h between consecutive steps


@query(
    "q123_funnel_conversion",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
), v AS (
  SELECT user_id, MIN(us) AS v_us FROM e
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(us) AS c_us FROM e JOIN v USING (user_id)
  WHERE event_type = 'click'
    AND us > v_us AND us <= v_us + {_FUNNEL_STEP_US}
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(us) AS p_us FROM e JOIN c USING (user_id)
  WHERE event_type = 'purchase'
    AND us > c_us AND us <= c_us + {_FUNNEL_STEP_US}
  GROUP BY e.user_id
), s AS (
  SELECT 1 AS step, 'view' AS step_name,
    (SELECT COUNT(*) FROM v) AS n_users
  UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM c)
  UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM p)
)
SELECT CAST(step AS INT) AS step, step_name,
  CAST(n_users AS BIGINT) AS n_users,
  CAST(CASE WHEN step = 1 THEN 1000000
       ELSE n_users * 1000000
            // NULLIF(LAG(n_users) OVER (ORDER BY step), 0)
       END AS BIGINT) AS conv_ppm
FROM s
""",
)
def q123_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered multi-step funnel (view → click → purchase, each step
    within 24 h of the previous): per-step reached-user counts and
    step-over-step conversion in integer ppm. The batch companion to
    the streaming funnel join (q100) — product-analytics surface over
    the events stream table.

    Cross-engine determinism: all event-time arithmetic is integer
    epoch-µs; conversion is integer floor-division to ppm (both
    engines divide exact BIGINTs).

    Scale: three aggregations, each shuffling on user_id (uniform,
    high-cardinality); each step joins only the survivors of the
    previous step (monotonically shrinking), and every join is
    key-co-partitioned with the groupBy that follows it. The final
    frame is three metadata rows — the lag window runs on 3 rows.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    e = events_with_us(spark, sf_dir).select("user_id", "event_type", "ts_us")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("v_us"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts_us") > F.col("v_us"))
            & (F.col("ts_us") <= F.col("v_us") + F.lit(_FUNNEL_STEP_US))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("c_us"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts_us") > F.col("c_us"))
            & (F.col("ts_us") <= F.col("c_us") + F.lit(_FUNNEL_STEP_US))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("p_us"))
    )

    def step(df: DataFrame, n: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(n).cast("int").alias("step"),
            F.lit(name).alias("step_name"),
            F.count("*").cast("bigint").alias("n_users"),
        )

    s = (
        step(v, 1, "view")
        .unionByName(step(c, 2, "click"))
        .unionByName(step(p, 3, "purchase"))
    )
    # `div` is exact BIGINT division (DuckDB `//` on positives) — a
    # double-divide-then-cast here could truncate across an integer
    # boundary when the float quotient rounds up. nullif guards an
    # empty upstream step (ppm is NULL, not a divide error).
    return s.select(
        "step",
        "step_name",
        "n_users",
        F.expr(
            "CASE WHEN step = 1 THEN 1000000"
            " ELSE (n_users * 1000000)"
            "      div nullif(lag(n_users) over (order by step), 0) END"
        )
        .cast("bigint")
        .alias("conv_ppm"),
    )


@query(
    "q126_incremental_agg_merge",
    oracle="""
SELECT o_custkey AS custkey,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total_spend,
  CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS first_order,
  CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS last_order,
  CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)
    AS avg_spend
FROM orders GROUP BY o_custkey
""",
)
def q126_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (materialized-view merge):
    per-customer order stats kept as a mergeable partial-agg state.
    The plan aggregates the pre-1998 "base" snapshot and the 1998+
    "delta" batch SEPARATELY, then merges the two states with a
    full-outer join + monoid arithmetic (count add, exact decimal
    add, min/least, max/greatest) — the daily-ingest pattern that
    avoids rescanning the historical corpus. The oracle recomputes
    from scratch over all orders, so the hash match proves
    merge(agg(base), agg(delta)) == agg(base ∪ delta) column for
    column.

    Cross-engine determinism: totals stay DECIMAL through both
    partial aggregates AND the merge (decimal addition is exact and
    associative), cast to double only at the end — merging doubles
    instead would not equal the recompute bit-for-bit. Dates emit as
    ISO strings.

    Scale: base and delta aggregate with map-side partial combine and
    shuffle only (custkey, state); the merge join is key-co-
    partitioned with those aggregates. At 100 TB the base state is a
    bucketed table on custkey, so a day's merge shuffles only the
    delta — the base side is read shuffle-free.
    """
    o = table(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    split = F.lit("1998-01-01").cast("date")
    dec = F.col("o_totalprice").try_cast("decimal(27,6)")

    def partial(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.count("*").cast("bigint").alias(f"n_{tag}"),
            F.sum(dec).alias(f"sum_{tag}"),
            F.min(od).alias(f"min_{tag}"),
            F.max(od).alias(f"max_{tag}"),
        )

    base = partial(o.filter(od < split), "a")
    delta = partial(o.filter(od >= split), "b")
    zero = F.lit(0).cast("decimal(37,6)")
    merged = base.join(delta, "custkey", "full_outer").select(
        "custkey",
        (
            F.coalesce("n_a", F.lit(0)) + F.coalesce("n_b", F.lit(0))
        ).cast("bigint").alias("n_orders"),
        (F.coalesce("sum_a", zero) + F.coalesce("sum_b", zero)).alias(
            "total_dec"
        ),
        F.least(
            F.coalesce("min_a", "min_b"), F.coalesce("min_b", "min_a")
        ).alias("first_d"),
        F.greatest(
            F.coalesce("max_a", "max_b"), F.coalesce("max_b", "max_a")
        ).alias("last_d"),
    )
    return merged.select(
        "custkey",
        "n_orders",
        F.col("total_dec").cast("double").alias("total_spend"),
        F.date_format("first_d", "yyyy-MM-dd").alias("first_order"),
        F.date_format("last_d", "yyyy-MM-dd").alias("last_order"),
        (F.col("total_dec").cast("double") / F.col("n_orders")).alias(
            "avg_spend"
        ),
    )


def _label_propagation_oracle_sql(n_iter: int = 5) -> str:
    """Unrolled synchronous-LPA oracle for q137 (round 5): labels
    init to node ids; each unrolled CTE reassigns every node the
    most frequent neighbor label (ties → smallest label, the same
    (cnt DESC, label ASC) order as the Spark argmax struct). Pure
    integer arithmetic — parity is exact by construction."""
    parts = [
        "WITH "
        + _Q34_PAIRS_SQL
        + """,
edges AS MATERIALIZED (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS t FROM pairs
), l0 AS MATERIALIZED (
  SELECT DISTINCT s AS node, s AS label FROM edges
)"""
    ]
    prev = "l0"
    for i in range(1, n_iter + 1):
        parts.append(
            f""",
l{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT e.s AS node, l.label,
      row_number() OVER (PARTITION BY e.s
                         ORDER BY COUNT(*) DESC, l.label) AS rn
    FROM edges e JOIN {prev} l ON e.t = l.node
    GROUP BY e.s, l.label
  ) WHERE rn = 1
)"""
        )
        prev = f"l{i}"
    parts.append(f"""
SELECT node, label FROM {prev}""")
    return "".join(parts)


@query("q137_label_propagation", oracle=_label_propagation_oracle_sql(5))
def q137_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the near-dup similarity graph (q34's
    jaccard pairs, undirected) via 5 rounds of SYNCHRONOUS label
    propagation — the third graph analytic next to q73's components
    (which merge everything reachable) and q113's centrality (which
    ranks within a cluster): LPA splits a connected component into
    densely-linked template groups, the granularity a dedup or
    mixture pipeline wants when one giant component spans several
    distinct boilerplate families. Columns: node, label.

    Parity is EXACT by construction — synchronous updates, fixed
    round count, integer counts/ids, (cnt DESC, label ASC)
    tie-break — no float tolerance argument anywhere (contrast
    q113's ppm quantization).
    """
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        jaccard_pairs,
    )
    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        label_propagation,
    )

    d = table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        d, "doc_id", "text", k=3, threshold=0.1, max_postings=1000
    )
    return label_propagation(
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
        n_iter=5,
    )


@query(
    "q142_incremental_join_merge",
    oracle="""
SELECT o.o_orderpriority AS priority,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(SUM(TRY_CAST(l.l_extendedprice * (1 - l.l_discount)
           AS DECIMAL(27,6))) AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
""",
)
def q142_incremental_join_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance — the companion to q126's
    aggregate merge: with both sides of a materialized join view
    receiving deltas, R⋈S = R₀⋈S₀ ∪ R₀⋈ΔS ∪ ΔR⋈S₀ ∪ ΔR⋈ΔS. The
    plan splits orders on o_orderdate and lineitem on l_shipdate
    (independent predicates, so each side is a true disjoint
    base/delta partition), computes the FOUR joins explicitly,
    unions them, and aggregates. The oracle recomputes the join
    from scratch — the hash match proves the delta algebra loses
    and duplicates nothing, column for column.

    Cross-engine determinism: revenue rows cast to DECIMAL(27,6)
    BEFORE the sum (exact, order-independent addition across the
    four union legs), to double at the end.

    Scale: this is the daily-ingest join pattern — at 100 TB, R₀⋈S₀
    is the stored view (not recomputed; here it is one of the four
    legs so the identity is verifiable end-to-end), and the three
    delta legs shuffle only delta-sized inputs against bucketed
    bases. All four joins share the orderkey hash partitioning, so
    AQE coalesces them into one exchange family rather than four
    full shuffles of the same base.
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    o_split = F.col("o_orderdate").cast("date") < F.lit("1997-07-01").cast(
        "date"
    )
    l_split = F.col("l_shipdate").cast("date") < F.lit("1996-01-01").cast(
        "date"
    )
    r0, dr = o.filter(o_split), o.filter(~o_split)
    s0, ds = li.filter(l_split), li.filter(~l_split)

    def leg(r: DataFrame, s: DataFrame) -> DataFrame:
        return r.join(s, r["o_orderkey"] == s["l_orderkey"]).select(
            "o_orderpriority",
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            .try_cast("decimal(27,6)")
            .alias("rev"),
        )

    merged = (
        leg(r0, s0)
        .unionByName(leg(r0, ds))
        .unionByName(leg(dr, s0))
        .unionByName(leg(dr, ds))
    )
    return merged.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("rev").cast("double").alias("revenue"),
    )


@query(
    "q149_rolling_median",
    oracle="""
SELECT event_id, event_type,
  CAST(ROUND(value * 100) AS BIGINT) AS value_c,
  quantile_disc(CAST(ROUND(value * 100) AS BIGINT), 0.5) OVER (
    PARTITION BY event_type ORDER BY event_id
    ROWS BETWEEN 14 PRECEDING AND CURRENT ROW) AS med15_c
FROM events
""",
)
def q149_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 15-row EXACT median of the event value per event type
    — the robust-smoothing companion to q120's range-frame sums
    (medians resist the outliers that q114 flags; a rolling median
    is the standard despiking filter for sensor/metric streams).
    Values are integer cents, order is the unique event_id, so the
    discrete median (lower-of-two for even frames) is deterministic;
    Spark picks element (n+1) div 2 of the sorted frame, which is
    exactly DuckDB's windowed quantile_disc(0.5).

    Scale: one exchange on event_type, then an O(w log w)-per-row
    sorted-frame pick inside the partition sort — fine for small
    fixed windows; for large windows the two-heap / indexable-
    skiplist kernel drops into the same window shape. No UDF:
    collect_list + array_sort + element_at are all codegen'd.
    Columns: event_id, event_type, value_c, med15_c.
    """
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(-14, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list(cents).over(w))
    return ev.select(
        "event_id",
        "event_type",
        cents.alias("value_c"),
        F.element_at(
            arr, ((F.size(arr) + 1) / 2).cast("int")
        ).alias("med15_c"),
    )


_EWMA_LAGS = 16


def _ewma_oracle_sql(lags: int) -> str:
    # weights are spelled CAST(... AS DOUBLE): DuckDB parses plain
    # decimal literals as DECIMAL, and decimal-typed weight products
    # round differently from the double-typed Spark pipeline
    terms = " + ".join(
        f"COALESCE(lag(CAST(ROUND(value * 100) AS BIGINT), {i}) OVER w, 0)"
        f" * CAST({2.0 ** -(i + 1)!r} AS DOUBLE)"
        for i in range(lags)
    )
    return f"""
SELECT event_id, event_type,
  CAST(ROUND(value * 100) AS BIGINT) AS value_c,
  {terms} AS ewma_c
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
"""


@query("q153_ewma", oracle=_ewma_oracle_sql(_EWMA_LAGS))
def q153_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average with α = 1/2, truncated
    at 16 lags and zero-padded before the series start — the
    smoothing companion to q149's robust rolling median. The decay
    weights are negative powers of two and the inputs are integer
    cents, so every term v·2^-(i+1) is an exact dyadic rational and
    the 16-term sum stays inside the 53-bit mantissa: the result is
    BIT-exact, independent of engine and summation order — no
    quantization step needed, unlike general-α EWMA (which is why
    the truncated power-of-two form is the cross-engine-verifiable
    one; untruncated recursive EWMA is a one-line window change with
    the same plan shape but float-order sensitivity).

    Scale: one exchange on event_type; the 16 lag reads share one
    window sort — Spark collapses same-window functions into a
    single WindowExec pass. Columns: event_id, event_type, value_c,
    ewma_c.
    """
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = Window.partitionBy("event_type").orderBy("event_id")
    ewma = None
    for i in range(_EWMA_LAGS):
        term = F.coalesce(F.lag(cents, i).over(w), F.lit(0)) * F.lit(
            2.0 ** -(i + 1)
        )
        ewma = term if ewma is None else ewma + term
    return table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        cents.alias("value_c"),
        ewma.alias("ewma_c"),
    )


# --------------------------------------------------------------------------
# q351: rendezvous (HRW) sharding + minimal-movement rebalance audit
# --------------------------------------------------------------------------


@query(
    "q351_rendezvous_rebalance",
    oracle="""
WITH docs AS (
  SELECT doc_id FROM documents
), own8 AS (
  SELECT doc_id, s AS shard8 FROM (
    SELECT d.doc_id, g.s,
      ROW_NUMBER() OVER (PARTITION BY d.doc_id
        ORDER BY md5(CAST(d.doc_id AS VARCHAR) || ':' ||
                     CAST(g.s AS VARCHAR)) DESC, g.s) AS rn
    FROM docs d CROSS JOIN (SELECT unnest(range(8)) AS s) g
  ) WHERE rn = 1
), own9 AS (
  SELECT doc_id, s AS shard9 FROM (
    SELECT d.doc_id, g.s,
      ROW_NUMBER() OVER (PARTITION BY d.doc_id
        ORDER BY md5(CAST(d.doc_id AS VARCHAR) || ':' ||
                     CAST(g.s AS VARCHAR)) DESC, g.s) AS rn
    FROM docs d CROSS JOIN (SELECT unnest(range(9)) AS s) g
  ) WHERE rn = 1
), j AS (
  SELECT o8.doc_id, o8.shard8, o9.shard9
  FROM own8 o8 JOIN own9 o9 ON o8.doc_id = o9.doc_id
), sizes AS (
  SELECT CAST(MAX(cnt) AS BIGINT) AS max_shard9,
    CAST(MIN(cnt) AS BIGINT) AS min_shard9
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM j GROUP BY shard9)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_moved,
  CAST(SUM(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) * 1000000
    // COUNT(*) AS BIGINT) AS moved_ppm,
  CAST(SUM(CASE WHEN shard8 <> shard9 AND shard9 <> 8
    THEN 1 ELSE 0 END) AS BIGINT) AS n_misplaced,
  (SELECT max_shard9 FROM sizes) AS max_shard9,
  (SELECT min_shard9 FROM sizes) AS min_shard9
FROM j
""",
)
def q351_rendezvous_rebalance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding with a
    minimal-movement rebalance audit — the 100 TB shard-assignment
    primitive q90's hash-mod sharding lacks: under HRW, growing the
    cluster 8 → 9 shards moves ONLY the keys whose new argmax is the
    new shard (expected 1/9 ≈ 111,111 ppm), whereas hash-mod
    reshuffles ~8/9 of the corpus. Owner = argmax over shards of
    md5(key:shard) (deterministic hex-string order, shard-id
    tie-break); the audit reports the moved fraction against that
    theoretical floor plus the count of ILLEGALLY moved keys
    (moved but not to the new shard — always 0 for a correct HRW,
    making the invariant part of the result contract) and the new
    balance extremes. Columns: n_docs, n_moved, moved_ppm,
    n_misplaced, max_shard9, min_shard9.

    Determinism: md5 on both engines produces identical hex; string
    order is byte order on [0-9a-f]; integer counts and floors.

    Scale: one 8-way and one 9-way bounded explode per key with an
    argmax window partitioned BY KEY — embarrassingly parallel, no
    corpus-sized shuffle except the final shard-size rollup.
    """
    d = table(spark, sf_dir, "documents").select("doc_id")

    def owner(n: int, out: str) -> DataFrame:
        shards = spark.range(n).select(F.col("id").cast("int").alias("s"))
        w = Window.partitionBy("doc_id").orderBy(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    F.col("s").cast("string"),
                )
            ).desc(),
            F.col("s"),
        )
        return (
            d.crossJoin(F.broadcast(shards))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("s").alias(out))
        )

    j = owner(8, "shard8").join(owner(9, "shard9"), "doc_id")
    sizes = (
        j.groupBy("shard9")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .agg(
            F.max("cnt").cast("bigint").alias("max_shard9"),
            F.min("cnt").cast("bigint").alias("min_shard9"),
        )
    )
    moved = F.when(F.col("shard8") != F.col("shard9"), 1).otherwise(0)
    mis = F.when(
        (F.col("shard8") != F.col("shard9")) & (F.col("shard9") != 8), 1
    ).otherwise(0)
    agg = j.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(moved).cast("bigint").alias("n_moved"),
        F.sum(mis).cast("bigint").alias("n_misplaced"),
    )
    return agg.crossJoin(F.broadcast(sizes)).select(
        "n_docs",
        "n_moved",
        F.expr("CAST(n_moved * 1000000 DIV n_docs AS BIGINT)").alias(
            "moved_ppm"
        ),
        "n_misplaced",
        "max_shard9",
        "min_shard9",
    )
