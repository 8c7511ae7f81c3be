"""Retrieval / model-evaluation batch two (round 7).

- q256 NDCG@10 — the graded-relevance ranking metric that AP (q250)
  and AUC (q233) don't cover: position-discounted gain against the
  ideal ordering, per user, with the exact integer mean.
- q257 Benjamini-Hochberg FDR screen — multiple-testing control
  over a grid of per-segment mean-difference hypotheses, with
  distribution-free (Chebyshev) p-values so the whole procedure is
  rational arithmetic: the step-up rule, not the p-values, is the
  operator under test.
- q258 simplified silhouette — clustering quality per label over
  the embeddings table (distance to own centroid vs nearest other
  centroid), the standard large-scale silhouette variant (exact
  silhouette is O(n²); the centroid form is the one production
  pipelines run).
- q259 isotonic (PAV) calibration — the monotone regression fit of
  observed positive rate over score bins via the minimax closed
  form iso_k = max_{i<=k} min_{j>=k} mean(y[i..j]) on the bounded
  bin table (Robertson et al.; public literature), companion to
  q234's reliability table.
- q260 PMI collocations — top-50 adjacent-bigram pointwise mutual
  information over the documents corpus (Church & Hanks '90;
  public literature), the classic phrase-mining / tokenizer-seed
  statistic.

Determinism (house rules): every cross-partition accumulation is
integer; transcendentals (ln, sqrt) appear only inside fixed
per-row IEEE trees that are FLOOR-quantized before any sum (q222 /
q235 precedent); integer DIV only on non-negative operands; means
of possibly-negative sums go through FLOOR-over-double; every
ordering carries a unique tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from car_insurance_data_pipeline_spark_spark.plans.catalog import query, table
from car_insurance_data_pipeline_spark_spark.session import (
    checkpoint,
    driver_frame,
)


@query(
    "q256_ndcg",
    oracle="""
WITH scored AS (
  SELECT user_id, event_id,
    CAST(ROUND(value * 1000) AS BIGINT) AS v,
    CASE event_type WHEN 'purchase' THEN 3 WHEN 'click' THEN 2
         WHEN 'view' THEN 1 ELSE 0 END AS gain
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
), ranked AS (
  SELECT user_id, gain,
    ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY v DESC, event_id) AS rn_act,
    ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY gain DESC, event_id) AS rn_ideal
  FROM scored
), per_user AS (
  SELECT user_id,
    SUM(CASE WHEN rn_act <= 10 AND gain > 0 THEN
      CAST(FLOOR(CAST(gain AS DOUBLE)
        * (ln(2.0) / ln(CAST(rn_act + 1 AS DOUBLE)))
        * 1000000000.0) AS BIGINT) ELSE 0 END) AS dcg_nano,
    SUM(CASE WHEN rn_ideal <= 10 AND gain > 0 THEN
      CAST(FLOOR(CAST(gain AS DOUBLE)
        * (ln(2.0) / ln(CAST(rn_ideal + 1 AS DOUBLE)))
        * 1000000000.0) AS BIGINT) ELSE 0 END) AS idcg_nano
  FROM ranked GROUP BY user_id
), nd AS (
  SELECT user_id,
    CAST(dcg_nano * 1000000 // idcg_nano AS BIGINT) AS ndcg_ppm
  FROM per_user WHERE idcg_nano > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
  CAST(SUM(ndcg_ppm) // COUNT(*) AS BIGINT) AS mean_ndcg_ppm,
  CAST(MIN(ndcg_ppm) AS BIGINT) AS min_ndcg_ppm,
  CAST(MAX(ndcg_ppm) AS BIGINT) AS max_ndcg_ppm
FROM nd
""",
)
def q256_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 treating each user's events as a retrieval list:
    the model score is the event value (descending, event_id
    tie-break), graded relevance purchase=3 / click=2 / view=1 /
    else 0, and the ideal ordering re-ranks the SAME user's events
    by gain. The metric every ranking pipeline reports next to AP —
    AP (q250) is binary-relevance; NDCG credits partially-relevant
    results by position. Columns: n_users, mean_ndcg_ppm,
    min_ndcg_ppm, max_ndcg_ppm.

    Determinism: both row_numbers carry the event_id tie-break;
    each discounted-gain term is one fixed IEEE tree
    (gain · ln2/ln(rank+1), ln is cross-engine stable — q61/q222
    precedent) FLOOR-quantized to NANO before the per-user integer
    sum — nano, not the house pico, because the NDCG ratio
    multiplies the sum by 10⁶ and a gain-3 top-10 at pico
    (1.4·10¹³·10⁶) overflows int64 under ANSI (caught live on the
    sf0.001 fixture; nano leaves a 650× margin); NDCG per user
    and the mean are integer divisions on non-negative operands.

    Scale: one exchange on user_id serves BOTH row_number windows
    (same partition key, two sorts); everything after is per-user
    integer arithmetic and a single global rollup. NDCG over 100 TB
    of impression logs is exactly this shape — no global sort, no
    per-query collect.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    ev = events_with_us(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    scored = ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 1000).cast("bigint").alias("v"),
        F.when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "view", 1)
        .otherwise(0)
        .alias("gain"),
    )
    wa = Window.partitionBy("user_id").orderBy(F.col("v").desc(), "event_id")
    wi = Window.partitionBy("user_id").orderBy(
        F.col("gain").desc(), "event_id"
    )
    ranked = scored.select(
        "user_id",
        "gain",
        F.row_number().over(wa).alias("rn_act"),
        F.row_number().over(wi).alias("rn_ideal"),
    )

    def term(rn: str) -> F.Column:
        return F.when(
            (F.col(rn) <= 10) & (F.col("gain") > 0),
            F.expr(
                f"CAST(FLOOR(CAST(gain AS DOUBLE)"
                f" * (ln(2.0) / ln(CAST({rn} + 1 AS DOUBLE)))"
                f" * 1000000000.0) AS BIGINT)"
            ),
        ).otherwise(F.lit(0).cast("bigint"))

    per_user = ranked.groupBy("user_id").agg(
        F.sum(term("rn_act")).alias("dcg_nano"),
        F.sum(term("rn_ideal")).alias("idcg_nano"),
    )
    nd = per_user.filter(F.col("idcg_nano") > 0).select(
        F.expr("CAST(dcg_nano * 1000000 DIV idcg_nano AS BIGINT)").alias(
            "ndcg_ppm"
        )
    )
    return nd.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.expr("CAST(SUM(ndcg_ppm) DIV COUNT(*) AS BIGINT)").alias(
            "mean_ndcg_ppm"
        ),
        F.min("ndcg_ppm").cast("bigint").alias("min_ndcg_ppm"),
        F.max("ndcg_ppm").cast("bigint").alias("max_ndcg_ppm"),
    )


_Z2_SQL = """
  CASE WHEN na >= 2 AND nb >= 2
        AND (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
          * (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) > 0
        AND ((CAST(s2a AS DOUBLE) - CAST(sa AS DOUBLE) * (CAST(sa AS DOUBLE) / na))
               / (na - 1) / na
             + (CAST(s2b AS DOUBLE) - CAST(sb AS DOUBLE) * (CAST(sb AS DOUBLE) / nb))
               / (nb - 1) / nb) > 0
  THEN LEAST(CAST(1000000 AS BIGINT), CAST(FLOOR(
    1000000.0
    * ((CAST(s2a AS DOUBLE) - CAST(sa AS DOUBLE) * (CAST(sa AS DOUBLE) / na))
         / (na - 1) / na
       + (CAST(s2b AS DOUBLE) - CAST(sb AS DOUBLE) * (CAST(sb AS DOUBLE) / nb))
         / (nb - 1) / nb)
    / ((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
       * (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb))
  ) AS BIGINT)) ELSE CAST(1000000 AS BIGINT) END
"""


@query(
    "q257_bh_fdr",
    oracle=f"""
WITH base AS (
  SELECT event_type,
    CAST((epoch_us(ts) // 86400000000) % 7 AS INT) AS dow,
    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
         THEN 'A' ELSE 'B' END AS variant,
    CAST(ROUND(value * 1000) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
), g AS (
  SELECT event_type, dow,
    CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(SUM(CASE WHEN variant = 'A' THEN v ELSE 0 END) AS BIGINT) AS sa,
    CAST(SUM(CASE WHEN variant = 'A' THEN v * v ELSE 0 END) AS BIGINT) AS s2a,
    CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
    CAST(SUM(CASE WHEN variant = 'B' THEN v ELSE 0 END) AS BIGINT) AS sb,
    CAST(SUM(CASE WHEN variant = 'B' THEN v * v ELSE 0 END) AS BIGINT) AS s2b
  FROM base GROUP BY 1, 2
), p AS (
  SELECT event_type, dow, {_Z2_SQL} AS p_ppm FROM g
), r AS (
  SELECT event_type, dow, p_ppm,
    CAST(ROW_NUMBER() OVER (ORDER BY p_ppm, event_type, dow) AS BIGINT) AS k,
    CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM p
), s AS (
  SELECT *,
    MAX(CASE WHEN p_ppm * m <= k * 100000 THEN k ELSE 0 END) OVER ()
      AS k_max
  FROM r
)
SELECT event_type, dow, p_ppm, k,
  CAST(CASE WHEN k <= k_max THEN 1 ELSE 0 END AS INT) AS rejected
FROM s
""",
)
def q257_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control (α = 0.1) over the
    grid of per-(event_type, day-of-week) mean-difference hypotheses
    between md5-routed A/B cohorts — the multiple-testing discipline
    a metrics pipeline needs the moment it tests 35 segments at
    once. The p-values are DISTRIBUTION-FREE Chebyshev bounds
    p = min(1, 1/z²) with z² = (mean_A−mean_B)²/(s²_A/n_A+s²_B/n_B):
    conservative but valid with no normality assumption, and —
    the point here — purely rational, so the step-up procedure
    (reject all hypotheses ranked ≤ the largest k with
    p_(k) ≤ k·α/m) runs as exact integer cross-multiplies
    (p_ppm·m ≤ k·100000). Columns: event_type, dow, p_ppm, k,
    rejected.

    Determinism: the day index is integer epoch-µs DIV (never
    engine dayofweek, whose week origin differs); cohort routing is
    the q218 md5 rule; all moments are exact integer sums of
    milli-quantized values; z² is one fixed IEEE tree FLOOR-capped
    to p_ppm; the BH rank carries the (event_type, dow) tie-break.

    Scale: the corpus collapses in ONE partial-agg exchange to the
    35-row hypothesis grid; ranking and the step-up window run on
    those 35 rows. FDR screening at 100 TB is a scan plus
    grid arithmetic — the m hypotheses, not the rows, bound all
    post-aggregation state.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    ev = events_with_us(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    base = ev.select(
        "event_type",
        F.expr("CAST((ts_us DIV 86400000000) % 7 AS INT)").alias("dow"),
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) <= "7",
            "A",
        )
        .otherwise("B")
        .alias("variant"),
        F.round(F.col("value") * 1000).cast("bigint").alias("v"),
    )
    a = F.col("variant") == "A"
    g = base.groupBy("event_type", "dow").agg(
        F.sum(F.when(a, 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(a, F.col("v")).otherwise(0)).cast("bigint").alias("sa"),
        F.sum(F.when(a, F.col("v") * F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("s2a"),
        F.sum(F.when(~a, 1).otherwise(0)).cast("bigint").alias("nb"),
        F.sum(F.when(~a, F.col("v")).otherwise(0)).cast("bigint").alias("sb"),
        F.sum(F.when(~a, F.col("v") * F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("s2b"),
    )
    p = g.select("event_type", "dow", F.expr(_Z2_SQL).alias("p_ppm"))
    wk = Window.orderBy("p_ppm", "event_type", "dow")
    r = p.select(
        "event_type",
        "dow",
        "p_ppm",
        F.row_number().over(wk).cast("bigint").alias("k"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("m"),
    )
    s = r.withColumn(
        "k_max",
        F.max(
            F.when(
                F.col("p_ppm") * F.col("m") <= F.col("k") * 100000, F.col("k")
            ).otherwise(F.lit(0).cast("bigint"))
        ).over(Window.partitionBy()),
    )
    return s.select(
        "event_type",
        "dow",
        "p_ppm",
        "k",
        (F.col("k") <= F.col("k_max")).cast("int").alias("rejected"),
    )


@query(
    "q258_silhouette",
    oracle="""
WITH vecs AS (
  SELECT vec_id, label,
    list_transform(embedding,
      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM embeddings
), comp AS (
  SELECT vec_id, label, i - 1 AS dim, q[i] AS qv
  FROM vecs, unnest(range(1, len(q) + 1)) AS r(i)
), cent AS (
  SELECT label, dim,
    CAST(FLOOR(CAST(SUM(qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
  FROM comp GROUP BY 1, 2
), d2 AS (
  SELECT p.vec_id, p.label AS own, c.label AS lbl,
    SUM((p.qv - c.c) * (p.qv - c.c)) AS d2
  FROM comp p JOIN cent c ON c.dim = p.dim
  GROUP BY 1, 2, 3
), ab AS (
  SELECT vec_id, own,
    MIN(CASE WHEN lbl = own THEN d2 END) AS a2,
    MIN(CASE WHEN lbl <> own THEN d2 END) AS b2
  FROM d2 GROUP BY 1, 2
), s AS (
  SELECT own AS label,
    CASE WHEN GREATEST(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE))) = 0
         THEN CAST(0 AS BIGINT)
         ELSE CAST(FLOOR(
           (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
           / GREATEST(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE)))
           * 1000000) AS BIGINT) END AS s_ppm
  FROM ab
)
SELECT CAST(label AS INT) AS label,
  CAST(COUNT(*) AS BIGINT) AS n_vecs,
  CAST(SUM(s_ppm) AS BIGINT) AS sum_sil_ppm,
  CAST(FLOOR(CAST(SUM(s_ppm) AS DOUBLE) / COUNT(*)) AS BIGINT)
    AS mean_sil_ppm
FROM s GROUP BY 1
""",
)
def q258_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per label over the embeddings table:
    s(x) = (b−a)/max(a,b) with a = distance to the OWN label
    centroid and b = distance to the NEAREST other centroid — the
    centroid form every production pipeline uses (exact silhouette
    is O(n²) pairwise; the simplified variant is the standard
    large-scale surrogate and equals it in the well-separated
    limit). The quality gate for q136's k-means / q226's label
    audit. Columns: label, n_vecs, sum_sil_ppm, mean_sil_ppm.

    Determinism: components micro-quantize at the scan; centroids
    are FLOOR-over-double of exact integer (sum, count) pairs —
    integer micro coordinates; per-row squared distances are then
    EXACT int64 sums (diff ≤ 2·10⁶ squared × 64 dims < 2⁶³); the
    ratio is one fixed IEEE tree (sqrt is correctly rounded)
    FLOOR-quantized per row before the integer label rollup; the
    mean goes through FLOOR-over-double because s_ppm can be
    negative (integer DIV truncation disagrees across engines
    below zero).

    Scale: the centroid table is |labels|·|dims| rows (640) built
    in one partial-agg exchange, then broadcast as ONE collected
    struct row; each vector scores against all centroids in a
    per-row higher-order-function fold (zip_with + aggregate, pure
    codegen) — no corpus-sized join, no second exchange beyond the
    per-label rollup. The same shape holds at 100 TB for any
    bounded label count.
    """
    e = table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding,"
            " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("q"),
    )
    comp = vecs.select("label", F.posexplode("q").alias("dim", "qv"))
    cent = (
        comp.groupBy("label", "dim")
        .agg(
            F.expr(
                "CAST(FLOOR(CAST(SUM(qv) AS DOUBLE) / COUNT(*)) AS BIGINT)"
            ).alias("c")
        )
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, c))),"
                " s -> s.c)"
            ).alias("carr")
        )
        .groupBy()
        .agg(F.collect_list(F.struct("label", "carr")).alias("cents"))
    )
    scored = vecs.crossJoin(F.broadcast(cent)).select(
        "label",
        F.expr(
            "transform(cents, ct -> struct(ct.label AS lbl,"
            " aggregate(zip_with(q, ct.carr, (x, c) -> (x - c) * (x - c)),"
            " CAST(0 AS BIGINT), (acc, t) -> acc + t) AS d2))"
        ).alias("dists"),
    )
    ab = scored.select(
        "label",
        F.expr("filter(dists, d -> d.lbl = label)[0].d2").alias("a2"),
        F.expr(
            "array_min(transform(filter(dists, d -> d.lbl != label),"
            " d -> d.d2))"
        ).alias("b2"),
    )
    s = ab.select(
        "label",
        F.expr(
            "CASE WHEN GREATEST(sqrt(CAST(a2 AS DOUBLE)),"
            " sqrt(CAST(b2 AS DOUBLE))) = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST(FLOOR("
            " (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))"
            " / GREATEST(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE)))"
            " * 1000000) AS BIGINT) END"
        ).alias("s_ppm"),
    )
    return s.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum("s_ppm").cast("bigint").alias("sum_sil_ppm"),
        F.expr(
            "CAST(FLOOR(CAST(SUM(s_ppm) AS DOUBLE) / COUNT(*)) AS BIGINT)"
        ).alias("mean_sil_ppm"),
    )


@query(
    "q259_isotonic_calibration",
    oracle="""
WITH scored AS (
  SELECT CAST(ROUND(value * 1000) AS BIGINT) AS v,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), lim AS (
  SELECT MIN(v) AS lo, MAX(v) AS hi FROM scored
), binned AS (
  SELECT CAST(CASE WHEN hi = lo THEN 0
    ELSE LEAST((v - lo) * 10 // (hi - lo), 9) END AS INT) AS bin, y
  FROM scored, lim
), b AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(y) AS BIGINT) AS n_pos
  FROM binned GROUP BY bin
), cum AS (
  SELECT bin, n, n_pos,
    SUM(n) OVER (ORDER BY bin) AS cn,
    SUM(n_pos) OVER (ORDER BY bin) AS cp
  FROM b
), pairs AS (
  SELECT i.bin AS i, j.bin AS j,
    CAST((j.cp - i.cp + i.n_pos) * 1000000
         // (j.cn - i.cn + i.n) AS BIGINT) AS rate_ppm
  FROM cum i JOIN cum j ON j.bin >= i.bin
), mins AS (
  SELECT k.bin AS bin, p.i,
    MIN(CASE WHEN p.j >= k.bin THEN p.rate_ppm END) AS mn
  FROM b k JOIN pairs p ON p.i <= k.bin
  GROUP BY 1, 2
), iso AS (
  SELECT bin, MAX(mn) AS iso_rate_ppm FROM mins GROUP BY bin
)
SELECT b.bin, b.n, b.n_pos,
  CAST(b.n_pos * 1000000 // b.n AS BIGINT) AS obs_rate_ppm,
  CAST(iso.iso_rate_ppm AS BIGINT) AS iso_rate_ppm
FROM b JOIN iso ON iso.bin = b.bin
""",
)
def q259_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration fit over the q234 reliability
    bins: the monotone non-decreasing rate curve closest to the
    observed per-bin positive rates, via the minimax closed form
    iso_k = max_{i≤k} min_{j≥k} pooled-rate(i..j) (equivalent to
    pool-adjacent-violators — Robertson/Wright/Dykstra, public
    literature). The standard model-calibration step after q234
    says the raw rates wiggle. Columns: bin, n, n_pos,
    obs_rate_ppm, iso_rate_ppm (monotone in bin — pinned by a
    pytest invariant).

    Determinism: pooled rates are integer cross-multiply
    floor-divisions on non-negative cumulative counts (quantized
    PAV: minimax over ppm-floored rates — both engines floor
    identically, so the fit is exactly reproducible); bin edges as
    in q234.

    Scale: the corpus collapses to the 10-row bin table in one
    exchange (plus the 2-value range anchor); the O(B²) = 55-row
    pair expansion and the minimax are bounded by the BIN count,
    never the data. Isotonic calibration of 100 TB of scores is a
    histogram pass plus constant-size arithmetic.
    """
    from car_insurance_data_pipeline_spark_spark.plans.statsops import (
        q234_calibration_bins,
    )

    b = (
        q234_calibration_bins(spark, sf_dir)
        .select("bin", "n", "n_pos")
        .transform(checkpoint)
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = b.select(
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(wc).alias("cn"),
        F.sum("n_pos").over(wc).alias("cp"),
    )
    ci = cum.select(
        F.col("bin").alias("i"),
        F.col("n").alias("ni"),
        F.col("n_pos").alias("pi"),
        F.col("cn").alias("cni"),
        F.col("cp").alias("cpi"),
    )
    cj = cum.select(
        F.col("bin").alias("j"),
        F.col("cn").alias("cnj"),
        F.col("cp").alias("cpj"),
    )
    pairs = ci.join(cj, F.col("j") >= F.col("i")).select(
        "i",
        "j",
        F.expr(
            "CAST((cpj - cpi + pi) * 1000000 DIV (cnj - cni + ni) AS BIGINT)"
        ).alias("rate_ppm"),
    )
    k = b.select(F.col("bin").alias("kbin"))
    mins = (
        k.join(pairs, F.col("i") <= F.col("kbin"))
        .groupBy("kbin", "i")
        .agg(
            F.min(
                F.when(F.col("j") >= F.col("kbin"), F.col("rate_ppm"))
            ).alias("mn")
        )
    )
    iso = mins.groupBy("kbin").agg(F.max("mn").alias("iso_rate_ppm"))
    return (
        b.join(iso, b["bin"] == iso["kbin"])
        .select(
            "bin",
            "n",
            "n_pos",
            F.expr("CAST(n_pos * 1000000 DIV n AS BIGINT)").alias(
                "obs_rate_ppm"
            ),
            F.col("iso_rate_ppm").cast("bigint").alias("iso_rate_ppm"),
        )
    )


@query(
    "q260_pmi_collocations",
    oracle="""
WITH arr AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents WHERE text IS NOT NULL
), uni AS (
  SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS c
  FROM arr, unnest(a) AS u(t) GROUP BY 1
), big AS (
  SELECT a[i] AS w1, a[i+1] AS w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM arr, unnest(range(1, len(a))) AS r(i)
  WHERE len(a) >= 2 GROUP BY 1, 2
), tot AS (
  SELECT (SELECT SUM(len(a)) FROM arr) AS nt,
         (SELECT SUM(len(a) - 1) FROM arr WHERE len(a) >= 2) AS nb
)
SELECT w1, w2, c12,
  CAST(FLOOR(ln(
    (CAST(c12 AS DOUBLE) * CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE))
    / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE) * CAST(nb AS DOUBLE))
  ) * 1000000000000) AS BIGINT) AS pmi_pico
FROM big
JOIN uni u1 ON u1.w = w1
JOIN uni u2 ON u2.w = w2, tot
WHERE c12 >= 5
ORDER BY pmi_pico DESC, w1, w2 LIMIT 50
""",
)
def q260_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-bigram collocations by pointwise mutual
    information (Church & Hanks '90; public literature):
    PMI = ln(p(w1w2)/(p(w1)p(w2))) with bigram probability over
    adjacent pairs and unigram probabilities over all tokens,
    df-cut c12 ≥ 5 (the standard low-count screen — PMI is
    unstable below it). The classic phrase-mining / tokenizer-seed
    statistic for a pretraining corpus. Columns: w1, w2, c12,
    pmi_pico.

    Determinism: counts are exact integers; PMI is one fixed IEEE
    tree (products of exactly-representable counts, ln stable —
    q61/q235 precedent) FLOOR-quantized to pico; the top-50 order
    carries the (w1, w2) tie-break.

    Scale: tokenize once per document; bigrams come from ONE
    transform(sequence(...)) over the token array (the measured-5×
    house pattern vs per-element slicing), so the corpus shuffles
    as (bigram, count) and (token, count) partial aggregates only;
    the two unigram attach joins run at vocab scale (AQE broadcasts
    the smaller side) and the top-50 is TakeOrdered, never a
    global sort.
    """
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("ws")
    ).transform(checkpoint)
    uni = toks.select(F.explode("ws").alias("w")).groupBy("w").agg(
        F.count("*").cast("bigint").alias("c")
    )
    big = (
        toks.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(2, size(ws)),"
                    " i -> struct(element_at(ws, i - 1) AS w1,"
                    " element_at(ws, i) AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c12"))
        .filter(F.col("c12") >= 5)
    )
    # totals come from the token arrays directly (NOT from the
    # c12-filtered bigram table — the normalizer must count ALL
    # bigrams, or the df-cut would shift every surviving pair's PMI)
    tot = toks.agg(F.sum(F.size("ws")).alias("nt")).crossJoin(
        toks.filter(F.size("ws") >= 2).agg(
            F.sum(F.size("ws") - 1).alias("nb")
        )
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            F.expr(
                "CAST(FLOOR(ln("
                " (CAST(c12 AS DOUBLE) * CAST(nt AS DOUBLE)"
                " * CAST(nt AS DOUBLE))"
                " / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)"
                " * CAST(nb AS DOUBLE))"
                ") * 1000000000000) AS BIGINT)"
            ).alias("pmi_pico"),
        )
        .orderBy(F.col("pmi_pico").desc(), "w1", "w2")
        .limit(50)
    )


@query(
    "q261_spearman",
    oracle="""
WITH f AS (
  SELECT CAST(ROUND(l_quantity) AS BIGINT) AS q,
    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p
  FROM lineitem
), hq AS (
  SELECT q, COUNT(*) AS cnt FROM f GROUP BY q
), rq AS (
  SELECT q,
    2 * COALESCE(SUM(cnt) OVER (ORDER BY q
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + cnt + 1 AS r2
  FROM hq
), hp AS (
  SELECT p, COUNT(*) AS cnt FROM f GROUP BY p
), rp AS (
  SELECT p,
    2 * COALESCE(SUM(cnt) OVER (ORDER BY p
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + cnt + 1 AS r2
  FROM hp
), j AS (
  SELECT rq.r2 AS x, rp.r2 AS y
  FROM f JOIN rq ON rq.q = f.q JOIN rp ON rp.p = f.p
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    SUM(CAST(x AS DECIMAL(38, 0))) AS sx,
    SUM(CAST(y AS DECIMAL(38, 0))) AS sy,
    SUM(CAST(x * y AS DECIMAL(38, 0))) AS sxy,
    SUM(CAST(x * x AS DECIMAL(38, 0))) AS sxx,
    SUM(CAST(y * y AS DECIMAL(38, 0))) AS syy
  FROM j
)
SELECT n,
  CAST(FLOOR(
    CAST(n * sxy - sx * sy AS DOUBLE)
    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
       * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
    * 1000000) AS BIGINT) AS rho_ppm
FROM m
""",
)
def q261_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between line quantity and extended
    price — the robust complement to q208's Pearson matrix: rank
    correlation sees any monotone relationship and ignores outlier
    magnitude. Ranks are AVERAGE ranks with exact tie handling,
    computed from the distinct-value histograms (the q218 rank
    substrate): average rank of value v = below(v) + (cnt+1)/2,
    kept integral as DOUBLED ranks 2·below + cnt + 1, then Spearman
    is Pearson over the doubled ranks (scale-invariant). Columns:
    n, rho_ppm.

    Determinism: doubled ranks are exact integers; per-row products
    stay int64 ((2n)² < 2⁶³ to ~10⁹ rows) and accumulate in
    DECIMAL(38,0); the closing ratio is one fixed IEEE tree
    FLOOR-quantized to ppm (the q233 discipline).

    Scale: two histogram exchanges (|distinct quantities| = 50
    rows, |distinct cents| ≈ row count here but value-domain-bound
    in general), two rank-attach joins (the 50-row side broadcasts;
    the price side is a linear equi-join AQE plans), one
    moment-sum partial aggregate. No per-row global sort — the
    entire rank transform rides aggregated frames, which is what
    makes rank statistics feasible at 100 TB.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity")).cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("p"),
    )
    li = checkpoint(li)

    def ranks(col: str) -> DataFrame:
        h = li.groupBy(col).agg(F.count("*").alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return h.select(
            col,
            (
                2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
                + F.col("cnt")
                + 1
            ).alias("r2"),
        )

    rq = ranks("q").select(F.col("q"), F.col("r2").alias("x"))
    rp = ranks("p").select(F.col("p"), F.col("r2").alias("y"))
    j = li.join(F.broadcast(rq), "q").join(rp, "p")
    m = j.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    return m.select(
        "n",
        F.expr(
            "CAST(FLOOR("
            " CAST(n * sxy - sx * sy AS DOUBLE)"
            " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
            "    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))"
            " * 1000000) AS BIGINT)"
        ).alias("rho_ppm"),
    )


_PERM_K = 200


@query(
    "q262_permutation_test",
    oracle=f"""
WITH us AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS s
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY user_id
), obs AS (
  SELECT
    CAST(FLOOR((
      CAST(SUM(CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                 <= '7' THEN s ELSE 0 END) AS DOUBLE)
      / SUM(CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                 <= '7' THEN n ELSE 0 END)
      - CAST(SUM(CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                 <= '7' THEN 0 ELSE s END) AS DOUBLE)
      / SUM(CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                 <= '7' THEN 0 ELSE n END)
    ) * 1000000000.0) AS BIGINT) AS diff_obs_nano
  FROM us
), perms AS (
  SELECT r.pid, u.user_id, u.n, u.s,
    CASE WHEN substring(md5(CAST(r.pid AS VARCHAR) || '|'
      || CAST(u.user_id AS VARCHAR)), 1, 1) <= '7'
    THEN 1 ELSE 0 END AS in_a
  FROM us u, unnest(range(1, {_PERM_K} + 1)) AS r(pid)
), pg AS (
  SELECT pid,
    CAST(SUM(CASE WHEN in_a = 1 THEN s ELSE 0 END) AS BIGINT) AS sa,
    CAST(SUM(CASE WHEN in_a = 1 THEN n ELSE 0 END) AS BIGINT) AS na,
    CAST(SUM(CASE WHEN in_a = 0 THEN s ELSE 0 END) AS BIGINT) AS sb,
    CAST(SUM(CASE WHEN in_a = 0 THEN n ELSE 0 END) AS BIGINT) AS nb
  FROM perms GROUP BY pid
), pd AS (
  SELECT pid,
    CASE WHEN na = 0 OR nb = 0 THEN NULL
    ELSE CAST(FLOOR((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
      * 1000000000.0) AS BIGINT) END AS diff_nano
  FROM pg
)
SELECT obs.diff_obs_nano,
  CAST(SUM(CASE WHEN pd.diff_nano IS NULL
    OR ABS(pd.diff_nano) >= ABS(obs.diff_obs_nano)
    THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
  CAST((1 + SUM(CASE WHEN pd.diff_nano IS NULL
    OR ABS(pd.diff_nano) >= ABS(obs.diff_obs_nano)
    THEN 1 ELSE 0 END)) * 1000000 // ({_PERM_K} + 1) AS BIGINT)
    AS p_value_ppm
FROM pd, obs GROUP BY obs.diff_obs_nano
""",
)
def q262_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-randomized permutation test of the A/B mean-value
    difference: {_PERM_K} deterministic md5-derived reassignments of
    WHOLE USERS (the correct permutation unit when treatment is
    user-routed — per-event shuffling would break within-user
    correlation), two-sided p-value with the +1 "include the
    observed" convention. The distribution-free significance answer
    next to q202's normal-approximation z-test and q257's Chebyshev
    screen. Columns: diff_obs_nano, n_ge, p_value_ppm.

    Determinism: permutation p assigns user u to A iff the first
    hex of md5(p || '|' || u) ≤ '7' — identical digests both
    engines, no RNG anywhere; per-group sums are exact integers of
    milli-quantized values; each diff is one fixed IEEE tree
    FLOOR-quantized to nano BEFORE comparison, so the ≥ test is an
    integer compare; degenerate permutations (one side empty)
    count as extreme — conservative, never optimistic.

    Scale: the corpus collapses to per-user sufficient statistics
    in ONE exchange (entity-bound, not event-bound); the
    permutation grid is K × |users| rows that partial-aggregate to
    K×2 before their exchange. At 100 TB this is the only feasible
    permutation-test shape: permute sufficient statistics, never
    re-scan events per permutation.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    ev = events_with_us(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    us = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.round(F.col("value") * 1000).cast("bigint"))
            .cast("bigint")
            .alias("s"),
        )
        .transform(checkpoint)
    )
    in_a_obs = (
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) <= "7"
    )
    obs = us.agg(
        F.expr(
            "CAST(FLOOR(("
            " CAST(SUM(CASE WHEN substring(md5(CAST(user_id AS STRING)),"
            " 1, 1) <= '7' THEN s ELSE 0 END) AS DOUBLE)"
            " / SUM(CASE WHEN substring(md5(CAST(user_id AS STRING)),"
            " 1, 1) <= '7' THEN n ELSE 0 END)"
            " - CAST(SUM(CASE WHEN substring(md5(CAST(user_id AS STRING)),"
            " 1, 1) <= '7' THEN 0 ELSE s END) AS DOUBLE)"
            " / SUM(CASE WHEN substring(md5(CAST(user_id AS STRING)),"
            " 1, 1) <= '7' THEN 0 ELSE n END)"
            ") * 1000000000.0) AS BIGINT)"
        ).alias("diff_obs_nano")
    )
    perms = us.crossJoin(
        F.broadcast(
            spark.range(1, _PERM_K + 1).select(F.col("id").alias("pid"))
        )
    ).select(
        "pid",
        "n",
        "s",
        F.when(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("pid").cast("string"),
                        F.lit("|"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                1,
            )
            <= "7",
            1,
        )
        .otherwise(0)
        .alias("in_a"),
    )
    pg = perms.groupBy("pid").agg(
        F.sum(F.when(F.col("in_a") == 1, F.col("s")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum(F.when(F.col("in_a") == 1, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("in_a") == 0, F.col("s")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
        F.sum(F.when(F.col("in_a") == 0, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("nb"),
    )
    pd_ = pg.select(
        F.expr(
            "CASE WHEN na = 0 OR nb = 0 THEN NULL"
            " ELSE CAST(FLOOR((CAST(sa AS DOUBLE) / na"
            " - CAST(sb AS DOUBLE) / nb) * 1000000000.0) AS BIGINT) END"
        ).alias("diff_nano")
    )
    extreme = F.when(
        F.col("diff_nano").isNull()
        | (F.abs(F.col("diff_nano")) >= F.abs(F.col("diff_obs_nano"))),
        1,
    ).otherwise(0)
    return (
        pd_.crossJoin(F.broadcast(obs))
        .groupBy("diff_obs_nano")
        .agg(
            F.sum(extreme).cast("bigint").alias("n_ge"),
            F.expr(
                f"CAST((1 + SUM(CASE WHEN diff_nano IS NULL"
                f" OR ABS(diff_nano) >= ABS(diff_obs_nano) THEN 1 ELSE 0"
                f" END)) * 1000000 DIV ({_PERM_K} + 1) AS BIGINT)"
            ).alias("p_value_ppm"),
        )
    )


@query(
    "q263_mrr_recall",
    oracle="""
WITH scored AS (
  SELECT user_id, event_id,
    CAST(ROUND(value * 1000) AS BIGINT) AS v,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
), ranked AS (
  SELECT user_id, rel,
    ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY v DESC, event_id) AS rn
  FROM scored
), per_user AS (
  SELECT user_id,
    MIN(CASE WHEN rel = 1 THEN rn END) AS first_rank,
    CAST(SUM(CASE WHEN rel = 1 AND rn <= 10 THEN 1 ELSE 0 END)
      AS BIGINT) AS rel_in_10,
    CAST(SUM(rel) AS BIGINT) AS rel_total
  FROM ranked GROUP BY user_id
), u AS (
  SELECT CAST(1000000 // first_rank AS BIGINT) AS rr_ppm,
    CAST(rel_in_10 * 1000000 // rel_total AS BIGINT) AS rec_ppm
  FROM per_user WHERE rel_total > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
  CAST(SUM(rr_ppm) // COUNT(*) AS BIGINT) AS mrr_ppm,
  CAST(SUM(rec_ppm) // COUNT(*) AS BIGINT) AS mean_recall10_ppm
FROM u
""",
)
def q263_mrr_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank + recall@10 over the same per-user
    ranking as q256 (value-descending, event_id tie-break; relevant
    = purchase): MRR is the first-hit metric search teams track
    next to NDCG, recall@10 the coverage cut. Columns: n_users,
    mrr_ppm, mean_recall10_ppm.

    Determinism: ranks carry the unique tie-break; reciprocal rank
    and recall are integer floor-divisions on non-negative
    operands; means likewise.

    Scale: one row_number window on the user exchange, one
    per-user rollup, one global rollup — the q256 shape minus the
    second window.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    ev = events_with_us(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    scored = ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 1000).cast("bigint").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "rel"
        ),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("v").desc(), "event_id")
    ranked = scored.select(
        "user_id", "rel", F.row_number().over(w).alias("rn")
    )
    per_user = ranked.groupBy("user_id").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rn"))).alias("first_rank"),
        F.sum(F.when((F.col("rel") == 1) & (F.col("rn") <= 10), 1).otherwise(0))
        .cast("bigint")
        .alias("rel_in_10"),
        F.sum("rel").cast("bigint").alias("rel_total"),
    )
    u = per_user.filter(F.col("rel_total") > 0).select(
        F.expr("CAST(1000000 DIV first_rank AS BIGINT)").alias("rr_ppm"),
        F.expr("CAST(rel_in_10 * 1000000 DIV rel_total AS BIGINT)").alias(
            "rec_ppm"
        ),
    )
    return u.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.expr("CAST(SUM(rr_ppm) DIV COUNT(*) AS BIGINT)").alias("mrr_ppm"),
        F.expr("CAST(SUM(rec_ppm) DIV COUNT(*) AS BIGINT)").alias(
            "mean_recall10_ppm"
        ),
    )


@query(
    "q265_kmv_set_ops",
    oracle="""
WITH la AS (
  SELECT DISTINCT md5(CAST(l.l_partkey AS VARCHAR)) AS h
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderpriority = '1-URGENT' AND l.l_partkey IS NOT NULL
), lb AS (
  SELECT DISTINCT md5(CAST(l.l_partkey AS VARCHAR)) AS h
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderpriority = '5-LOW' AND l.l_partkey IS NOT NULL
), sa AS (
  SELECT COUNT(*) AS cnt_a, MAX(h) AS mh_a
  FROM (SELECT h FROM la ORDER BY h LIMIT 256)
), sb AS (
  SELECT COUNT(*) AS cnt_b, MAX(h) AS mh_b
  FROM (SELECT h FROM lb ORDER BY h LIMIT 256)
), m AS (
  SELECT h,
    MAX(in_a) AS in_a, MAX(in_b) AS in_b
  FROM (
    SELECT h, 1 AS in_a, 0 AS in_b FROM la
    UNION ALL
    SELECT h, 0 AS in_a, 1 AS in_b FROM lb
  ) GROUP BY h ORDER BY h LIMIT 256
), su AS (
  SELECT COUNT(*) AS cnt_u, MAX(h) AS mh_u,
    CAST(SUM(in_a * in_b) AS BIGINT) AS k_common
  FROM m
)
SELECT CAST(256 AS INT) AS k,
  CAST(CASE WHEN cnt_a < 256 THEN cnt_a
    ELSE (255 * 281474976710656)
         // CAST('0x' || substr(mh_a, 1, 12) AS BIGINT)
  END AS BIGINT) AS est_a,
  CAST(CASE WHEN cnt_b < 256 THEN cnt_b
    ELSE (255 * 281474976710656)
         // CAST('0x' || substr(mh_b, 1, 12) AS BIGINT)
  END AS BIGINT) AS est_b,
  CAST(CASE WHEN cnt_u < 256 THEN cnt_u
    ELSE (255 * 281474976710656)
         // CAST('0x' || substr(mh_u, 1, 12) AS BIGINT)
  END AS BIGINT) AS est_union,
  k_common,
  CAST(k_common * (CASE WHEN cnt_u < 256 THEN cnt_u
    ELSE (255 * 281474976710656)
         // CAST('0x' || substr(mh_u, 1, 12) AS BIGINT)
  END) // cnt_u AS BIGINT) AS est_intersection
FROM su, sa, sb
""",
)
def q265_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA (Beyer et al. SIGMOD'07; public
    literature) between the part populations of URGENT vs LOW
    priority orders: per-side cardinality estimates, the union
    estimate from the MERGED sketch (KMV merges exactly — re-cut
    the combined hash stream to k), the common-hash count, and the
    intersection estimate J·|A∪B| — "how much do two corpora
    overlap" with O(k) state and no join of the corpora, the sketch
    every dedup planner runs before committing to a full pairwise
    pass. The whole estimator is integer arithmetic on 48-bit hash
    prefixes (q182's discipline), so it is oracle-checkable
    bit-for-bit — unlike HLL set ops, which have no SQL-exact form.
    Columns: k, est_a, est_b, est_union, k_common,
    est_intersection.

    Scale: three TakeOrdered top-256 passes over distinct-hash
    partial aggregates (operators/sketches.kmv_set_ops); sketch
    state is 32·k bytes per side at any input size.
    """
    from car_insurance_data_pipeline_spark_spark.operators.sketches import (
        kmv_set_ops,
    )

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_partkey", "o_orderpriority"
    )
    a = joined.filter(F.col("o_orderpriority") == "1-URGENT")
    b = joined.filter(F.col("o_orderpriority") == "5-LOW")
    return kmv_set_ops(a, b, "l_partkey", 256)


@query(
    "q268_quota_allocation",
    oracle="""
WITH g AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents WHERE lang IS NOT NULL GROUP BY lang
), tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM g
), base AS (
  SELECT lang, n_docs,
    CAST(1000 * n_docs // n AS BIGINT) AS base_alloc,
    CAST(1000 * n_docs - (1000 * n_docs // n) * n AS BIGINT) AS rem
  FROM g, tot
), short AS (
  SELECT CAST(1000 - SUM(base_alloc) AS BIGINT) AS extra FROM base
), ranked AS (
  SELECT lang, n_docs, base_alloc,
    ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk
  FROM base
)
SELECT lang, n_docs,
  CAST(base_alloc + CASE WHEN rk <= extra THEN 1 ELSE 0 END
    AS BIGINT) AS alloc
FROM ranked, short
""",
)
def q268_quota_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) quota allocation of a 1000-item
    sample budget across language strata — the EXACT proportional
    split an eval-set builder needs where q127's hash split gives
    only expected proportions: every stratum gets
    ⌊B·nᵢ/N⌋ and the ⌈⌉-vs-⌊⌋ shortfall goes to the largest
    fractional remainders (deterministic lang tie-break). Σalloc =
    B exactly, pinned by a pytest. Columns: lang, n_docs, alloc.

    Determinism: quotas and remainders are integer cross-multiplies
    (rem = B·nᵢ − base·N — no float fractions); the remainder rank
    carries the lang tie-break.

    Scale: the corpus collapses to the |strata|-row histogram in
    one partial-agg exchange; allocation runs on that bounded
    frame. The same shape allocates any budget over any stratum
    count at 100 TB.
    """
    g = (
        table(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .transform(checkpoint)
    )
    tot = g.agg(F.sum("n_docs").cast("bigint").alias("n"))
    base = g.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.expr("CAST(1000 * n_docs DIV n AS BIGINT)").alias("base_alloc"),
        F.expr(
            "CAST(1000 * n_docs - (1000 * n_docs DIV n) * n AS BIGINT)"
        ).alias("rem"),
    )
    short = base.agg(
        (F.lit(1000) - F.sum("base_alloc")).cast("bigint").alias("extra")
    )
    ranked = base.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("rem").desc(), "lang"))
    )
    return ranked.crossJoin(F.broadcast(short)).select(
        "lang",
        "n_docs",
        (
            F.col("base_alloc")
            + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    )


@query(
    "q269_wilson_ci",
    oracle="""
WITH g AS (
  SELECT CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS hour,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      AS BIGINT) AS k
  FROM events GROUP BY 1
)
SELECT hour, n, k,
  CAST(k * 1000000 // n AS BIGINT) AS p_ppm,
  CAST(FLOOR(
    ((CAST(k AS DOUBLE) / n + 1.9208 / n
      - 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                    * (1.0 - CAST(k AS DOUBLE) / n) / n
                    + 0.9604 / (CAST(n AS DOUBLE) * n)))
     / (1.0 + 3.8416 / n)) * 1000000) AS BIGINT) AS lo_ppm,
  CAST(FLOOR(
    ((CAST(k AS DOUBLE) / n + 1.9208 / n
      + 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                    * (1.0 - CAST(k AS DOUBLE) / n) / n
                    + 0.9604 / (CAST(n AS DOUBLE) * n)))
     / (1.0 + 3.8416 / n)) * 1000000) AS BIGINT) AS hi_ppm
FROM g
""",
)
def q269_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval for the per-hour purchase rate —
    THE proportion interval production dashboards should use (the
    Wald interval collapses at p≈0 and small n; Wilson stays inside
    [0,1] and never degenerates): center (p + z²/2n)/(1 + z²/n),
    half-width z·√(p(1−p)/n + z²/4n²)/(1 + z²/n) with z = 1.96
    (z² = 3.8416, z²/2 = 1.9208, z²/4 = 0.9604 as exact literals).
    Complements q177's bootstrap CI (means) with the closed-form
    binomial case. Columns: hour, n, k, p_ppm, lo_ppm, hi_ppm.

    Determinism: (k, n) are exact integers; each bound is ONE
    fixed IEEE tree written identically in both engines (+,-,×,÷,√
    all correctly rounded) FLOOR-quantized to ppm; the hour index
    is integer epoch-µs arithmetic.

    Scale: one partial-agg exchange to the 24-row grid; the
    interval math is constant work per group.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    ev = events_with_us(spark, sf_dir)
    g = ev.groupBy(
        F.expr("CAST((ts_us DIV 3600000000) % 24 AS INT)").alias("hour")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    bound = (
        "CAST(FLOOR("
        "((CAST(k AS DOUBLE) / n + 1.9208 / n"
        " {sign} 1.96 * sqrt((CAST(k AS DOUBLE) / n)"
        " * (1.0 - CAST(k AS DOUBLE) / n) / n"
        " + 0.9604 / (CAST(n AS DOUBLE) * n)))"
        " / (1.0 + 3.8416 / n)) * 1000000) AS BIGINT)"
    )
    return g.select(
        "hour",
        "n",
        "k",
        F.expr("CAST(k * 1000000 DIV n AS BIGINT)").alias("p_ppm"),
        F.expr(bound.format(sign="-")).alias("lo_ppm"),
        F.expr(bound.format(sign="+")).alias("hi_ppm"),
    )


@query(
    "q270_vocab_richness",
    oracle="""
WITH arr AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents WHERE text IS NOT NULL
), uni AS (
  SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS c
  FROM arr, unnest(a) AS u(t) GROUP BY 1
)
SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
  CAST(COUNT(*) AS BIGINT) AS vocab,
  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
  CAST(COUNT(*)
    + SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
      * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
      // (2 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1))
    AS BIGINT) AS chao1_est,
  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // SUM(c)
    AS BIGINT) AS unseen_mass_ppm
FROM uni
""",
)
def q270_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary richness estimation for corpus planning: Chao1
    lower-bound estimate of the TRUE vocabulary size
    (vocab + f1·(f1−1)/(2·(f2+1)), the bias-corrected form — Chao
    '84, public literature) and the Good-Turing unseen-probability
    mass f1/N (the chance the next token is a never-seen word —
    Good '53). The "how much more corpus do we need" question every
    tokenizer/pretraining plan starts with, answered from one token
    histogram. Columns: n_tokens, vocab, f1, f2, chao1_est,
    unseen_mass_ppm.

    Determinism: everything is exact integer counting; Chao1 and
    the unseen mass are integer floor-divisions on non-negative
    operands (vocab ≤ 2⁵³-scale cross-multiplies stay in int64).

    Scale: one tokenize + one (token, count) partial-agg exchange,
    then a single global rollup over frequency classes — the
    histogram is the sufficient statistic, so richness estimation
    over 100 TB is one vocab-bounded pass.
    """
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    uni = (
        d.select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    f1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint")
    f2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("bigint")
    return uni.agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocab"),
        f1.alias("f1"),
        f2.alias("f2"),
        F.expr(
            "CAST(COUNT(*)"
            " + SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)"
            " * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)"
            " DIV (2 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1))"
            " AS BIGINT)"
        ).alias("chao1_est"),
        F.expr(
            "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000"
            " DIV SUM(c) AS BIGINT)"
        ).alias("unseen_mass_ppm"),
    )


@query(
    "q271_fim_transform",
    oracle="""
WITH arr AS (
  SELECT doc_id,
    regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents WHERE text IS NOT NULL
), sized AS (
  SELECT doc_id, a, len(a) AS n,
    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
      AS BIGINT) AS h1,
    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 13, 12)
      AS BIGINT) AS h2
  FROM arr WHERE len(a) >= 9
), cut AS (
  SELECT doc_id, a, n,
    1 + h1 % (n // 3) AS lo,
    n - (n // 3) + (h2 % (n // 3)) AS hi
  FROM sized
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
  CAST(lo AS BIGINT) AS prefix_len,
  CAST(hi - lo AS BIGINT) AS middle_len,
  CAST(n - hi AS BIGINT) AS suffix_len,
  md5(array_to_string(a[1:lo], ' ') || ' <SUF> '
      || array_to_string(a[hi+1:n], ' ') || ' <MID> '
      || array_to_string(a[lo+1:hi], ' ')) AS psm_md5
FROM cut
""",
)
def q271_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM) training transform (Bavarian et al.
    '22; public literature): split each document's token stream into
    (prefix, middle, suffix) at two md5-derived cut points and
    reassemble in PSM order (prefix ⟨SUF⟩ suffix ⟨MID⟩ middle) — the
    data transform behind infilling-capable code/text models,
    applied at corpus scale. Cut points land in the first and last
    thirds (lo ∈ [1, n/3], hi ∈ [n−n/3, n−1]), so all three spans
    are non-empty for every n ≥ 9 document. The emitted psm_md5 is
    the digest of the ACTUAL reassembled token stream, so a
    slicing/off-by-one bug anywhere breaks the value hash. Columns:
    doc_id, n_tokens, prefix_len, middle_len, suffix_len, psm_md5.

    Determinism: cut points are 48-bit md5 prefixes mod exact
    integer thirds (non-negative — Spark % and DuckDB % agree);
    slicing uses 1-based inclusive bounds spelled identically via
    slice()/array slicing.

    Scale: a pure narrow map over the documents scan — tokenize,
    two hashes, three slices, one digest; zero shuffles. FIM
    transformation of 100 TB is scan-bound by construction.
    """
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = d.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("a"),
    ).filter(F.size("a") >= 9).select(
        "doc_id",
        "a",
        F.size("a").cast("bigint").alias("n"),
        F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 12),"
            " 16, 10) AS BIGINT)"
        ).alias("h1"),
        F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 13, 12),"
            " 16, 10) AS BIGINT)"
        ).alias("h2"),
    )
    cut = sized.select(
        "doc_id",
        "a",
        "n",
        F.expr("1 + h1 % (n DIV 3)").alias("lo"),
        F.expr("n - (n DIV 3) + (h2 % (n DIV 3))").alias("hi"),
    )
    return cut.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.col("lo").cast("bigint").alias("prefix_len"),
        (F.col("hi") - F.col("lo")).cast("bigint").alias("middle_len"),
        (F.col("n") - F.col("hi")).cast("bigint").alias("suffix_len"),
        F.expr(
            "md5(concat("
            " array_join(slice(a, 1, CAST(lo AS INT)), ' '),"
            " ' <SUF> ',"
            " array_join(slice(a, CAST(hi + 1 AS INT),"
            "   CAST(n - hi AS INT)), ' '),"
            " ' <MID> ',"
            " array_join(slice(a, CAST(lo + 1 AS INT),"
            "   CAST(hi - lo AS INT)), ' ')))"
        ).alias("psm_md5"),
    )


@query(
    "q272_zipf_fit",
    oracle="""
WITH arr AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents WHERE text IS NOT NULL
), uni AS (
  SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS c
  FROM arr, unnest(a) AS u(t) GROUP BY 1
), ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rnk
  FROM uni
), top AS (
  SELECT CAST(FLOOR(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT) AS xq,
    CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS yq
  FROM ranked WHERE rnk <= 1000
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
    SUM(CAST(xq * yq AS DECIMAL(38, 0))) AS sxy,
    SUM(CAST(xq * xq AS DECIMAL(38, 0))) AS sxx
  FROM top
)
SELECT n,
  CAST(FLOOR(
    CAST(n * sxy - sx * sy AS DOUBLE)
    / CAST(n * sxx - sx * sx AS DOUBLE)
    * 1000000) AS BIGINT) AS zipf_slope_ppm
FROM m
""",
)
def q272_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus token distribution: OLS slope of
    ln(frequency) against ln(rank) over the top-1000 tokens — the
    corpus-linguistics sanity diagnostic (natural text sits near
    −1; a slope far from it flags templated/synthetic/boilerplate
    corpora before any model sees them). Complements q270's
    richness estimators with the SHAPE of the distribution.
    Columns: n, zipf_slope_ppm.

    Determinism: ranks carry the (count DESC, token) tie-break;
    each ln is FLOOR-quantized to micro PER POINT before any sum
    (quantize-then-sum), products stay int64 and accumulate in
    DECIMAL(38,0); the closing slope is one IEEE tree.

    Scale: one (token, count) partial-agg exchange; the rank window
    runs on the vocab-bounded histogram and the regression on 1000
    rows. Corpus-shape diagnostics at 100 TB are one vocab pass.
    """
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    uni = (
        d.select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    ranked = uni.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "w"))
        .alias("rnk"),
    ).filter(F.col("rnk") <= 1000)
    top = ranked.select(
        F.expr(
            "CAST(FLOOR(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("xq"),
        F.expr(
            "CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("yq"),
    )
    m = top.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("xq").cast("bigint").alias("sx"),
        F.sum("yq").cast("bigint").alias("sy"),
        F.sum((F.col("xq") * F.col("yq")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("xq") * F.col("xq")).cast("decimal(38,0)")).alias("sxx"),
    )
    return m.select(
        "n",
        F.expr(
            "CAST(FLOOR("
            " CAST(n * sxy - sx * sy AS DOUBLE)"
            " / CAST(n * sxx - sx * sx AS DOUBLE)"
            " * 1000000) AS BIGINT)"
        ).alias("zipf_slope_ppm"),
    )


@query(
    "q273_neyman_allocation",
    oracle="""
WITH g AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_chars) AS BIGINT) AS s1,
    SUM(CAST(n_chars * n_chars AS DECIMAL(38, 0))) AS s2
  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY lang
), w AS (
  SELECT lang, n_docs,
    CAST(CASE WHEN n_docs >= 2 THEN FLOOR(
      n_docs * sqrt(GREATEST(
        (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
           * (CAST(s1 AS DOUBLE) / n_docs)) / (n_docs - 1), 0.0))
      * 1000) ELSE 0 END AS BIGINT) AS wt
  FROM g
), tot AS (
  SELECT CAST(SUM(wt) AS BIGINT) AS tw FROM w
), base AS (
  SELECT lang, n_docs, wt,
    CAST(1000 * wt // tw AS BIGINT) AS base_alloc,
    CAST(1000 * wt - (1000 * wt // tw) * tw AS BIGINT) AS rem
  FROM w, tot
), short AS (
  SELECT CAST(1000 - SUM(base_alloc) AS BIGINT) AS extra FROM base
), ranked AS (
  SELECT lang, n_docs, base_alloc,
    ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk
  FROM base
)
SELECT lang, n_docs,
  CAST(base_alloc + CASE WHEN rk <= extra THEN 1 ELSE 0 END
    AS BIGINT) AS alloc
FROM ranked, short
""",
)
def q273_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal sample allocation across language strata:
    budget shares proportional to n_h·σ_h (stratum size × standard
    deviation of document length) — the variance-minimizing design
    for stratified estimation (Neyman '34, public literature), where
    q268's Hamilton split is merely proportional. High-variance
    strata get oversampled, uniform strata get less; integerized by
    the same largest-remainder rule (Σalloc = 1000 exactly).
    Columns: lang, n_docs, alloc.

    Determinism: per-stratum moments are exact integer/DECIMAL
    sums; each weight is ONE IEEE tree (sample variance →
    GREATEST-clamped sqrt) FLOOR-quantized to milli before the
    integer quota arithmetic; remainder ranks carry the lang
    tie-break.

    Scale: one partial-agg exchange to the |strata|-row moment
    grid; everything after is constant-size. The design step of
    stratified sampling at 100 TB is a histogram pass.
    """
    g = (
        table(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull() & F.col("n_chars").isNotNull())
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("s1"),
            F.sum(
                (F.col("n_chars") * F.col("n_chars")).cast("decimal(38,0)")
            ).alias("s2"),
        )
    )
    w = g.select(
        "lang",
        "n_docs",
        F.expr(
            "CAST(CASE WHEN n_docs >= 2 THEN FLOOR("
            " n_docs * sqrt(GREATEST("
            " (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)"
            "   * (CAST(s1 AS DOUBLE) / n_docs)) / (n_docs - 1), 0.0D))"
            " * 1000) ELSE 0 END AS BIGINT)"
        ).alias("wt"),
    ).transform(checkpoint)
    tot = w.agg(F.sum("wt").cast("bigint").alias("tw"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.expr("CAST(1000 * wt DIV tw AS BIGINT)").alias("base_alloc"),
        F.expr(
            "CAST(1000 * wt - (1000 * wt DIV tw) * tw AS BIGINT)"
        ).alias("rem"),
    )
    short = base.agg(
        (F.lit(1000) - F.sum("base_alloc")).cast("bigint").alias("extra")
    )
    ranked = base.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), "lang")),
    )
    return ranked.crossJoin(F.broadcast(short)).select(
        "lang",
        "n_docs",
        (
            F.col("base_alloc")
            + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    )


@query(
    "q274_clustering_coefficient",
    oracle="""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey
   AND b.l_linenumber = a.l_linenumber + 1
   AND a.l_partkey <> b.l_partkey
), e AS MATERIALIZED (
  SELECT u, v FROM e0 UNION SELECT v, u FROM e0
), deg AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY u
), tri AS (
  SELECT e1.u AS node, CAST(COUNT(*) AS BIGINT) AS t2
  FROM e e1
  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
  GROUP BY e1.u
)
SELECT d.u AS node, d.d AS degree,
  CAST(COALESCE(t.t2, 0) AS BIGINT) AS n_triangles,
  CAST(COALESCE(t.t2, 0) * 2 * 1000000 // (d.d * (d.d - 1))
    AS BIGINT) AS cc_ppm
FROM deg d LEFT JOIN tri t ON t.node = d.u
WHERE d.d >= 2
ORDER BY cc_ppm DESC, node LIMIT 100
""",
)
def q274_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Local clustering coefficient over the co-purchase graph:
    per node, closed wedges / possible wedges =
    2·triangles / (deg·(deg−1)) — the node-level cohesion metric
    next to q135's GLOBAL triangle count (a node can sit in a
    tight community or a hub-and-spoke with the same degree; this
    tells them apart). Top-100 by coefficient with the node
    tie-break. Columns: node, degree, n_triangles, cc_ppm.

    Determinism: triangles per node are exact integer counts
    (wedge (v < w) + closing-edge join); the coefficient is one
    integer cross-multiply floor-division on non-negative operands.

    Scale (round-11): routed through
    operators/graph.clustering_coefficient(dispatch='auto') — the
    measured Σ deg² against the absolute ``graph.WEDGE_BUDGET``
    (96M) picks between the center-wedge expansion (the historical
    plan, Θ(Σ deg²), the one the oracle replays) and the
    degree-ordered "forward" enumeration (Θ(Σ d_out²) = O(m^1.5),
    the hub-heavy 100 TB path). The sf0.1 graph measures
    18,440,624 wedges, under the budget, so the center-wedge plan
    runs at both fixture SFs on any host. Both routes are EXACT —
    equality is pinned in tests/test_graph_dispatch.py — so the
    auto route cannot move the oracle; the top-100 is TakeOrdered.
    """
    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        clustering_coefficient,
    )
    from car_insurance_data_pipeline_spark_spark.plans.linkops import (
        consecutive_copurchase_pairs,
    )

    e0 = consecutive_copurchase_pairs(spark, sf_dir)
    e = (
        e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .transform(checkpoint)
    )
    return (
        clustering_coefficient(e, dispatch="auto")
        .orderBy(F.col("cc_ppm").desc(), "node")
        .limit(100)
    )


@query(
    "q275_diff_in_diff",
    oracle="""
WITH lim AS (
  SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
), cells AS (
  SELECT
    CASE WHEN epoch_us(ts) * 2 <= t0 + t1 THEN 0 ELSE 1 END AS post,
    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
         THEN 1 ELSE 0 END AS in_a,
    CAST(ROUND(value * 1000) AS BIGINT) AS v
  FROM events, lim WHERE value IS NOT NULL AND user_id IS NOT NULL
), g AS (
  SELECT post, in_a, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(v) AS BIGINT) AS s
  FROM cells GROUP BY 1, 2
), w AS (
  SELECT
    MAX(CASE WHEN in_a = 1 AND post = 0 THEN n END) AS na_pre,
    MAX(CASE WHEN in_a = 1 AND post = 0 THEN s END) AS sa_pre,
    MAX(CASE WHEN in_a = 1 AND post = 1 THEN n END) AS na_post,
    MAX(CASE WHEN in_a = 1 AND post = 1 THEN s END) AS sa_post,
    MAX(CASE WHEN in_a = 0 AND post = 0 THEN n END) AS nb_pre,
    MAX(CASE WHEN in_a = 0 AND post = 0 THEN s END) AS sb_pre,
    MAX(CASE WHEN in_a = 0 AND post = 1 THEN n END) AS nb_post,
    MAX(CASE WHEN in_a = 0 AND post = 1 THEN s END) AS sb_post
  FROM g
)
SELECT na_pre, na_post, nb_pre, nb_post,
  CAST(FLOOR((
    (CAST(sa_post AS DOUBLE) / na_post - CAST(sa_pre AS DOUBLE) / na_pre)
    - (CAST(sb_post AS DOUBLE) / nb_post - CAST(sb_pre AS DOUBLE) / nb_pre)
  ) * 1000000000.0) AS BIGINT) AS did_nano
FROM w
""",
)
def q275_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator over the md5 A/B cohorts
    with the observation window split at its integer midpoint:
    (Δ treated) − (Δ control) — the workhorse causal estimate when
    a change ships to one cohort mid-window and seasonality moves
    both (a plain post-period A−B would credit the seasonality to
    the change; DiD subtracts it). Columns: na_pre, na_post,
    nb_pre, nb_post, did_nano.

    Determinism: the period split is the q235 integer
    cross-multiply (2·t ≤ t0+t1, no float midpoint); cohort routing
    is the q218 md5 rule; cell sums are exact integers of
    milli-quantized values; the estimate is ONE IEEE tree over the
    four cell means FLOOR-quantized to nano.

    Scale: two 1-row time anchors broadcast onto the scan, one
    partial-agg exchange to the 4-cell grid, constant arithmetic
    after. DiD at 100 TB is a scan and four numbers.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    ev = events_with_us(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    lim = ev.agg(F.min("ts_us").alias("t0"), F.max("ts_us").alias("t1"))
    cells = ev.crossJoin(F.broadcast(lim)).select(
        F.when(F.col("ts_us") * 2 <= F.col("t0") + F.col("t1"), 0)
        .otherwise(1)
        .alias("post"),
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
            <= "7",
            1,
        )
        .otherwise(0)
        .alias("in_a"),
        F.round(F.col("value") * 1000).cast("bigint").alias("v"),
    )
    g = cells.groupBy("post", "in_a").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
    )

    def cell(in_a: int, post: int, col: str, alias: str):
        return F.max(
            F.when(
                (F.col("in_a") == in_a) & (F.col("post") == post),
                F.col(col),
            )
        ).alias(alias)

    w = g.agg(
        cell(1, 0, "n", "na_pre"), cell(1, 0, "s", "sa_pre"),
        cell(1, 1, "n", "na_post"), cell(1, 1, "s", "sa_post"),
        cell(0, 0, "n", "nb_pre"), cell(0, 0, "s", "sb_pre"),
        cell(0, 1, "n", "nb_post"), cell(0, 1, "s", "sb_post"),
    )
    return w.select(
        "na_pre",
        "na_post",
        "nb_pre",
        "nb_post",
        F.expr(
            "CAST(FLOOR(("
            " (CAST(sa_post AS DOUBLE) / na_post"
            "  - CAST(sa_pre AS DOUBLE) / na_pre)"
            " - (CAST(sb_post AS DOUBLE) / nb_post"
            "    - CAST(sb_pre AS DOUBLE) / nb_pre)"
            ") * 1000000000.0) AS BIGINT)"
        ).alias("did_nano"),
    )


@query(
    "q276_trimmed_mean",
    oracle="""
WITH h AS (
  SELECT CAST(ROUND(value * 1000) AS BIGINT) AS v,
    CAST(COUNT(*) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, c,
    SUM(c) OVER (ORDER BY v) AS hi,
    SUM(c) OVER (ORDER BY v) - c AS lo
  FROM h
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(c) // 20 AS BIGINT) AS k
  FROM h
), kept AS (
  SELECT v,
    GREATEST(LEAST(hi, n - k) - GREATEST(lo, k), 0) AS kc,
    CASE WHEN lo <= k AND hi >= k + 1 THEN 1 ELSE 0 END AS is_lo_q,
    CASE WHEN lo < n - k AND hi >= n - k THEN 1 ELSE 0 END AS is_hi_q
  FROM cum, tot
), agg AS (
  SELECT CAST(SUM(v * kc) AS BIGINT) AS ts,
    CAST(SUM(kc) AS BIGINT) AS tn,
    CAST(MAX(CASE WHEN is_lo_q = 1 THEN v END) AS BIGINT) AS v_lo,
    CAST(MAX(CASE WHEN is_hi_q = 1 THEN v END) AS BIGINT) AS v_hi
  FROM kept
)
SELECT tot.n, tot.k,
  CAST(ts * 1000 // tn AS BIGINT) AS trimmed_mean_micro,
  CAST((ts + tot.k * v_lo + tot.k * v_hi) * 1000 // tot.n AS BIGINT)
    AS winsorized_mean_micro,
  v_lo AS p05_milli, v_hi AS p95_milli
FROM agg, tot
""",
)
def q276_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 5% trimmed and winsorized means of the event value —
    the robust location estimates a metrics platform reports when
    outliers poison the plain mean (trimmed drops the tails,
    winsorized clamps them to the 5th/95th order statistics).
    Computed entirely from the value histogram: each distinct
    value's kept count is a clamped interval intersection of its
    cumulative rank range with [k, n−k] — no per-row sorting, ties
    handled exactly (the histogram substrate of q218/q233).
    Columns: n, k, trimmed_mean_micro, winsorized_mean_micro,
    p05_milli, p95_milli.

    Determinism: pure integer counting and floor division on
    non-negative operands end to end — not even one float.

    Scale: one exchange to the distinct-value histogram, one
    bounded cumulative window, one global rollup. Robust means at
    100 TB cost the same as a count-distinct.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    ev = events_with_us(spark, sf_dir).filter(F.col("value").isNotNull())
    h = ev.select(
        F.round(F.col("value") * 1000).cast("bigint").alias("v")
    ).groupBy("v").agg(F.count("*").cast("bigint").alias("c"))
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = h.select(
        "v",
        "c",
        F.sum("c").over(wcum).alias("hi"),
        (F.sum("c").over(wcum) - F.col("c")).alias("lo"),
    )
    tot = h.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.expr("CAST(SUM(c) DIV 20 AS BIGINT)").alias("k"),
    )
    kept = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        F.greatest(
            F.least(F.col("hi"), F.col("n") - F.col("k"))
            - F.greatest(F.col("lo"), F.col("k")),
            F.lit(0).cast("bigint"),
        ).alias("kc"),
        F.when(
            # the (k+1)-th order statistic: its value's rank range
            # [lo+1, hi] must CONTAIN position k+1 — lo <= k, not
            # lo < k (caught by the Python replay: both engines had
            # the off-by-one and NULLed v_lo when a value started
            # exactly at rank k+1, so the mirror hash still matched)
            (F.col("lo") <= F.col("k")) & (F.col("hi") >= F.col("k") + 1),
            1,
        )
        .otherwise(0)
        .alias("is_lo_q"),
        F.when(
            (F.col("lo") < F.col("n") - F.col("k"))
            & (F.col("hi") >= F.col("n") - F.col("k")),
            1,
        )
        .otherwise(0)
        .alias("is_hi_q"),
    )
    agg = kept.agg(
        F.sum(F.col("v") * F.col("kc")).cast("bigint").alias("ts"),
        F.sum("kc").cast("bigint").alias("tn"),
        F.max(F.when(F.col("is_lo_q") == 1, F.col("v")))
        .cast("bigint")
        .alias("v_lo"),
        F.max(F.when(F.col("is_hi_q") == 1, F.col("v")))
        .cast("bigint")
        .alias("v_hi"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        "n",
        "k",
        F.expr("CAST(ts * 1000 DIV tn AS BIGINT)").alias(
            "trimmed_mean_micro"
        ),
        F.expr(
            "CAST((ts + k * v_lo + k * v_hi) * 1000 DIV n AS BIGINT)"
        ).alias("winsorized_mean_micro"),
        F.col("v_lo").alias("p05_milli"),
        F.col("v_hi").alias("p95_milli"),
    )


@query(
    "q297_ips_offpolicy",
    oracle="""
WITH ev AS (
  SELECT user_id, event_type AS a,
    CAST(ROUND(value * 1000) AS BIGINT) AS r
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL
    AND event_type IS NOT NULL
), marg AS (
  SELECT a, CAST(COUNT(*) AS BIGINT) AS na FROM ev GROUP BY a
), tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS n FROM marg
), pol AS (
  SELECT user_id, a AS pi_a FROM (
    SELECT user_id, a,
      ROW_NUMBER() OVER (PARTITION BY user_id
        ORDER BY COUNT(*) DESC, a) AS rk
    FROM ev GROUP BY user_id, a
  ) WHERE rk = 1
), terms AS (
  SELECT
    CASE WHEN ev.a = pol.pi_a THEN 1 ELSE 0 END AS m,
    CASE WHEN ev.a = pol.pi_a THEN CAST(FLOOR(
      CAST(ev.r AS DOUBLE) * CAST(tot.n AS DOUBLE)
      / CAST(marg.na AS DOUBLE) * 1000) AS BIGINT)
      ELSE 0 END AS wr_micro,
    CASE WHEN ev.a = pol.pi_a THEN CAST(FLOOR(
      CAST(tot.n AS DOUBLE) / CAST(marg.na AS DOUBLE)
      * 1000000) AS BIGINT) ELSE 0 END AS w_micro
  FROM ev
  JOIN pol ON pol.user_id = ev.user_id
  JOIN marg ON marg.a = ev.a, tot
)
SELECT (SELECT n FROM tot) AS n,
  CAST(SUM(m) AS BIGINT) AS n_matched,
  CAST(SUM(wr_micro) AS BIGINT) AS ips_sum_micro,
  CAST(SUM(w_micro) AS BIGINT) AS w_sum_micro,
  CAST(SUM(wr_micro) * 1000 // (SELECT n FROM tot) AS BIGINT)
    AS ips_nano,
  CAST(SUM(wr_micro) * 1000000 // SUM(w_micro) AS BIGINT)
    AS snips_micro
FROM terms
""",
)
def q297_ips_offpolicy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation via inverse propensity scoring — the
    counterfactual "what value would the TARGET policy have earned
    on the LOGGED traffic" estimator every recommender/bandit (and
    increasingly every LLM-routing) pipeline runs before an online
    test. Logged actions are event types with the empirical marginal
    as the logging propensity (p(a) = n_a/N); the target policy is
    each user's modal event type ((count DESC, type) tie-break);
    matched rows contribute reward/propensity. Reports both the IPS
    estimate (unbiased, high variance) and the self-normalized SNIPS
    (weight-normalized). Each weighted term is FLOOR-quantized
    BEFORE the integer sums; both closing estimates are integer
    cross-multiply DIVs. Columns: n, n_matched, ips_sum_micro,
    w_sum_micro, ips_nano, snips_micro.

    Determinism: per-row weights are fixed IEEE trees over exact
    integer counts (quantize-then-sum); the modal policy tie-breaks
    lexicographically; integer DIV on non-negative operands.

    Scale: one exchange to per-(user, action) counts for the policy
    (state is user-dimension-bound), the marginal is |actions| rows
    broadcast, and the term pass rides one user-keyed join of the
    fact. Off-policy eval at 100 TB is a join and two broadcast
    lookups per logged event.
    """
    ev = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "user_id",
            F.col("event_type").alias("a"),
            F.round(F.col("value") * 1000).cast("bigint").alias("r"),
        )
        .transform(checkpoint)
    )
    marg = ev.groupBy("a").agg(F.count("*").cast("bigint").alias("na"))
    tot = marg.agg(F.sum("na").cast("bigint").alias("n"))
    pol = (
        ev.groupBy("user_id", "a")
        .agg(F.count("*").alias("c"))
        .select(
            "user_id",
            "a",
            F.row_number()
            .over(
                Window.partitionBy("user_id").orderBy(
                    F.col("c").desc(), F.col("a")
                )
            )
            .alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("a").alias("pi_a"))
    )
    matched = F.col("a") == F.col("pi_a")
    wr = F.when(
        matched,
        F.floor(
            F.col("r").cast("double")
            * F.col("n").cast("double")
            / F.col("na").cast("double")
            * F.lit(1000)
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    wm = F.when(
        matched,
        F.floor(
            F.col("n").cast("double")
            / F.col("na").cast("double")
            * F.lit(1000000)
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    terms = (
        ev.join(pol, "user_id")
        .join(F.broadcast(marg), "a")
        .crossJoin(F.broadcast(tot))
        .select(
            matched.cast("int").alias("m"),
            wr.alias("wr_micro"),
            wm.alias("w_micro"),
            "n",
        )
    )
    return terms.groupBy("n").agg(
        F.sum("m").cast("bigint").alias("n_matched"),
        F.sum("wr_micro").cast("bigint").alias("ips_sum_micro"),
        F.sum("w_micro").cast("bigint").alias("w_sum_micro"),
        # DECIMAL(38,0) cross-multiplies: SUM(wr_micro) ~ 6.6e13 at
        # sf1 and the *1e6 SNIPS numerator overflows int64 past 10x
        # (the q292 lesson); DuckDB's HUGEINT sums never do, so the
        # Spark side must widen explicitly to stay in lockstep.
        F.expr(
            "CAST(CAST(SUM(wr_micro) AS DECIMAL(38,0)) * 1000"
            " DIV n AS BIGINT)"
        ).alias("ips_nano"),
        F.expr(
            "CAST(CAST(SUM(wr_micro) AS DECIMAL(38,0)) * 1000000"
            " DIV SUM(w_micro) AS BIGINT)"
        ).alias("snips_micro"),
    ).select(
        "n", "n_matched", "ips_sum_micro", "w_sum_micro",
        "ips_nano", "snips_micro",
    )


@query(
    "q298_doubly_robust_ope",
    oracle="""
WITH ev AS (
  SELECT user_id, event_type AS a,
    CAST(ROUND(value * 1000) AS BIGINT) AS r
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL
    AND event_type IS NOT NULL
), act AS (
  SELECT a, CAST(COUNT(*) AS BIGINT) AS na,
    CAST((SUM(r) * 1000) // COUNT(*) AS BIGINT) AS qhat_micro
  FROM ev GROUP BY a
), tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS n FROM act
), pol AS (
  SELECT user_id, a AS pi_a FROM (
    SELECT user_id, a,
      ROW_NUMBER() OVER (PARTITION BY user_id
        ORDER BY COUNT(*) DESC, a) AS rk
    FROM ev GROUP BY user_id, a
  ) WHERE rk = 1
), terms AS (
  SELECT
    CASE WHEN ev.a = pol.pi_a THEN 1 ELSE 0 END AS m,
    tgt.qhat_micro AS dm_micro,
    CASE WHEN ev.a = pol.pi_a THEN CAST(FLOOR(
      CAST(ev.r * 1000 - log.qhat_micro AS DOUBLE)
      * CAST(tot.n AS DOUBLE) / CAST(log.na AS DOUBLE))
      AS BIGINT) ELSE 0 END AS corr_micro
  FROM ev
  JOIN pol ON pol.user_id = ev.user_id
  JOIN act log ON log.a = ev.a
  JOIN act tgt ON tgt.a = pol.pi_a, tot
)
SELECT (SELECT n FROM tot) AS n,
  CAST(SUM(m) AS BIGINT) AS n_matched,
  CAST(SUM(dm_micro) AS BIGINT) AS dm_sum_micro,
  CAST(SUM(corr_micro) AS BIGINT) AS corr_sum_micro,
  CAST(SUM(dm_micro) + SUM(corr_micro) AS BIGINT) AS dr_sum_micro,
  CAST(SUM(dm_micro) * 1000 // (SELECT n FROM tot) AS BIGINT)
    AS dm_nano
FROM terms
""",
)
def q298_doubly_robust_ope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust off-policy evaluation — the estimator that
    combines q297's IPS correction with a direct-method baseline
    (per-action mean reward Q̂) so it stays consistent if EITHER the
    propensity model OR the reward model is right (Dudík, Langford &
    Li '11; public literature). Per logged row the DR term is
    Q̂(π(u)) + 1{a=π(u)}·(r − Q̂(a))/p̂(a) with the empirical
    marginal p̂(a) = n_a/N and the modal-action target policy, both
    exactly as in q297. Q̂ is the exact integer per-action mean in
    micro-units; the (possibly negative) IPS correction is
    FLOOR-quantized per row BEFORE the integer sums. The closing
    columns are the signed exact sums — the DR estimate is
    dr_sum_micro / (n·1e6) — plus the non-negative direct-method
    ratio. Columns: n, n_matched, dm_sum_micro, corr_sum_micro,
    dr_sum_micro, dm_nano.

    Determinism: Q̂ is an integer DIV on non-negative operands; the
    correction is a fixed IEEE tree over exact integers, floored
    per row (quantize-then-sum); the signed total is reported as an
    exact SUM, never divided (signed DIV semantics differ across
    engines: Spark truncates, DuckDB floors).

    Scale: identical shape to q297 — per-(user, action) counts for
    the policy, a |actions|-row broadcast carrying (na, qhat), and
    one user-keyed join over the fact. The second act join keys on
    pi_a and is the same broadcast reused.
    """
    ev = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "user_id",
            F.col("event_type").alias("a"),
            F.round(F.col("value") * 1000).cast("bigint").alias("r"),
        )
        .transform(checkpoint)
    )
    act = ev.groupBy("a").agg(
        F.count("*").cast("bigint").alias("na"),
        F.expr(
            "CAST(CAST(SUM(r) AS DECIMAL(38,0)) * 1000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("qhat_micro"),
    )
    tot = act.agg(F.sum("na").cast("bigint").alias("n"))
    pol = (
        ev.groupBy("user_id", "a")
        .agg(F.count("*").alias("c"))
        .select(
            "user_id",
            "a",
            F.row_number()
            .over(
                Window.partitionBy("user_id").orderBy(
                    F.col("c").desc(), F.col("a")
                )
            )
            .alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("a").alias("pi_a"))
    )
    log = act.select(
        F.col("a"), F.col("na"), F.col("qhat_micro").alias("qhat_log")
    )
    tgt = act.select(
        F.col("a").alias("pi_a"), F.col("qhat_micro").alias("dm_micro")
    )
    matched = F.col("a") == F.col("pi_a")
    corr = F.when(
        matched,
        F.floor(
            (F.col("r") * 1000 - F.col("qhat_log")).cast("double")
            * F.col("n").cast("double")
            / F.col("na").cast("double")
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    terms = (
        ev.join(pol, "user_id")
        .join(F.broadcast(log), "a")
        .join(F.broadcast(tgt), "pi_a")
        .crossJoin(F.broadcast(tot))
        .select(
            matched.cast("int").alias("m"),
            F.col("dm_micro"),
            corr.alias("corr_micro"),
            "n",
        )
    )
    return terms.groupBy("n").agg(
        F.sum("m").cast("bigint").alias("n_matched"),
        F.sum("dm_micro").cast("bigint").alias("dm_sum_micro"),
        F.sum("corr_micro").cast("bigint").alias("corr_sum_micro"),
        (F.sum("dm_micro") + F.sum("corr_micro"))
        .cast("bigint")
        .alias("dr_sum_micro"),
        F.expr(
            "CAST(CAST(SUM(dm_micro) AS DECIMAL(38,0)) * 1000"
            " DIV n AS BIGINT)"
        ).alias("dm_nano"),
    ).select(
        "n", "n_matched", "dm_sum_micro", "corr_sum_micro",
        "dr_sum_micro", "dm_nano",
    )


@query(
    "q299_fairness_audit",
    oracle="""
WITH scored AS (
  SELECT c.c_mktsegment AS segment,
    CASE WHEN e.value >= 50.0 THEN 1 ELSE 0 END AS yp,
    CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
  WHERE e.value IS NOT NULL
), g AS (
  SELECT segment,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(yp) AS BIGINT) AS n_pred_pos,
    CAST(SUM(y) AS BIGINT) AS n_pos,
    CAST(SUM(yp * y) AS BIGINT) AS tp,
    CAST(SUM(yp * (1 - y)) AS BIGINT) AS fp
  FROM scored GROUP BY segment
), r AS (
  SELECT segment, n, n_pred_pos, n_pos,
    CAST(n_pred_pos * 1000000 // n AS BIGINT) AS ppr_ppm,
    CAST(tp * 1000000 // n_pos AS BIGINT) AS tpr_ppm,
    CAST(fp * 1000000 // (n - n_pos) AS BIGINT) AS fpr_ppm
  FROM g
)
SELECT segment, n, n_pred_pos, n_pos, ppr_ppm, tpr_ppm, fpr_ppm,
  CAST(MAX(ppr_ppm) OVER () - MIN(ppr_ppm) OVER () AS BIGINT)
    AS dp_gap_ppm,
  CAST(MAX(tpr_ppm) OVER () - MIN(tpr_ppm) OVER () AS BIGINT)
    AS tpr_gap_ppm,
  CAST(MAX(fpr_ppm) OVER () - MIN(fpr_ppm) OVER () AS BIGINT)
    AS fpr_gap_ppm
FROM r
""",
)
def q299_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit — demographic parity and equalized odds,
    the two metrics every production model-governance gate reports
    (Hardt, Price & Srebro '16; public literature), completing the
    governance family (k-anonymity q146, l-diversity q228,
    t-closeness q280, Simpson audit q292). The protected attribute
    is the customer market segment (events.user_id → c_custkey, the
    q281-inferred FK); the audited classifier is the fixed threshold
    value ≥ 50, the outcome is a purchase event. Per segment:
    positive-prediction rate (demographic parity), TPR and FPR
    (equalized odds), each as an exact integer ppm cross-multiply,
    plus the max-minus-min gap across segments replicated on every
    row — the release gate is one filter on gap columns. Columns:
    segment, n, n_pred_pos, n_pos, ppr_ppm, tpr_ppm, fpr_ppm,
    dp_gap_ppm, tpr_gap_ppm, fpr_gap_ppm.

    Determinism: pure counts; integer DIV on non-negative operands;
    the gaps are exact max/min over the segment dimension.

    Scale: customer broadcasts onto the event fact; one exchange to
    the |segments| frame; the gap window runs over a handful of
    rows. A 100 TB fairness audit is one map-side join and one
    tiny aggregate — the design point is that adding a protected
    attribute to ANY scored fact costs one broadcast.
    """
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            (F.col("value") >= 50.0).cast("int").alias("yp"),
            (F.col("event_type") == "purchase").cast("int").alias("y"),
        )
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    g = (
        e.join(c, e["user_id"] == c["c_custkey"])
        .groupBy("segment")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("yp").cast("bigint").alias("n_pred_pos"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.sum(F.col("yp") * F.col("y")).cast("bigint").alias("tp"),
            F.sum(F.col("yp") * (1 - F.col("y")))
            .cast("bigint")
            .alias("fp"),
        )
    )
    r = g.select(
        "segment",
        "n",
        "n_pred_pos",
        "n_pos",
        F.expr("n_pred_pos * 1000000 DIV n").alias("ppr_ppm"),
        F.expr("tp * 1000000 DIV n_pos").alias("tpr_ppm"),
        F.expr("fp * 1000000 DIV (n - n_pos)").alias("fpr_ppm"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return r.select(
        "*",
        (F.max("ppr_ppm").over(wall) - F.min("ppr_ppm").over(wall))
        .cast("bigint")
        .alias("dp_gap_ppm"),
        (F.max("tpr_ppm").over(wall) - F.min("tpr_ppm").over(wall))
        .cast("bigint")
        .alias("tpr_gap_ppm"),
        (F.max("fpr_ppm").over(wall) - F.min("fpr_ppm").over(wall))
        .cast("bigint")
        .alias("fpr_gap_ppm"),
    )


@query(
    "q322_rank_biased_overlap",
    oracle="""
WITH lim AS (
  SELECT (MIN(epoch_us(o_orderdate)) + MAX(epoch_us(o_orderdate)))
    // 2 AS mid
  FROM orders
), rev AS (
  SELECT CASE WHEN epoch_us(o.o_orderdate) < lim.mid
    THEN 0 ELSE 1 END AS half, l.l_partkey,
    CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey, lim
), ranked AS (
  SELECT half, l_partkey,
    ROW_NUMBER() OVER (PARTITION BY half
      ORDER BY SUM(cents) DESC, l_partkey) AS r
  FROM rev GROUP BY half, l_partkey
), a AS (SELECT l_partkey, r FROM ranked WHERE half = 0 AND r <= 10),
b AS (SELECT l_partkey, r FROM ranked WHERE half = 1 AND r <= 10),
matches AS (
  SELECT GREATEST(a.r, b.r) AS dmin
  FROM a JOIN b ON b.l_partkey = a.l_partkey
), depths AS (
  SELECT * FROM (VALUES
    (1, CAST(1 AS BIGINT), CAST(10 AS BIGINT)),
    (2, CAST(9 AS BIGINT), CAST(200 AS BIGINT)),
    (3, CAST(81 AS BIGINT), CAST(3000 AS BIGINT)),
    (4, CAST(729 AS BIGINT), CAST(40000 AS BIGINT)),
    (5, CAST(6561 AS BIGINT), CAST(500000 AS BIGINT)),
    (6, CAST(59049 AS BIGINT), CAST(6000000 AS BIGINT)),
    (7, CAST(531441 AS BIGINT), CAST(70000000 AS BIGINT)),
    (8, CAST(4782969 AS BIGINT), CAST(800000000 AS BIGINT)),
    (9, CAST(43046721 AS BIGINT), CAST(9000000000 AS BIGINT)),
    (10, CAST(387420489 AS BIGINT), CAST(100000000000 AS BIGINT))
  ) AS t(d, wnum, wden)
), xs AS (
  SELECT depths.d, depths.wnum, depths.wden,
    CAST(COALESCE(SUM(CASE WHEN matches.dmin <= depths.d
      THEN 1 END), 0) AS BIGINT) AS x_d
  FROM depths LEFT JOIN matches ON matches.dmin <= depths.d
  GROUP BY depths.d, depths.wnum, depths.wden
)
SELECT CAST(10 AS INT) AS k,
  CAST(MAX(CASE WHEN d = 10 THEN x_d END) AS BIGINT) AS x_k,
  CAST(SUM(x_d * wnum * 1000000 // wden) AS BIGINT) AS rbo_micro
FROM xs
""",
)
def q322_rank_biased_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rank-biased overlap at p = 0.9 between the top-10
    parts-by-revenue rankings of the first and second HALF of the
    order history (Webber, Moffat & Zobel '10; public literature) —
    the top-weighted ranking-similarity metric that answers "did
    the leaderboard change?", which NDCG/MRR (graded relevance
    against one truth) cannot. The truncated RBO
    (1−p)·Σ_{d≤10} p^{d−1}·X_d/d is EXACT integer arithmetic: the
    weights (1−p)p^{d−1}/d = 9^{d−1}/(d·10^d) ship as a 10-row
    LITERAL numerator/denominator table (no runtime pow), the
    prefix-overlap counts X_d come from the match-depth join
    GREATEST(r_A, r_B) ≤ d, and each depth term is
    FLOOR-quantized to micro before the sum. Columns: k, x_k,
    rbo_micro.

    Determinism: exact cent revenue ordering with partkey
    tie-break; integer midpoint time split; literal rational
    weights; quantize-then-sum.

    Scale: two ranked top-10s via per-half partial TopK (the fact
    collapses to per-(half, part) revenue first); the RBO algebra
    is a 10×10 dimension join. Leaderboard-drift monitoring at
    100 TB costs the revenue rollup only.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        # o_orderdate ships as timestamp_ntz: wall-clock diff from
        # the NTZ epoch (unix_micros throws on NTZ — the q282 rule)
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            " CAST(o_orderdate AS TIMESTAMP_NTZ))"
        ).alias("ous"),
    )
    lim = o.agg(
        F.expr("(MIN(ous) + MAX(ous)) DIV 2").alias("mid")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias(
            "cents"
        ),
    )
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .crossJoin(F.broadcast(lim))
        .select(
            F.when(F.col("ous") < F.col("mid"), 0)
            .otherwise(1)
            .alias("half"),
            "l_partkey",
            "cents",
        )
    )
    ranked = (
        rev.groupBy("half", "l_partkey")
        .agg(F.sum("cents").alias("s"))
        .select(
            "half",
            "l_partkey",
            F.row_number()
            .over(
                Window.partitionBy("half").orderBy(
                    F.col("s").desc(), "l_partkey"
                )
            )
            .alias("r"),
        )
        .filter(F.col("r") <= 10)
        .transform(checkpoint)
    )
    a = ranked.filter(F.col("half") == 0).select(
        "l_partkey", F.col("r").alias("ra")
    )
    b = ranked.filter(F.col("half") == 1).select(
        "l_partkey", F.col("r").alias("rb")
    )
    matches = a.join(b, "l_partkey").select(
        F.greatest("ra", "rb").alias("dmin")
    )
    depths = driver_frame(
        spark,
        [
            (1, 1, 10),
            (2, 9, 200),
            (3, 81, 3000),
            (4, 729, 40000),
            (5, 6561, 500000),
            (6, 59049, 6000000),
            (7, 531441, 70000000),
            (8, 4782969, 800000000),
            (9, 43046721, 9000000000),
            (10, 387420489, 100000000000),
        ],
        "d int, wnum long, wden long",
    )
    xs = (
        depths.join(
            F.broadcast(matches),
            F.expr("dmin <= d"),
            "left",
        )
        .groupBy("d", "wnum", "wden")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("dmin") <= F.col("d"), 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("x_d")
        )
    )
    return xs.agg(
        F.lit(10).cast("int").alias("k"),
        F.max(F.when(F.col("d") == 10, F.col("x_d")))
        .cast("bigint")
        .alias("x_k"),
        F.sum(F.expr("x_d * wnum * 1000000 DIV wden"))
        .cast("bigint")
        .alias("rbo_micro"),
    )


def _ab_dow_pvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 35-row (event_type × day-of-week) A/B hypothesis grid
    with Welch-z² surrogate p_ppm — q257's p-stage, shared by the
    multiple-testing family (q257 BH step-up, q352 Holm/Hochberg)."""
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    ev = events_with_us(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    base = ev.select(
        "event_type",
        F.expr("CAST((ts_us DIV 86400000000) % 7 AS INT)").alias("dow"),
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) <= "7",
            "A",
        )
        .otherwise("B")
        .alias("variant"),
        F.round(F.col("value") * 1000).cast("bigint").alias("v"),
    )
    a = F.col("variant") == "A"
    g = base.groupBy("event_type", "dow").agg(
        F.sum(F.when(a, 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(a, F.col("v")).otherwise(0)).cast("bigint").alias("sa"),
        F.sum(F.when(a, F.col("v") * F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("s2a"),
        F.sum(F.when(~a, 1).otherwise(0)).cast("bigint").alias("nb"),
        F.sum(F.when(~a, F.col("v")).otherwise(0)).cast("bigint").alias("sb"),
        F.sum(F.when(~a, F.col("v") * F.col("v")).otherwise(0))
        .cast("bigint")
        .alias("s2b"),
    )
    return g.select("event_type", "dow", F.expr(_Z2_SQL).alias("p_ppm"))


@query(
    "q352_holm_hochberg",
    oracle=f"""
WITH base AS (
  SELECT event_type,
    CAST((epoch_us(ts) // 86400000000) % 7 AS INT) AS dow,
    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
         THEN 'A' ELSE 'B' END AS variant,
    CAST(ROUND(value * 1000) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
), g AS (
  SELECT event_type, dow,
    CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(SUM(CASE WHEN variant = 'A' THEN v ELSE 0 END) AS BIGINT) AS sa,
    CAST(SUM(CASE WHEN variant = 'A' THEN v * v ELSE 0 END) AS BIGINT) AS s2a,
    CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
    CAST(SUM(CASE WHEN variant = 'B' THEN v ELSE 0 END) AS BIGINT) AS sb,
    CAST(SUM(CASE WHEN variant = 'B' THEN v * v ELSE 0 END) AS BIGINT) AS s2b
  FROM base GROUP BY 1, 2
), p AS (
  SELECT event_type, dow, {{z2}} AS p_ppm FROM g
), r AS (
  SELECT event_type, dow, p_ppm,
    CAST(ROW_NUMBER() OVER (ORDER BY p_ppm, event_type, dow) AS BIGINT) AS k,
    CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM p
), s AS (
  SELECT *,
    MIN(CASE WHEN p_ppm * (m - k + 1) <= 100000 THEN 1 ELSE 0 END)
      OVER (ORDER BY k) AS holm_ok,
    MAX(CASE WHEN p_ppm * (m - k + 1) <= 100000 THEN k ELSE 0 END)
      OVER () AS hoch_kmax
  FROM r
)
SELECT event_type, dow, p_ppm, k,
  CAST(holm_ok AS INT) AS holm_rejected,
  CAST(CASE WHEN k <= hoch_kmax THEN 1 ELSE 0 END AS INT)
    AS hochberg_rejected
FROM s
""".replace("{z2}", _Z2_SQL),
)
def q352_holm_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm step-down and Hochberg step-up corrections over the same
    35-hypothesis A/B grid q257's BH runs on — the FWER counterparts
    to BH's FDR (Holm: valid under any dependence, reject the
    ordered prefix while p_(i) ≤ α/(m−i+1); Hochberg: reject
    through the LARGEST k meeting the same bound — uniformly more
    powerful than Holm under independence). The prefix-AND is one
    cumulative MIN window; the step-up cut is one MAX window; both
    conditions are exact integer cross-multiplications at
    α = 0.1 ppm scale. A report showing BH, Holm and Hochberg
    columns side by side is the standard multiple-testing
    sensitivity panel. Columns: event_type, dow, p_ppm, k,
    holm_rejected, hochberg_rejected.

    Determinism: the q257 p-stage verbatim (exact moments, one IEEE
    tree, FLOOR-capped ppm); integer threshold comparisons; the
    (p, event_type, dow) unique rank order.

    Scale: identical to q257 — one partial-agg exchange to the
    35-row grid, windows on the grid.
    """
    p = _ab_dow_pvalues(spark, sf_dir)
    wk = Window.orderBy("p_ppm", "event_type", "dow")
    r = p.select(
        "event_type",
        "dow",
        "p_ppm",
        F.row_number().over(wk).cast("bigint").alias("k"),
        F.count("*")
        .over(Window.partitionBy(F.lit(1)))
        .cast("bigint")
        .alias("m"),
    )
    cond = F.when(
        F.col("p_ppm") * (F.col("m") - F.col("k") + 1) <= 100000, 1
    ).otherwise(0)
    condk = F.when(
        F.col("p_ppm") * (F.col("m") - F.col("k") + 1) <= 100000,
        F.col("k"),
    ).otherwise(0)
    s = r.select(
        "event_type",
        "dow",
        "p_ppm",
        "k",
        F.min(cond).over(Window.orderBy("k")).alias("holm_ok"),
        F.max(condk)
        .over(Window.partitionBy(F.lit(1)))
        .alias("hoch_kmax"),
    )
    return s.select(
        "event_type",
        "dow",
        "p_ppm",
        "k",
        F.col("holm_ok").cast("int").alias("holm_rejected"),
        F.when(F.col("k") <= F.col("hoch_kmax"), 1)
        .otherwise(0)
        .cast("int")
        .alias("hochberg_rejected"),
    )
