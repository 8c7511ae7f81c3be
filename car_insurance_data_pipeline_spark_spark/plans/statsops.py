"""Nonparametric / fixed-point statistics batch.

- q218 Mann-Whitney U (Wilcoxon rank-sum) with tie correction —
  the distribution-free complement to q202's two-proportion z-test:
  compares the event-value distributions of md5-routed A/B cohorts
  without assuming normality,
- q219 Kolmogorov-Smirnov two-sample statistic — max CDF gap
  between the same two cohorts, with the gap location,
- q220 fixed-point gradient-descent linear regression — three
  unrolled distributed GD steps where every gradient is an exact
  integer sum (micro-unit weights), so the iterative-ML training
  loop is bit-deterministic across engines and partitionings.

Scale design shared by q218/q219: the fact collapses in ONE
parallel hash-agg exchange to the distinct-value histogram
(per-variant counts), and ranks/CDFs come from a window over that
aggregated frame — the single-partition sort is bounded by
|distinct quantized values| (value range × 10³), never the corpus.
This is the standard scalable rank transform: rank arithmetic on
(value, count) histograms instead of per-row row_numbers.

Determinism: rank sums and tie terms are exact integers
(doubled-rank trick keeps half-ranks integral), accumulated in
DECIMAL(38,0); the only float work is one fixed IEEE closed form
(+,-,*,/,sqrt are all correctly rounded) followed by FLOOR-ppm
quantization; integer DIV is used only on non-negative operands
(Spark DIV truncates toward zero, DuckDB // floors — they agree
only at ≥0).
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

_VARIANT = (
    "CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'"
    " THEN 'A' ELSE 'B' END"
)


def _variant_col():
    return (
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) <= "7", "A"
        )
        .otherwise("B")
        .alias("variant")
    )


def _value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-value histogram of milli-quantized event values with
    per-variant counts — the shared scalable substrate for rank
    statistics (one fact exchange on v; |rows| = |distinct values|).
    """
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    vals = ev.select(
        _variant_col(),
        F.round(F.col("value") * 1000).cast("bigint").alias("v"),
    )
    return vals.groupBy("v").agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("cnt_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("cnt_b"),
        F.count("*").cast("bigint").alias("cnt"),
    )


_HIST_SQL = f"""
  SELECT CAST(ROUND(value * 1000) AS BIGINT) AS v,
    CAST(SUM(CASE WHEN {_VARIANT} = 'A' THEN 1 ELSE 0 END) AS BIGINT)
      AS cnt_a,
    CAST(SUM(CASE WHEN {_VARIANT} = 'B' THEN 1 ELSE 0 END) AS BIGINT)
      AS cnt_b,
    CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1
"""


@query(
    "q218_mann_whitney_u",
    oracle=f"""
WITH g AS ({_HIST_SQL}
), r AS (
  SELECT cnt_a, cnt_b, cnt,
    COALESCE(SUM(cnt) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM g
), m AS (
  SELECT
    CAST(SUM(cnt_a) AS BIGINT) AS n_a,
    CAST(SUM(cnt_b) AS BIGINT) AS n_b,
    SUM(CAST(cnt_a * (2 * cum + cnt + 1) AS DECIMAL(38, 0))) AS two_r_a,
    SUM(CAST(cnt * cnt * cnt - cnt AS DECIMAL(38, 0))) AS ties
  FROM r
)
SELECT n_a, n_b,
  CAST(two_r_a - CAST(n_a AS DECIMAL(38, 0)) * (n_a + 1) AS BIGINT)
    AS u2_a,
  CASE WHEN n_a > 0 AND n_b > 0 AND
    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
    * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
       - CAST(ties AS DOUBLE)
         / (CAST(n_a + n_b AS DOUBLE)
            * (CAST(n_a + n_b AS DOUBLE) - 1.0))) > 0.0
  THEN CAST(FLOOR(
    (CAST(two_r_a - CAST(n_a AS DECIMAL(38, 0)) * (n_a + 1) AS DOUBLE)
     - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
    / (2.0 * SQRT(
        (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
        * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
           - CAST(ties AS DOUBLE)
             / (CAST(n_a + n_b AS DOUBLE)
                * (CAST(n_a + n_b AS DOUBLE) - 1.0)))
      )) * 1000000
  ) AS BIGINT) ELSE NULL END AS z_ppm
FROM m
""",
)
def q218_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between the A/B
    cohorts' event-value distributions, with the normal
    approximation's tie-corrected z. Ranks are never assigned
    per row: the doubled average rank of a tied group is the exact
    integer 2·cum_before + cnt + 1, so the doubled rank sum 2R_A is
    an integer accumulated from the value histogram, and
    2U_A = 2R_A − n_a(n_a+1). Columns: n_a, n_b, u2_a, z_ppm.

    Determinism: all rank arithmetic is exact integer/DECIMAL; the
    z closed form uses only IEEE-exact ops on identical doubles,
    FLOOR-ppm quantized; a zero tie-corrected variance (all values
    identical) yields NULL z in both engines.

    Scale: one exchange on v collapses the fact to the distinct-
    value histogram (map-side partial agg); the cumulative window
    sorts only that bounded frame (quantized value range), the
    documented single-reducer-on-aggregate trade. Tie terms stay
    in int64 (cnt³ ≤ 8·10¹⁸ needs cnt < 2·10⁶ per distinct value —
    beyond that, pre-cast the cube to DECIMAL) and accumulate in
    DECIMAL(38,0).
    """
    g = _value_histogram(spark, sf_dir)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "cnt_a",
        "cnt_b",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum"),
    )
    m = r.agg(
        F.sum("cnt_a").cast("bigint").alias("n_a"),
        F.sum("cnt_b").cast("bigint").alias("n_b"),
        F.sum(
            (F.col("cnt_a") * (2 * F.col("cum") + F.col("cnt") + 1)).cast(
                "decimal(38,0)"
            )
        ).alias("two_r_a"),
        F.sum(
            (F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")).cast(
                "decimal(38,0)"
            )
        ).alias("ties"),
    )
    u2 = (
        F.col("two_r_a")
        - F.col("n_a").cast("decimal(38,0)") * (F.col("n_a") + 1)
    )
    nad = F.col("n_a").cast("double")
    nbd = F.col("n_b").cast("double")
    nd = (F.col("n_a") + F.col("n_b")).cast("double")
    sig2 = (nad * nbd / F.lit(12.0)) * (
        (nd + F.lit(1.0)) - F.col("ties").cast("double") / (nd * (nd - F.lit(1.0)))
    )
    z = (u2.cast("double") - nad * nbd) / (F.lit(2.0) * F.sqrt(sig2))
    return m.select(
        "n_a",
        "n_b",
        u2.cast("bigint").alias("u2_a"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0) & (sig2 > 0.0),
            F.floor(z * 1000000).cast("bigint"),
        ).alias("z_ppm"),
    )


@query(
    "q219_ks_two_sample",
    oracle=f"""
WITH g AS ({_HIST_SQL}
), c AS (
  SELECT v,
    SUM(cnt_a) OVER w AS ca,
    SUM(cnt_b) OVER w AS cb
  FROM g
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), d0 AS (
  SELECT v, ca, cb,
    ABS(ca * MAX(cb) OVER () - cb * MAX(ca) OVER ()) AS d_num,
    MAX(ca) OVER () AS n_a, MAX(cb) OVER () AS n_b
  FROM c
), d AS (
  SELECT v, n_a, n_b, d_num, MAX(d_num) OVER () AS d_max FROM d0
)
SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
  CAST(MAX(n_b) AS BIGINT) AS n_b,
  CAST(MAX(d_num) * 1000000 // (MAX(n_a) * MAX(n_b)) AS BIGINT)
    AS d_ppm,
  CAST(MIN(v) AS BIGINT) AS ks_at_milli,
  CAST(FLOOR(
    CAST(MAX(d_num) AS DOUBLE)
    / (CAST(MAX(n_a) AS DOUBLE) * CAST(MAX(n_b) AS DOUBLE))
    * SQRT(CAST(MAX(n_a) AS DOUBLE) * CAST(MAX(n_b) AS DOUBLE)
           / (CAST(MAX(n_a) AS DOUBLE) + CAST(MAX(n_b) AS DOUBLE)))
    * 1000000
  ) AS BIGINT) AS ks_scaled_ppm
FROM d WHERE d_num = d_max
""",
)
def q219_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the A/B
    cohorts: the maximum empirical-CDF gap D, its location (smallest
    value achieving it), and the scaled statistic D·√(n_a·n_b/N).
    The gap is kept exact as the integer cross-multiply
    |ca·n_b − cb·n_a| until the final ppm quantization. Columns:
    n_a, n_b, d_ppm, ks_at_milli, ks_scaled_ppm.

    Determinism: cumulative counts are exact integers; the argmax
    tie-breaks to the smallest value; d_ppm uses integer DIV on
    non-negative operands; the scaled form is one IEEE closed form,
    FLOOR-ppm quantized.

    Scale: identical substrate to q218 — one fact exchange to the
    value histogram, then cumulative/total windows over the bounded
    aggregated frame in a single sort (totals are MAX of the
    inclusive cumulative, so no second pass and no branch that
    would re-scan the fact).
    """
    g = _value_histogram(spark, sf_dir)
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = g.select(
        "v",
        F.sum("cnt_a").over(wcum).alias("ca"),
        F.sum("cnt_b").over(wcum).alias("cb"),
    )
    d = c.select(
        "v",
        (F.abs(
            F.col("ca") * F.max("cb").over(wall)
            - F.col("cb") * F.max("ca").over(wall)
        )).alias("d_num"),
        F.max("ca").over(wall).alias("n_a"),
        F.max("cb").over(wall).alias("n_b"),
    ).withColumn("d_max", F.max("d_num").over(wall))
    nad = F.max("n_a").cast("double")
    nbd = F.max("n_b").cast("double")
    return (
        d.filter(F.col("d_num") == F.col("d_max"))
        .agg(
            F.max("n_a").cast("bigint").alias("n_a"),
            F.max("n_b").cast("bigint").alias("n_b"),
            F.expr(
                "CAST(MAX(d_num) * 1000000 DIV (MAX(n_a) * MAX(n_b))"
                " AS BIGINT)"
            ).alias("d_ppm"),
            F.min("v").cast("bigint").alias("ks_at_milli"),
            F.floor(
                F.max("d_num").cast("double")
                / (nad * nbd)
                * F.sqrt(nad * nbd / (nad + nbd))
                * 1000000
            )
            .cast("bigint")
            .alias("ks_scaled_ppm"),
        )
    )


def _gd_step(li: DataFrame, prev: DataFrame) -> DataFrame:
    """One distributed GD pass: broadcast the 1-row (w_micro,
    b_micro) state onto the fact, accumulate the exact integer
    gradients in DECIMAL(38,0), and emit the next 1-row state."""
    r_u = (
        F.col("w_micro") * F.col("x")
        + F.col("b_micro")
        - F.lit(1000000) * F.col("y")
    )
    stepped = (
        li.crossJoin(F.broadcast(prev))
        .select(
            "w_micro",
            "b_micro",
            r_u.alias("r_u"),
            "x",
        )
        .agg(
            F.max("w_micro").alias("w_prev"),
            F.max("b_micro").alias("b_prev"),
            F.sum((F.col("r_u") * F.col("x")).cast("decimal(38,0)")).alias("gw"),
            F.sum(F.col("r_u").cast("decimal(38,0)")).alias("gb"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    nd = F.col("n").cast("double")
    return stepped.select(
        (
            F.col("w_prev")
            - F.floor(F.col("gw").cast("double") / nd / F.lit(1024.0))
        ).alias("w_micro"),
        (
            F.col("b_prev")
            - F.floor(F.col("gb").cast("double") / nd / F.lit(1024.0))
        ).alias("b_micro"),
        "n",
    )


_GD_STEP_SQL = """
  SELECT
    CAST(w_micro - FLOOR(CAST(SUM(CAST(
        (w_micro * x + b_micro - 1000000 * y) * x AS DECIMAL(38, 0)))
      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1024.0) AS BIGINT)
      AS w_micro,
    CAST(b_micro - FLOOR(CAST(SUM(CAST(
        w_micro * x + b_micro - 1000000 * y AS DECIMAL(38, 0)))
      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1024.0) AS BIGINT)
      AS b_micro,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM xy, {prev}
  GROUP BY w_micro, b_micro
"""


@query(
    "q220_gd_linear_regression",
    oracle="""
WITH xy AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
), it0 AS (
  SELECT CAST(0 AS BIGINT) AS w_micro, CAST(0 AS BIGINT) AS b_micro
), it1 AS (%s), it2 AS (%s), it3 AS (%s)
SELECT n, w_micro, b_micro FROM it3
"""
    % (
        _GD_STEP_SQL.format(prev="it0"),
        _GD_STEP_SQL.format(prev="it1"),
        _GD_STEP_SQL.format(prev="it2"),
    ),
)
def q220_gd_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point distributed gradient descent: three unrolled GD
    passes fitting price_cents ≈ w·quantity + b, with weights held
    in integer micro-units. Each pass broadcasts the 1-row (w, b)
    state onto the fact, the per-row scaled residual
    r = w_µ·x + b_µ − 10⁶·y stays in int64, gradients accumulate
    EXACTLY in DECIMAL(38,0), and the update quantizes once through
    a fixed IEEE closed form (η = 1/1024, an exact binary double).
    This is the iterative-ML training shape (same loop skeleton as
    q136's k-means) made bit-deterministic: no float accumulation
    ever crosses a partition boundary, so the result is independent
    of partitioning and reduce order. Columns: n, w_micro, b_micro.

    Determinism: gradients are exact integer sums in DECIMAL; the
    only float work is decimal→double (correctly rounded, exact
    integers well inside 2^1024) then two IEEE divisions and FLOOR —
    identical expression trees in both engines; the learning rate is
    a negative power of two, exactly representable.

    Scale: each iteration is one map-side-combined global aggregate
    (a broadcast of the 1-row state, zero shuffle of the fact beyond
    the partial-agg tree). Three passes = three fact scans — the
    inherent cost of synchronous GD, the same trade q136 documents;
    at 100 TB you cache the (x, y) projection once and the passes
    reuse it. int64 bounds: |r| ≤ w_µ·x_max + 10⁶·y_max ≈ 10¹³·50 —
    per-row products stay under 2^63; the DECIMAL sums carry the
    corpus factor.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    state = spark.range(1).select(
        F.lit(0).cast("bigint").alias("w_micro"),
        F.lit(0).cast("bigint").alias("b_micro"),
    )
    for _ in range(3):
        state = _gd_step(li, state)
    return state.select("n", "w_micro", "b_micro")


_LN2 = "0.6931471805599453"


@query(
    "q222_token_entropy_filter",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(
    regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents WHERE trim(text) <> ''
), wc AS (
  SELECT doc_id, lang, w, CAST(COUNT(*) AS BIGINT) AS n
  FROM toks GROUP BY 1, 2, 3
), wl AS (
  SELECT doc_id, lang, n,
    SUM(n) OVER (PARTITION BY doc_id) AS l
  FROM wc
), terms AS (
  SELECT doc_id, lang,
    CAST(FLOOR(
      CAST(n AS DOUBLE) / CAST(l AS DOUBLE)
      * ln(CAST(l AS DOUBLE) / CAST(n AS DOUBLE)) / {_LN2}
      * 1000000000000
    ) AS BIGINT) AS term_pico
  FROM wl
), h AS (
  SELECT doc_id, lang, CAST(SUM(term_pico) AS BIGINT) AS h_pico
  FROM terms GROUP BY 1, 2
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN h_pico < 3500000000000 THEN 1 ELSE 0 END)
    AS BIGINT) AS n_low_entropy,
  CAST(SUM(h_pico) // COUNT(*) AS BIGINT) AS avg_h_pico
FROM h GROUP BY lang
""",
)
def q222_token_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-entropy quality screen: per-document Shannon entropy of
    the token distribution (in bits — low entropy flags repetitive /
    template / gibberish-loop text, a standard pretraining-corpus
    filter), rolled up per language as (doc count, low-entropy count
    at the 3.5-bit gate, average entropy). Columns: lang, n_docs,
    n_low_entropy, avg_h_pico.

    Determinism: each entropy term −(n/L)·log₂(n/L) is one fixed
    IEEE tree (ln is the engines' agreed libm path, the q61 TF-IDF
    precedent; log₂ divides by an exact double LITERAL for ln 2, not
    an engine-evaluated ln(2)) and is FLOOR-quantized to integer
    pico-bits BEFORE any sum — so every cross-partition accumulation
    is exact integer arithmetic, immune to reduce order. The average
    is integer DIV on non-negative operands.

    Scale: ONE fact-wide exchange — the corpus repartitions on
    doc_id once; the (doc, word) count, the per-doc length window,
    and the per-doc entropy sum all run on that distribution
    (HashPartitioning(doc_id) satisfies every clustering downstream),
    and only the |langs|-row rollup exchanges again. Entropy
    filtering 100 TB is therefore scan + one shuffle of the token
    multiset.
    """
    from car_insurance_data_pipeline_spark_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    toks = d.select(
        "doc_id", "lang", F.explode(tokens(F.lower(F.col("text")))).alias("w")
    )
    wc = (
        toks.repartition("doc_id")
        .groupBy("doc_id", "lang", "w")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    wl = wc.select(
        "doc_id",
        "lang",
        "n",
        F.sum("n").over(Window.partitionBy("doc_id")).alias("l"),
    )
    term = F.floor(
        F.col("n").cast("double")
        / F.col("l").cast("double")
        * F.log(F.col("l").cast("double") / F.col("n").cast("double"))
        / F.lit(float(_LN2))
        * F.lit(1000000000000)
    ).cast("bigint")
    h = (
        wl.select("doc_id", "lang", term.alias("term_pico"))
        .groupBy("doc_id", "lang")
        .agg(F.sum("term_pico").cast("bigint").alias("h_pico"))
    )
    return h.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("h_pico") < 3500000000000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_low_entropy"),
        F.expr("CAST(SUM(h_pico) DIV COUNT(*) AS BIGINT)").alias("avg_h_pico"),
    )


@query(
    "q223_mutual_information",
    oracle=f"""
WITH joint AS (
  SELECT event_type AS t, epoch_us(ts) // 3600000000 % 24 AS h,
    CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM joint
), mt AS (
  SELECT t, CAST(SUM(c) AS BIGINT) AS cx FROM joint GROUP BY t
), mh AS (
  SELECT h, CAST(SUM(c) AS BIGINT) AS cy FROM joint GROUP BY h
), ht AS (
  SELECT CAST(SUM(CAST(FLOOR(
    CAST(cx AS DOUBLE) / CAST(n AS DOUBLE)
    * ln(CAST(n AS DOUBLE) / CAST(cx AS DOUBLE)) / {_LN2}
    * 1000000000000) AS BIGINT)) AS BIGINT) AS h_type_pico
  FROM mt, tot
), hh AS (
  SELECT CAST(SUM(CAST(FLOOR(
    CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)
    * ln(CAST(n AS DOUBLE) / CAST(cy AS DOUBLE)) / {_LN2}
    * 1000000000000) AS BIGINT)) AS BIGINT) AS h_hour_pico
  FROM mh, tot
), mi AS (
  SELECT CAST(SUM(CAST(FLOOR(
    CAST(j.c AS DOUBLE) / CAST(n AS DOUBLE)
    * ln(CAST(j.c AS DOUBLE) * CAST(n AS DOUBLE)
         / (CAST(mt.cx AS DOUBLE) * CAST(mh.cy AS DOUBLE))) / {_LN2}
    * 1000000000000) AS BIGINT)) AS BIGINT) AS mi_pico
  FROM joint j JOIN mt USING (t) JOIN mh USING (h), tot
)
SELECT tot.n, ht.h_type_pico, hh.h_hour_pico, mi.mi_pico,
  CAST(mi.mi_pico * 1000000
    // LEAST(ht.h_type_pico, hh.h_hour_pico) AS BIGINT) AS nmi_ppm
FROM tot, ht, hh, mi
""",
)
def q223_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and hour-of-day — the
    information-theoretic dependence profile behind q209's
    chi-square (MI additionally quantifies HOW MUCH the hour tells
    you about the type, in bits), plus both marginal entropies and
    the normalized MI. Columns: n, h_type_pico, h_hour_pico,
    mi_pico, nmi_ppm.

    Determinism: every entropy/MI term is a fixed IEEE tree over
    exact integer counts, FLOOR-quantized to pico-bits BEFORE
    summation (exact integer accumulation, reduce-order immune);
    log₂ divides by the exact ln-2 double literal; NMI is an integer
    cross-multiply DIV on non-negative operands.

    Scale: the fact collapses in ONE hash exchange to the
    |types|×24 joint table; the joint frame localCheckpoints
    (kilobytes) so the marginal/entropy branches never re-scan the
    fact, and every downstream frame is contingency-sized. This is
    the feature-selection MI pattern: at 100 TB you compute
    thousands of (feature, target) MI scores from one pass of joint
    counts, never from per-pair corpus passes.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    joint = (
        events_with_us(spark, sf_dir)
        .select(
            F.col("event_type").alias("t"),
            F.expr("ts_us DIV 3600000000 % 24").alias("h"),
        )
        .groupBy("t", "h")
        .agg(F.count("*").cast("bigint").alias("c"))
        .transform(checkpoint)
    )
    tot = joint.agg(F.sum("c").cast("bigint").alias("n"))
    mt = joint.groupBy("t").agg(F.sum("c").cast("bigint").alias("cx"))
    mh = joint.groupBy("h").agg(F.sum("c").cast("bigint").alias("cy"))
    ln2 = F.lit(float(_LN2))
    pico = F.lit(1000000000000)

    def _ent(cnt, n):
        return F.floor(
            cnt.cast("double")
            / n.cast("double")
            * F.log(n.cast("double") / cnt.cast("double"))
            / ln2
            * pico
        ).cast("bigint")

    ht = mt.crossJoin(F.broadcast(tot)).agg(
        F.sum(_ent(F.col("cx"), F.col("n"))).cast("bigint").alias("h_type_pico")
    )
    hh = mh.crossJoin(F.broadcast(tot)).agg(
        F.sum(_ent(F.col("cy"), F.col("n"))).cast("bigint").alias("h_hour_pico")
    )
    mi_term = F.floor(
        F.col("c").cast("double")
        / F.col("n").cast("double")
        * F.log(
            F.col("c").cast("double")
            * F.col("n").cast("double")
            / (F.col("cx").cast("double") * F.col("cy").cast("double"))
        )
        / ln2
        * pico
    ).cast("bigint")
    mi = (
        joint.join(mt, "t")
        .join(F.broadcast(mh), "h")
        .crossJoin(F.broadcast(tot))
        .agg(F.sum(mi_term).cast("bigint").alias("mi_pico"))
    )
    return (
        tot.crossJoin(F.broadcast(ht))
        .crossJoin(F.broadcast(hh))
        .crossJoin(F.broadcast(mi))
        .select(
            "n",
            "h_type_pico",
            "h_hour_pico",
            "mi_pico",
            F.expr(
                "CAST(mi_pico * 1000000"
                " DIV LEAST(h_type_pico, h_hour_pico) AS BIGINT)"
            ).alias("nmi_ppm"),
        )
    )


@query(
    "q224_weighted_sample",
    oracle="""
WITH keyed AS (
  SELECT lang, doc_id, n_chars,
    ln((CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13)
             AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0)
    / CAST(n_chars AS DOUBLE) AS k
  FROM documents WHERE n_chars > 0
), ranked AS (
  SELECT lang, doc_id, n_chars, k,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY k DESC, doc_id)
      AS rn
  FROM keyed
)
SELECT lang, CAST(rn AS INT) AS rn, doc_id, n_chars,
  CAST(FLOOR(k * 1000000000) AS BIGINT) AS key_nano
FROM ranked WHERE rn <= 5
""",
)
def q224_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling (Efraimidis-Spirakis A-Res,
    IPL 2006): the top-5 documents per language under the key
    u^(1/w) — equivalently max ln(u)/w — with weight w = n_chars,
    so longer documents are proportionally likelier to be drawn.
    This is THE one-pass weighted-sampling primitive for training-
    mix construction: deterministic because u comes from the first
    52 md5 bits of the doc id ((v + 0.5)/2⁵², an exact double),
    not an RNG. Columns: lang, rn, doc_id, n_chars, key_nano.

    Determinism: identical md5 digests both engines; u and the key
    are fixed IEEE trees (ln agrees cross-engine, the q61
    precedent); float-key ties break on doc_id, so the selected set
    is identical even at equal keys.

    Scale: a narrow map computes keys in the scan stage; the only
    exchange is the per-language top-k window. One reducer per
    language processes that language's keys — bounded by corpus/
    |langs|; at extreme skew the standard refinement is a local
    per-partition top-k before the window (same answer, the window
    then sees ≤ k·partitions rows), which this plan trades away for
    simplicity at the current fixture scale.
    """
    d = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    v = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
    ).cast("bigint")
    u = (v.cast("double") + F.lit(0.5)) / F.lit(4503599627370496.0)
    keyed = d.select(
        "lang",
        "doc_id",
        "n_chars",
        (F.log(u) / F.col("n_chars").cast("double")).alias("k"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("k").desc(), "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "lang",
            F.col("rn").cast("int").alias("rn"),
            "doc_id",
            "n_chars",
            F.floor(F.col("k") * 1000000000).cast("bigint").alias("key_nano"),
        )
    )


@query(
    "q225_theil_sen_slope",
    oracle="""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
    CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS tot
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type,
    CAST(b.tot - a.tot AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope,
    a.d AS d1, b.d AS d2
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
), ranked AS (
  SELECT event_type, slope,
    ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY slope, d1, d2) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS n_pairs
  FROM pairs
)
SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
  CAST(FLOOR(slope) AS BIGINT) AS slope_milli_per_day
FROM ranked WHERE rn = (n_pairs + 1) // 2
""",
)
def q225_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: per event type, the MEDIAN of all
    pairwise slopes of the daily-total series — the
    breakdown-resistant complement to q201's OLS (one wild day
    corrupts OLS; Theil-Sen shrugs off 29% contamination). The
    lower median is picked by exact rank, tie-broken on the day
    pair. Columns: event_type, n_pairs, slope_milli_per_day.

    Determinism: daily totals are exact integer milli-sums; each
    pairwise slope is ONE IEEE division of exact integers
    (bit-identical cross-engine); rank ordering tie-breaks on
    (d1, d2); the output quantizes the single selected slope.

    Scale: the fact collapses to the daily frame first (one
    exchange, |types|·|days| rows — TIME-bound, not corpus-bound),
    localCheckpoints, and the O(days²) pair join runs on that
    bounded frame: ~n²/2 pairs per type where n = observed days,
    CONSTANT in corpus size. The per-type median window is likewise
    time-bound. This is why Theil-Sen — quadratic in SERIES length —
    is still a one-liner at 100 TB: the series, not the corpus,
    carries the quadratic.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    daily = (
        events_with_us(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr("ts_us DIV 86400000000").alias("d"),
            F.round(F.col("value") * 1000).cast("bigint").alias("v"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("v").cast("bigint").alias("tot"))
        .transform(checkpoint)
    )
    a = daily.select(
        "event_type", F.col("d").alias("d1"), F.col("tot").alias("t1")
    )
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("d2"),
        F.col("tot").alias("t2"),
    )
    pairs = a.join(
        b, (a["event_type"] == b["et2"]) & (a["d1"] < b["d2"])
    ).select(
        "event_type",
        (
            (F.col("t2") - F.col("t1")).cast("double")
            / (F.col("d2") - F.col("d1")).cast("double")
        ).alias("slope"),
        "d1",
        "d2",
    )
    wr = Window.partitionBy("event_type").orderBy("slope", "d1", "d2")
    wc = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wc).alias("n_pairs"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(n_pairs + 1) DIV 2")
    ).select(
        "event_type",
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.floor("slope").cast("bigint").alias("slope_milli_per_day"),
    )


@query(
    "q226_label_centroid_cosine",
    oracle="""
WITH comp AS (
  SELECT label, i AS dim,
    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)
), sums AS (
  SELECT label, dim, CAST(SUM(q) AS BIGINT) AS s
  FROM comp GROUP BY 1, 2
), norms AS (
  SELECT label,
    SUM(CAST(s * s AS DECIMAL(38, 0))) AS nrm
  FROM sums GROUP BY label
), dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
    SUM(CAST(a.s * b.s AS DECIMAL(38, 0))) AS dot
  FROM sums a JOIN sums b ON a.dim = b.dim AND a.label < b.label
  GROUP BY 1, 2
)
SELECT CAST(label_a AS INT) AS label_a,
  CAST(label_b AS INT) AS label_b,
  CAST(FLOOR(
    CAST(dot AS DOUBLE)
    / (SQRT(CAST(na.nrm AS DOUBLE)) * SQRT(CAST(nb.nrm AS DOUBLE)))
    * 1000000
  ) AS BIGINT) AS cos_ppm
FROM dots
JOIN norms na ON na.label = dots.label_a
JOIN norms nb ON nb.label = dots.label_b
""",
)
def q226_label_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    centroids — the cluster-summary / class-confusability matrix a
    curation pipeline computes to find label groups worth merging
    or rebalancing (centroid cosine equals mean-vector cosine, and
    unnormalized component SUMS suffice: the doc-count denominators
    cancel inside cosine). Columns: label_a, label_b, cos_ppm.

    Determinism: each float component quantizes to integer
    micro-units BEFORE any aggregation, so centroid sums are exact
    integers; dots/norms accumulate in DECIMAL(38,0); the final
    cosine is one fixed IEEE tree (√ correctly rounded), FLOOR-ppm
    quantized.

    Scale: one exchange collapses the corpus to the
    |labels|·|dims| component-sum table (map-side combined); it
    localCheckpoints at kilobytes and the pair join + norms run on
    that grid — the |labels|² matrix costs arithmetic, not passes.
    At 100 TB this is the standard "sufficient statistics first"
    shape: the corpus is touched once, every similarity question
    afterwards is grid-sized.
    """
    e = table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "label",
        "dim",
        F.floor(F.col("val").cast("double") * 1000000).cast("bigint").alias("q"),
    )
    sums = (
        comp.groupBy("label", "dim")
        .agg(F.sum("q").cast("bigint").alias("s"))
        .transform(checkpoint)
    )
    norms = sums.groupBy("label").agg(
        F.sum((F.col("s") * F.col("s")).cast("decimal(38,0)")).alias("nrm")
    )
    a = sums.select(
        F.col("label").alias("label_a"), "dim", F.col("s").alias("sa")
    )
    b = sums.select(
        F.col("label").alias("label_b"),
        F.col("dim").alias("dim_b"),
        F.col("s").alias("sb"),
    )
    dots = (
        a.join(b, (a["dim"] == b["dim_b"]) & (a["label_a"] < b["label_b"]))
        .groupBy("label_a", "label_b")
        .agg(F.sum((F.col("sa") * F.col("sb")).cast("decimal(38,0)")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("la"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("label").alias("lb"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), dots["label_a"] == na["la"])
        .join(F.broadcast(nb), dots["label_b"] == nb["lb"])
        .select(
            F.col("label_a").cast("int").alias("label_a"),
            F.col("label_b").cast("int").alias("label_b"),
            F.floor(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                )
                * 1000000
            )
            .cast("bigint")
            .alias("cos_ppm"),
        )
    )


_POWER_ITER_SQL = """
  , u{K} AS (
    SELECT c.vec_id,
      CAST(FLOOR(CAST(SUM(c.q * p.v) AS DOUBLE) / 1000000.0)
        AS BIGINT) AS u
    FROM comp c JOIN v{P} p ON p.dim = c.dim
    GROUP BY c.vec_id
  ), w{K} AS (
    SELECT c.dim,
      SUM(CAST(c.q * u.u AS DECIMAL(38, 0))) AS w
    FROM comp c JOIN u{K} u ON u.vec_id = c.vec_id
    GROUP BY c.dim
  ), m{K} AS (
    SELECT MAX(ABS(w)) AS m FROM w{K}
  ), v{K} AS (
    SELECT dim,
      CAST(FLOOR(CAST(w AS DOUBLE) / CAST(m AS DOUBLE) * 1000000.0)
        AS BIGINT) AS v
    FROM w{K}, m{K}
  )
"""


@query(
    "q227_power_iteration_pca",
    oracle="""
WITH comp AS (
  SELECT vec_id, i - 1 AS dim,
    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)
), v0 AS (
  SELECT DISTINCT dim, CAST(1000000 AS BIGINT) AS v FROM comp
)%s
SELECT CAST(dim AS INT) AS dim, v AS v_micro FROM v3
"""
    % (
        _POWER_ITER_SQL.format(K=1, P=0)
        + _POWER_ITER_SQL.format(K=2, P=1)
        + _POWER_ITER_SQL.format(K=3, P=2)
    ),
)
def q227_power_iteration_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed power iteration: three unrolled Gram-matrix
    power steps extracting the top principal direction of the
    (uncentered) embedding cloud — the iterative-linear-algebra
    workhorse behind PCA whitening, spectral embedding sanity
    checks, and dominant-topic extraction. Each step is the two
    matvecs u = Xv (per-vector dot with the broadcast 64-value
    state) and w = Xᵀu (per-dimension reduce), then an ∞-norm
    renormalization back to integer micro-units. Columns: dim,
    v_micro.

    Determinism: components quantize to integer micro-units at the
    scan; u = Xv is an exact int64 sum FLOOR-rescaled through an
    exactly-representable double (≤2¹⁴ · 10⁶ · 64 < 2⁵³); w = Xᵀu
    keeps per-row products in int64 and accumulates in
    DECIMAL(38,0); the renormalization is one IEEE division of
    correctly-rounded casts, FLOOR-quantized — every cross-partition
    sum is integer or decimal, reduce-order immune.

    Scale (r6 verdict #4 rewrite): the vectors are NEVER exploded
    into a corpus-sized component table — the earlier exploded form
    needed a vec_id repartition whose co-location the per-iteration
    matvec joins were meant to reuse, but AQE leaves checkpointed
    frames with UnknownPartitioning (measured: both eager and lazy
    localCheckpoint, BY_COL and BY_NUM repartition), so both
    corpus-sized sides re-shuffled every pass (112× shuffle at 30×).
    Instead each vector stays ONE array row: u = Xv is a narrow
    per-row dot product against the broadcast 64-value state
    (zip_with + aggregate, pure codegen), and w = Xᵀu posexplodes
    per row into (dim, q·u) whose groupBy(dim) partial-aggregates
    to 64 rows per map partition before the exchange. Per
    iteration: zero joins, zero corpus-sized exchanges — only the
    64-row reduce and a 1-row state broadcast cross the wire, at
    ANY corpus size. The matvec state round-trips through a 64-row
    frame (checkpointed per step: w feeds both the norm branch and
    the next state — un-checkpointed, u ran 12× instead of 3×).
    """
    e = table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("q"),
    ).transform(checkpoint)
    # v0 = all-ones (micro-units) over the vector width, as a 1-row
    # broadcastable array frame
    vb = vecs.groupBy().agg(
        F.expr(
            "transform(sequence(1, max(size(q))),"
            " i -> CAST(1000000 AS BIGINT))"
        ).alias("varr")
    )
    v = None
    for _ in range(3):
        # u = Xv per row: exact int64 dot of micro-quantized values
        # (|q·v| ≤ 10⁶·10⁶·64 < 2⁵³ — the double FLOOR-rescale is
        # exact), computed in a projection BEFORE the posexplode so
        # it is evaluated once per vector, not once per component
        rows = vecs.crossJoin(F.broadcast(vb)).select(
            "q",
            F.floor(
                F.aggregate(
                    F.zip_with("q", "varr", lambda x, y: x * y),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x,
                ).cast("double")
                / F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("u"),
        )
        # w = Xᵀu: per-row products stay int64 (≤ 10⁶·10⁸), the
        # cross-row accumulation is DECIMAL(38,0) — reduce-order
        # immune; partial agg collapses to 64 rows per partition
        w = (
            rows.select(F.posexplode("q").alias("dim", "qi"), "u")
            .groupBy("dim")
            .agg(
                F.sum((F.col("qi") * F.col("u")).cast("decimal(38,0)")).alias(
                    "w"
                )
            )
            .transform(checkpoint)
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = (
            w.crossJoin(F.broadcast(m))
            .select(
                "dim",
                F.floor(
                    F.col("w").cast("double")
                    / F.col("m").cast("double")
                    * F.lit(1000000.0)
                )
                .cast("bigint")
                .alias("v"),
            )
            .transform(checkpoint)
        )
        vb = v.groupBy().agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, v))),"
                " s -> s.v)"
            ).alias("varr")
        )
    return v.select(F.col("dim").cast("int").alias("dim"), F.col("v").alias("v_micro"))


@query(
    "q228_l_diversity",
    oracle="""
SELECT CAST(c.c_nationkey AS INT) AS nation,
  c.c_mktsegment AS segment,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(COUNT(DISTINCT o.o_orderpriority) AS BIGINT) AS l_distinct,
  CAST(CASE WHEN COUNT(DISTINCT o.o_orderpriority) < 3
       THEN 1 ELSE 0 END AS INT) AS violates_l3
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY 1, 2
""",
)
def q228_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the privacy metric that k-anonymity
    (q146) misses: a quasi-identifier group can be large (k-safe)
    yet still leak if every row shares the SAME sensitive value.
    Per (nation, market-segment) group over the order fact, report
    the group size, the number of DISTINCT sensitive values
    (order priority), and whether the group violates l = 3.
    Columns: nation, segment, n_rows, l_distinct, violates_l3.

    Determinism: pure counts and distinct counts.

    Scale: customer broadcasts onto the fact; COUNT(DISTINCT)
    compiles to the standard two-phase Expand aggregate — partial
    per-(group, sensitive) collapse map-side, then the group
    rollup; state is bounded by |groups|·|sensitive values|, never
    the fact. The release gate (suppress violating groups before
    publishing) is one filter on this frame.
    """
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").cast("int").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("o_orderpriority").cast("bigint").alias("l_distinct"),
        )
        .withColumn(
            "violates_l3",
            F.when(F.col("l_distinct") < 3, 1).otherwise(0).cast("int"),
        )
    )


_KM_TABLE_SQL = """
  SELECT dur, CAST(SUM(event) AS BIGINT) AS d,
    CAST(SUM(1 - event) AS BIGINT) AS c
  FROM (
    SELECT user_id,
      CASE WHEN MIN(CASE WHEN event_type = 'purchase'
                    THEN epoch_us(ts) END) IS NOT NULL
        THEN (MIN(CASE WHEN event_type = 'purchase'
                  THEN epoch_us(ts) END) - MIN(epoch_us(ts)))
             // 86400000000
        ELSE (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 86400000000
      END AS dur,
      CASE WHEN MIN(CASE WHEN event_type = 'purchase'
                    THEN epoch_us(ts) END) IS NOT NULL
        THEN 1 ELSE 0 END AS event
    FROM events WHERE user_id IS NOT NULL
    GROUP BY user_id
  ) GROUP BY dur
"""


@query(
    "q229_kaplan_meier",
    oracle=f"""
WITH RECURSIVE km0 AS ({_KM_TABLE_SQL}
), km AS (
  SELECT dur, d, c,
    CAST(ROW_NUMBER() OVER (ORDER BY dur) AS BIGINT) AS rn,
    CAST(SUM(d + c) OVER (ORDER BY dur
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      - (d + c) AS removed_before,
    CAST(SUM(d + c) OVER () AS BIGINT) AS n_total
  FROM km0
), rec AS (
  SELECT CAST(0 AS BIGINT) AS rn, CAST(1000000 AS BIGINT) AS s
  UNION ALL
  SELECT km.rn,
    (rec.s * ((km.n_total - km.removed_before) - km.d))
      // (km.n_total - km.removed_before)
  FROM rec JOIN km ON km.rn = rec.rn + 1
)
SELECT km.dur AS dur_days,
  km.n_total - km.removed_before AS n_risk,
  km.d AS d_events, km.c AS c_censored,
  rec.s AS s_ppm
FROM km JOIN rec ON rec.rn = km.rn
""",
)
def q229_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of time-to-first-purchase:
    per user, the duration from first activity to first purchase
    (event) or to last-seen (right-censored); the product-limit
    curve S(t) = Π(1 − dᵢ/nᵢ) then runs as an EXACT INTEGER
    recurrence in ppm — sᵢ = (sᵢ₋₁·(nᵢ−dᵢ)) DIV nᵢ — as a bounded
    driver loop over the rank-ordered risk table (the q278/q319
    driver-recurrence pattern; the ORACLE replays it as WITH
    RECURSIVE), because a cumulative PRODUCT can't ride a window
    without float exp/ln (exp is not cross-engine stable).
    Columns: dur_days, n_risk, d_events, c_censored, s_ppm.

    Determinism: durations are integer day DIVs on non-negative
    operands; the risk table is exact counts; the recurrence is
    integer multiply + DIV at every step — no float anywhere.

    Scale: one exchange collapses the event stream to per-user
    (first, first-purchase, last) triples, a second to the
    |distinct durations| risk table; the recursion is
    time-bound (≤ observed days), executed as Catalyst's
    UnionLoop over a dimension-sized frame.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    ev = events_with_us(spark, sf_dir).filter(F.col("user_id").isNotNull())
    per_user = (
        ev.select(
            "user_id",
            "ts_us",
            F.when(F.col("event_type") == "purchase", True).alias("is_p"),
        )
        .groupBy("user_id")
        .agg(
            F.min("ts_us").alias("t0"),
            F.min(F.when(F.col("is_p"), F.col("ts_us"))).alias("tp"),
            F.max("ts_us").alias("tl"),
        )
        .select(
            F.when(
                F.col("tp").isNotNull(),
                F.expr("(tp - t0) DIV 86400000000"),
            )
            .otherwise(F.expr("(tl - t0) DIV 86400000000"))
            .alias("dur"),
            F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("event"),
        )
    )
    km0 = per_user.groupBy("dur").agg(
        F.sum("event").cast("bigint").alias("d"),
        F.sum(1 - F.col("event")).cast("bigint").alias("c"),
    )
    wcum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # checkpoint the risk table BEFORE handing it to the recursion:
    # UnionLoop re-evaluates the joined relation every round, so an
    # un-materialized view would re-run the per-user fact collapse
    # once per observed duration (measured 8.7 s -> sub-second)
    km = km0.select(
        "dur",
        "d",
        "c",
        F.row_number().over(Window.orderBy("dur")).cast("bigint").alias("rn"),
        (
            F.sum(F.col("d") + F.col("c")).over(wcum).cast("bigint")
            - (F.col("d") + F.col("c"))
        ).alias("removed_before"),
        F.sum(F.col("d") + F.col("c")).over(wall).cast("bigint").alias("n_total"),
    )
    # The product-limit recurrence runs as a bounded DRIVER loop over
    # the collected risk table (optimization r11 — the q278 Holt /
    # q319 Markov pattern): the table is |distinct durations| rows
    # (dimension-sized, the bounded-collect contract; 16 rows at
    # sf0.1), and the previous WITH RECURSIVE UnionLoop paid one
    # driver-paced micro-job PER DURATION for microseconds of integer
    # arithmetic (~1.5 s of q229's 2.4 s; q360 inherits the saving
    # through q229_kaplan_meier_frame). Python ``//`` on the
    # non-negative operands equals Spark/DuckDB integer DIV, so
    # s_ppm is the identical exact integer; the recursive-CTE
    # execution surface itself stays covered by q141's UnionLoop.
    rows = km.orderBy("rn").collect()
    s = 1_000_000
    out = []
    for r in rows:
        n_risk = int(r["n_total"]) - int(r["removed_before"])
        s = (s * (n_risk - int(r["d"]))) // n_risk
        out.append((int(r["dur"]), n_risk, int(r["d"]), int(r["c"]), s))
    return driver_frame(
        spark,
        out,
        "dur_days bigint, n_risk bigint, d_events bigint,"
        " c_censored bigint, s_ppm bigint",
    )


@query(
    "q230_mann_kendall",
    oracle="""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
    CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS tot
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), s AS (
  SELECT a.event_type,
    CAST(SUM(CASE WHEN b.tot > a.tot THEN 1
                  WHEN b.tot < a.tot THEN -1 ELSE 0 END) AS BIGINT)
      AS s_stat
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
  GROUP BY a.event_type
), ties AS (
  SELECT event_type,
    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
    CAST(SUM(t) AS BIGINT) AS n
  FROM (
    SELECT event_type, tot, CAST(COUNT(*) AS BIGINT) AS t
    FROM daily GROUP BY 1, 2
  ) GROUP BY event_type
)
SELECT s.event_type, ties.n AS n_days, s.s_stat,
  CAST(FLOOR(
    (CAST(s.s_stat AS DOUBLE)
     - CASE WHEN s.s_stat > 0 THEN 1.0
            WHEN s.s_stat < 0 THEN -1.0 ELSE 0.0 END)
    / SQRT((CAST(ties.n AS DOUBLE) * (CAST(ties.n AS DOUBLE) - 1.0)
            * (2.0 * CAST(ties.n AS DOUBLE) + 5.0)
            - CAST(ties.tie_term AS DOUBLE)) / 18.0)
    * 1000000
  ) AS BIGINT) AS z_ppm
FROM s JOIN ties ON ties.event_type = s.event_type
WHERE (CAST(ties.n AS DOUBLE) * (CAST(ties.n AS DOUBLE) - 1.0)
       * (2.0 * CAST(ties.n AS DOUBLE) + 5.0)
       - CAST(ties.tie_term AS DOUBLE)) > 0.0
""",
)
def q230_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test — the rank-based companion
    to q225's Theil-Sen slope (same daily series; MK answers "is
    there a trend", Theil-Sen answers "how steep"). S is the exact
    integer sum of pairwise sign comparisons; the tie-corrected
    variance and continuity-corrected z follow in one IEEE closed
    form. Columns: event_type, n_days, s_stat, z_ppm.

    Determinism: S and the tie term are exact integers; z is one
    fixed IEEE tree (√ correctly rounded), FLOOR-ppm quantized;
    zero-variance series filter identically.

    Scale: the fact collapses to the TIME-bound daily frame
    (checkpointed once for the pair join and the tie rollup);
    the O(days²) comparison is constant in corpus size — the 10×
    fixture replicates rows into the same date span, so the pair
    set doesn't grow at all.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    daily = (
        events_with_us(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr("ts_us DIV 86400000000").alias("d"),
            F.round(F.col("value") * 1000).cast("bigint").alias("v"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("v").cast("bigint").alias("tot"))
        .transform(checkpoint)
    )
    a = daily.select("event_type", F.col("d").alias("d1"), F.col("tot").alias("t1"))
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("d2"),
        F.col("tot").alias("t2"),
    )
    s = (
        a.join(b, (a["event_type"] == b["et2"]) & (a["d1"] < b["d2"]))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("t2") > F.col("t1"), 1)
                .when(F.col("t2") < F.col("t1"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("event_type", "tot")
        .agg(F.count("*").cast("bigint").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("bigint")
            .alias("tie_term"),
            F.sum("t").cast("bigint").alias("n"),
        )
    )
    nd = F.col("n").cast("double")
    var = (nd * (nd - 1.0) * (2.0 * nd + 5.0) - F.col("tie_term").cast("double")) / F.lit(
        18.0
    )
    corr = (
        F.when(F.col("s_stat") > 0, F.lit(1.0))
        .when(F.col("s_stat") < 0, F.lit(-1.0))
        .otherwise(F.lit(0.0))
    )
    z = (F.col("s_stat").cast("double") - corr) / F.sqrt(var)
    return (
        s.join(ties, "event_type")
        .filter(var > 0.0)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "s_stat",
            F.floor(z * 1000000).cast("bigint").alias("z_ppm"),
        )
    )


@query(
    "q231_js_divergence",
    oracle=f"""
WITH g AS ({_HIST_SQL}
), t AS (
  SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
    CAST(SUM(cnt_b) AS BIGINT) AS n_b
  FROM g
), terms AS (
  SELECT
    CASE WHEN cnt_a > 0 THEN CAST(FLOOR(
      CAST(cnt_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 2.0
      * ln(CAST(2 * cnt_a * n_b AS DOUBLE)
           / CAST(cnt_a * n_b + cnt_b * n_a AS DOUBLE)) / {_LN2}
      * 1000000000000) AS BIGINT) ELSE 0 END AS ta,
    CASE WHEN cnt_b > 0 THEN CAST(FLOOR(
      CAST(cnt_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 2.0
      * ln(CAST(2 * cnt_b * n_a AS DOUBLE)
           / CAST(cnt_a * n_b + cnt_b * n_a AS DOUBLE)) / {_LN2}
      * 1000000000000) AS BIGINT) ELSE 0 END AS tb
  FROM g, t
)
SELECT (SELECT n_a FROM t) AS n_a, (SELECT n_b FROM t) AS n_b,
  CAST(SUM(ta + tb) AS BIGINT) AS jsd_pico
FROM terms
""",
)
def q231_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the A/B cohorts' value
    distributions (in bits) — the bounded, symmetric divergence a
    data-mixture pipeline tracks between corpus slices, computed on
    the same distinct-value histogram substrate as q218/q219. Each
    KL half-term p/2·log₂(p/m) reduces to integer count
    cross-multiplies inside the log — 2·cₐ·n_b / (cₐ·n_b + c_b·n_a)
    — so no intermediate probability is ever materialized.
    Columns: n_a, n_b, jsd_pico.

    Determinism: integer cross-multiplies feed one fixed IEEE tree
    per term (ln cross-engine stable, log₂ via the exact ln-2
    literal), FLOOR-quantized to pico-bits BEFORE the sum — all
    accumulation is integer; zero-count sides contribute exact 0 in
    both engines.

    Scale: identical to q218 — one fact exchange to the histogram,
    the totals as a 1-row broadcast, a map-side-combined integer
    sum. JSD between any two corpus slices at 100 TB is one
    histogram pass.
    """
    # the histogram feeds BOTH the totals and the term sum —
    # checkpoint it so the branch doesn't re-scan the fact
    g = _value_histogram(spark, sf_dir).transform(checkpoint)
    t = g.agg(
        F.sum("cnt_a").cast("bigint").alias("n_a"),
        F.sum("cnt_b").cast("bigint").alias("n_b"),
    )
    ln2 = F.lit(float(_LN2))
    pico = F.lit(1000000000000)
    mix = (
        F.col("cnt_a") * F.col("n_b") + F.col("cnt_b") * F.col("n_a")
    ).cast("double")
    ta = F.when(
        F.col("cnt_a") > 0,
        F.floor(
            F.col("cnt_a").cast("double")
            / F.col("n_a").cast("double")
            / F.lit(2.0)
            * F.log((2 * F.col("cnt_a") * F.col("n_b")).cast("double") / mix)
            / ln2
            * pico
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    tb = F.when(
        F.col("cnt_b") > 0,
        F.floor(
            F.col("cnt_b").cast("double")
            / F.col("n_b").cast("double")
            / F.lit(2.0)
            * F.log((2 * F.col("cnt_b") * F.col("n_a")).cast("double") / mix)
            / ln2
            * pico
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        g.crossJoin(F.broadcast(t))
        .select("n_a", "n_b", (ta + tb).alias("term"))
        .groupBy("n_a", "n_b")
        .agg(F.sum("term").cast("bigint").alias("jsd_pico"))
    )


@query(
    "q232_best_split_gini",
    oracle="""
WITH h AS (
  SELECT l_linestatus AS grp,
    CAST(l_quantity AS BIGINT) AS q,
    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      AS BIGINT) AS pos,
    CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT grp, q,
    SUM(pos) OVER w AS lp, SUM(cnt) OVER w AS ln_,
    SUM(pos) OVER g AS tp, SUM(cnt) OVER g AS tn
  FROM h
  WINDOW w AS (PARTITION BY grp ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         g AS (PARTITION BY grp)
), splits AS (
  SELECT grp, q AS threshold,
    CAST(ln_ AS BIGINT) AS n_left, CAST(tn - ln_ AS BIGINT) AS n_right,
    (CAST(ln_ AS DOUBLE) / CAST(tn AS DOUBLE))
      * (1.0 - (CAST(lp AS DOUBLE) / CAST(ln_ AS DOUBLE))
              * (CAST(lp AS DOUBLE) / CAST(ln_ AS DOUBLE))
            - (1.0 - CAST(lp AS DOUBLE) / CAST(ln_ AS DOUBLE))
              * (1.0 - CAST(lp AS DOUBLE) / CAST(ln_ AS DOUBLE)))
    + (CAST(tn - ln_ AS DOUBLE) / CAST(tn AS DOUBLE))
      * (1.0 - (CAST(tp - lp AS DOUBLE) / CAST(tn - ln_ AS DOUBLE))
              * (CAST(tp - lp AS DOUBLE) / CAST(tn - ln_ AS DOUBLE))
            - (1.0 - CAST(tp - lp AS DOUBLE) / CAST(tn - ln_ AS DOUBLE))
              * (1.0 - CAST(tp - lp AS DOUBLE) / CAST(tn - ln_ AS DOUBLE)))
      AS wg
  FROM c WHERE ln_ > 0 AND tn - ln_ > 0
), ranked AS (
  SELECT grp, threshold, n_left, n_right, wg,
    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY wg, threshold) AS rn
  FROM splits
)
SELECT grp, threshold, n_left, n_right,
  CAST(FLOOR(wg * 1000000) AS BIGINT) AS gini_ppm
FROM ranked WHERE rn = 1
""",
)
def q232_best_split_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree split finding — the inner loop of distributed
    tree learners (Spark MLlib, XGBoost-on-Spark): for every
    candidate threshold on l_quantity, the weighted Gini impurity
    of predicting returns (l_returnflag = 'R'), with the best split
    per line status. The whole search runs on the per-(group,
    value) CLASS HISTOGRAM: cumulative windows give every split's
    left/right class counts in one pass — the corpus is never
    re-scanned per candidate. Columns: grp, threshold, n_left,
    n_right, gini_ppm.

    Determinism: class counts are exact integers; each candidate's
    impurity is one fixed IEEE tree over them; the argmin
    tie-breaks on threshold; only the single selected impurity is
    FLOOR-quantized.

    Scale: one exchange collapses the fact to |groups|·|distinct
    values| histogram rows (quantity has ~50 distinct values —
    MLlib's binning makes this bounded for continuous features);
    the cumulative windows and the argmin ride that tiny frame.
    Split evaluation at 100 TB is histogram arithmetic, the same
    sufficient-statistics shape as q226/q223.
    """
    li = table(spark, sf_dir, "lineitem")
    h = (
        li.select(
            F.col("l_linestatus").alias("grp"),
            F.col("l_quantity").cast("bigint").alias("q"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("r"),
        )
        .groupBy("grp", "q")
        .agg(
            F.sum("r").cast("bigint").alias("pos"),
            F.count("*").cast("bigint").alias("cnt"),
        )
    )
    wcum = Window.partitionBy("grp").orderBy("q").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("grp")
    c = h.select(
        "grp",
        "q",
        F.sum("pos").over(wcum).alias("lp"),
        F.sum("cnt").over(wcum).alias("ln_"),
        F.sum("pos").over(wall).alias("tp"),
        F.sum("cnt").over(wall).alias("tn"),
    )
    lpd = F.col("lp").cast("double") / F.col("ln_").cast("double")
    rpd = (F.col("tp") - F.col("lp")).cast("double") / (
        F.col("tn") - F.col("ln_")
    ).cast("double")
    wg = (
        F.col("ln_").cast("double")
        / F.col("tn").cast("double")
        * (F.lit(1.0) - lpd * lpd - (F.lit(1.0) - lpd) * (F.lit(1.0) - lpd))
        + (F.col("tn") - F.col("ln_")).cast("double")
        / F.col("tn").cast("double")
        * (F.lit(1.0) - rpd * rpd - (F.lit(1.0) - rpd) * (F.lit(1.0) - rpd))
    )
    splits = c.filter(
        (F.col("ln_") > 0) & ((F.col("tn") - F.col("ln_")) > 0)
    ).select(
        "grp",
        F.col("q").alias("threshold"),
        F.col("ln_").alias("n_left"),
        (F.col("tn") - F.col("ln_")).alias("n_right"),
        wg.alias("wg"),
    )
    wr = Window.partitionBy("grp").orderBy("wg", "threshold")
    return (
        splits.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "grp",
            "threshold",
            "n_left",
            "n_right",
            F.floor(F.col("wg") * 1000000).cast("bigint").alias("gini_ppm"),
        )
    )


_SCORE_HIST_SQL = """
  SELECT CAST(ROUND(value * 1000) AS BIGINT) AS v,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      AS BIGINT) AS pos,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
      AS BIGINT) AS neg
  FROM events WHERE value IS NOT NULL GROUP BY 1
"""


def _score_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(score, positives, negatives) histogram — the sufficient
    statistic for AUC, calibration, and drift metrics."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return (
        ev.select(
            F.round(F.col("value") * 1000).cast("bigint").alias("v"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("p"),
        )
        .groupBy("v")
        .agg(
            F.sum("p").cast("bigint").alias("pos"),
            F.sum(1 - F.col("p")).cast("bigint").alias("neg"),
        )
    )


@query(
    "q233_exact_auc",
    oracle=f"""
WITH g AS ({_SCORE_HIST_SQL}
), c AS (
  SELECT pos, neg,
    COALESCE(SUM(neg) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS neg_below
  FROM g
), m AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
    CAST(SUM(neg) AS BIGINT) AS n_neg,
    SUM(CAST(pos * (2 * neg_below + neg) AS DECIMAL(38, 0))) AS u2
  FROM c
)
SELECT n_pos, n_neg,
  CAST(FLOOR(CAST(u2 AS DOUBLE)
    / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
    * 1000000) AS BIGINT) AS auc_ppm,
  CAST(FLOOR(CAST(u2 AS DOUBLE)
    / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
    * 1000000) AS BIGINT) - 1000000 AS gini_ppm
FROM m
""",
)
def q233_exact_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC AUC of the event value as a purchase classifier —
    via the rank identity AUC = U/(n₊·n₋): each positive at score v
    beats every negative strictly below and half of the negatives
    tied at v, so 2U = Σ pos_v·(2·neg_below + neg_v), an exact
    integer accumulated from the score histogram — no per-row
    sorting, no trapezoid approximation, ties handled exactly.
    Also reports the Gini coefficient 2·AUC − 1.
    Columns: n_pos, n_neg, auc_ppm, gini_ppm.

    Determinism: 2U is exact integer/DECIMAL; the final ratios go
    through FLOOR over one fixed IEEE tree rather than decimal DIV —
    the engines' DECIMAL floor-division semantics differ by one at
    exact quotient boundaries (caught live in verification), while
    identical double trees are bit-identical.

    Scale: the q218 substrate — one exchange to the score
    histogram, one bounded cumulative window, map-side-combined
    DECIMAL sum. AUC over 100 TB of scored examples is one
    histogram pass; at sub-ppm score granularity you bin first
    (the standard sketch trade).
    """
    g = _score_histogram(spark, sf_dir)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w), F.lit(0)).alias("neg_below"),
    )
    m = c.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.sum(
            (F.col("pos") * (2 * F.col("neg_below") + F.col("neg"))).cast(
                "decimal(38,0)"
            )
        ).alias("u2"),
    )
    # the ratio goes through FLOOR-over-double, NOT decimal DIV: the
    # engines' DECIMAL floor-division semantics differ by one ulp at
    # exact quotient boundaries (caught live: 491774 vs 491775) —
    # the fixed IEEE tree is bit-identical in both
    u2d = F.col("u2").cast("double")
    npd = F.col("n_pos").cast("double")
    nnd = F.col("n_neg").cast("double")
    return m.select(
        "n_pos",
        "n_neg",
        F.floor(u2d / (F.lit(2.0) * npd * nnd) * 1000000)
        .cast("bigint")
        .alias("auc_ppm"),
        (F.floor(u2d / (npd * nnd) * 1000000).cast("bigint") - 1000000).alias(
            "gini_ppm"
        ),
    )


@query(
    "q234_calibration_bins",
    oracle="""
WITH scored AS (
  SELECT CAST(ROUND(value * 1000) AS BIGINT) AS v,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), lim AS (
  SELECT MIN(v) AS lo, MAX(v) AS hi FROM scored
), binned AS (
  SELECT CAST(CASE WHEN hi = lo THEN 0
    ELSE LEAST((v - lo) * 10 // (hi - lo), 9) END AS INT) AS bin,
    v, y
  FROM scored, lim
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(y) AS BIGINT) AS n_pos,
  CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS obs_rate_ppm,
  CAST(SUM(v) AS BIGINT) AS sum_score_milli
FROM binned GROUP BY bin
""",
)
def q234_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability table: decile bins over the score
    range with observed positive rate and the exact score mass per
    bin — the reliability-diagram input every model-eval pipeline
    produces next to AUC (q233 says "ranks well", this says "means
    what it claims"). Columns: bin, n, n_pos, obs_rate_ppm,
    sum_score_milli.

    Determinism: bin edges are integer cross-multiplies over the
    exact (min, max) range — (v − lo)·10 DIV (hi − lo), non-negative
    — with the top edge clamped into bin 9; rates are integer
    floor-divisions; score mass stays an exact integer sum (the
    oracle-side mean would be a float — the consumer divides).

    Scale: one 2-value global aggregate (min/max broadcast as one
    row), then one narrow map + one 10-row rollup — two passes of
    the scan, no shuffle beyond the partial-agg trees. Fixed-width
    binning at 100 TB is the same shape.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    scored = ev.select(
        F.round(F.col("value") * 1000).cast("bigint").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    lim = scored.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    binned = scored.crossJoin(F.broadcast(lim)).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.expr("(v - lo) * 10 DIV (hi - lo)"), F.lit(9).cast("bigint")
            )
        )
        .cast("int")
        .alias("bin"),
        "v",
        "y",
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.expr("CAST(SUM(y) * 1000000 DIV COUNT(*) AS BIGINT)").alias(
            "obs_rate_ppm"
        ),
        F.sum("v").cast("bigint").alias("sum_score_milli"),
    )


@query(
    "q235_psi_drift",
    oracle=f"""
WITH lim AS (
  SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1 FROM events
), scored AS (
  SELECT CAST(ROUND(value * 1000) AS BIGINT) AS v,
    CASE WHEN epoch_us(ts) * 2 <= t0 + t1 THEN 1 ELSE 0 END
      AS is_ref
  FROM events, lim WHERE value IS NOT NULL
), rng AS (
  SELECT MIN(v) AS lo, MAX(v) AS hi FROM scored
), binned AS (
  SELECT CAST(CASE WHEN hi = lo THEN 0
    ELSE LEAST((v - lo) * 10 // (hi - lo), 9) END AS INT) AS bin,
    is_ref
  FROM scored, rng
), g AS (
  SELECT bin, CAST(SUM(is_ref) AS BIGINT) AS r,
    CAST(SUM(1 - is_ref) AS BIGINT) AS c
  FROM binned GROUP BY bin
), t AS (
  SELECT CAST(SUM(r) AS BIGINT) AS nr, CAST(SUM(c) AS BIGINT) AS nc
  FROM g
)
SELECT CAST(SUM(CASE WHEN r > 0 AND c > 0 THEN CAST(FLOOR(
    (CAST(r AS DOUBLE) / CAST(nr AS DOUBLE)
     - CAST(c AS DOUBLE) / CAST(nc AS DOUBLE))
    * ln(CAST(r * nc AS DOUBLE) / CAST(c * nr AS DOUBLE))
    * 1000000000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS psi_pico,
  CAST(SUM(CASE WHEN r = 0 OR c = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_degenerate_bins,
  (SELECT nr FROM t) AS n_ref, (SELECT nc FROM t) AS n_cur
FROM g, t
GROUP BY t.nr, t.nc
""",
)
def q235_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half
    of the observation window — THE production drift metric for
    scored features (PSI < 0.1 stable, > 0.25 action): decile bins
    over the value range, PSI = Σ (p−q)·ln(p/q) with the ratio as
    an integer cross-multiply r·n_c / (c·n_r) inside the log, each
    term FLOOR-quantized to pico before the integer sum; bins empty
    on either side are counted, not fudged with epsilons.
    Columns: psi_pico, n_degenerate_bins, n_ref, n_cur.

    Determinism: the time split is an integer cross-multiply
    (2·t ≤ t0+t1, no float midpoint); binning as in q234; ln over
    exact-integer ratios; quantize-then-sum.

    Scale: two 1-row anchors (time range, value range) broadcast
    onto the scan; one 10-row grouped rollup carries everything
    else. Drift monitoring at 100 TB is two scan passes and
    arithmetic on a 10-row grid.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    ev = events_with_us(spark, sf_dir)
    lim = ev.agg(F.min("ts_us").alias("t0"), F.max("ts_us").alias("t1"))
    scored = (
        ev.filter(F.col("value").isNotNull())
        .crossJoin(F.broadcast(lim))
        .select(
            F.round(F.col("value") * 1000).cast("bigint").alias("v"),
            F.when(
                F.col("ts_us") * 2 <= F.col("t0") + F.col("t1"), 1
            )
            .otherwise(0)
            .alias("is_ref"),
        )
    )
    rng = scored.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    binned = scored.crossJoin(F.broadcast(rng)).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.expr("(v - lo) * 10 DIV (hi - lo)"), F.lit(9).cast("bigint")
            )
        )
        .cast("int")
        .alias("bin"),
        "is_ref",
    )
    g = (
        binned.groupBy("bin")
        .agg(
            F.sum("is_ref").cast("bigint").alias("r"),
            F.sum(1 - F.col("is_ref")).cast("bigint").alias("c"),
        )
        .transform(checkpoint)
    )
    t = g.agg(
        F.sum("r").cast("bigint").alias("nr"),
        F.sum("c").cast("bigint").alias("nc"),
    )
    term = F.when(
        (F.col("r") > 0) & (F.col("c") > 0),
        F.floor(
            (
                F.col("r").cast("double") / F.col("nr").cast("double")
                - F.col("c").cast("double") / F.col("nc").cast("double")
            )
            * F.log(
                (F.col("r") * F.col("nc")).cast("double")
                / (F.col("c") * F.col("nr")).cast("double")
            )
            * F.lit(1000000000000)
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        g.crossJoin(F.broadcast(t))
        .groupBy("nr", "nc")
        .agg(
            F.sum(term).cast("bigint").alias("psi_pico"),
            F.sum(
                F.when((F.col("r") == 0) | (F.col("c") == 0), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_degenerate_bins"),
        )
        .select(
            "psi_pico",
            "n_degenerate_bins",
            F.col("nr").alias("n_ref"),
            F.col("nc").alias("n_cur"),
        )
    )


@query(
    "q236_als_one_step",
    oracle="""
WITH ratings AS (
  SELECT l_orderkey % 1500 AS u, l_partkey AS i,
    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r
  FROM lineitem GROUP BY 1, 2
), users AS (
  SELECT u,
    CAST(FLOOR(CAST(SUM(r) AS DOUBLE) * 1000000.0
      / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS uf
  FROM ratings GROUP BY u
), items AS (
  SELECT i,
    CAST(COUNT(*) AS BIGINT) AS n_raters,
    CAST(FLOOR(CAST(SUM(CAST(r * uf AS DECIMAL(38, 0))) AS DOUBLE)
      * 1000000000000.0
      / CAST(SUM(CAST(uf * uf AS DECIMAL(38, 0))) AS DOUBLE))
      AS BIGINT) AS v_micro
  FROM ratings JOIN users USING (u)
  GROUP BY i
)
SELECT i AS partkey, v_micro, n_raters
FROM items ORDER BY v_micro DESC, partkey LIMIT 10
""",
)
def q236_als_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One rank-1 ALS alternation over the implicit (buyer, part,
    quantity) rating matrix — the distributed recommender-training
    step (Koren/Hu-style alternating least squares), made exact:
    with all item factors initialized to 1, the closed-form user
    solve is Σr/n and the item solve is Σ(r·u)/Σu², both computed
    from integer micro-unit factors through single fixed IEEE
    FLOOR trees (never decimal DIV — the q233 boundary lesson).
    Buyers are bucketed from the order key so the user dimension is
    bounded. Returns the 10 strongest item factors. Columns:
    partkey, v_micro, n_raters.

    Determinism: ratings and factor inputs are exact integers;
    each solve is one FLOOR(double expression) on identical trees;
    the top-10 tie-breaks on partkey.

    Scale: the rating matrix is ONE (u, i) exchange with map-side
    combine; the user solve reuses nothing bigger than |users|; the
    item solve is one u-keyed join (factors broadcast at dimension
    scale) + one i-keyed aggregate — per-alternation cost is two
    exchanges of the rating matrix, the textbook distributed-ALS
    shape, and further alternations repeat it with the roles
    swapped. Rank-k generalizes by carrying k factor columns and a
    k×k normal-equation solve per entity (Gramian broadcast).
    """
    li = table(spark, sf_dir, "lineitem")
    ratings = (
        li.select(
            (F.col("l_orderkey") % 1500).alias("u"),
            F.col("l_partkey").alias("i"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("u", "i")
        .agg(F.sum("q").cast("bigint").alias("r"))
        .transform(checkpoint)
    )
    users = ratings.groupBy("u").agg(
        F.floor(
            F.sum("r").cast("double")
            * F.lit(1000000.0)
            / F.count("*").cast("double")
        )
        .cast("bigint")
        .alias("uf")
    )
    items = (
        ratings.join(F.broadcast(users), "u")
        .groupBy("i")
        .agg(
            F.count("*").cast("bigint").alias("n_raters"),
            F.floor(
                F.sum((F.col("r") * F.col("uf")).cast("decimal(38,0)"))
                .cast("double")
                * F.lit(1000000000000.0)
                / F.sum((F.col("uf") * F.col("uf")).cast("decimal(38,0)"))
                .cast("double")
            )
            .cast("bigint")
            .alias("v_micro"),
        )
    )
    return (
        items.orderBy(F.col("v_micro").desc(), "i")
        .limit(10)
        .select(F.col("i").alias("partkey"), "v_micro", "n_raters")
    )


@query(
    "q250_average_precision",
    oracle=f"""
WITH g AS ({_SCORE_HIST_SQL}
), c AS (
  SELECT v, pos, neg,
    SUM(pos) OVER w AS cum_pos,
    SUM(pos + neg) OVER w AS cum_all
  FROM g
  WINDOW w AS (ORDER BY v DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), m AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
    CAST(SUM(neg) AS BIGINT) AS n_neg,
    CAST(SUM(CASE WHEN pos > 0 THEN CAST(FLOOR(
      CAST(pos AS DOUBLE)
      * (CAST(cum_pos AS DOUBLE) / CAST(cum_all AS DOUBLE))
      * 1000000000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS ap_num
  FROM c
)
SELECT n_pos, n_neg,
  CAST(ap_num // n_pos AS BIGINT) AS ap_pico
FROM m
""",
)
def q250_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (the PR-curve summary that complements
    q233's ROC AUC — PR is the one that matters under class
    imbalance): AP = Σ_blocks pos_v · precision@block / n_pos,
    where blocks are distinct score values processed best-first and
    precision@block treats the whole tie block as retrieved (the
    deterministic tie convention; per-row tie orderings are
    ill-defined). Computed entirely from the score histogram's
    DESC cumulative window. Columns: n_pos, n_neg,
    ap_pico (AP on the 10¹² scale: the pico-quantized block terms
    summed, then one exact integer division by n_pos).

    Determinism: cumulative counts exact; each block term is one
    IEEE tree FLOOR-quantized to pico BEFORE the integer sum; the
    final division is integer DIV on non-negative operands.

    Scale: the q218/q233 substrate — one fact exchange to the score
    histogram, one bounded descending cumulative window.
    """
    g = _score_histogram(spark, sf_dir)
    w = Window.orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = g.select(
        "pos",
        "neg",
        F.sum("pos").over(w).alias("cum_pos"),
        F.sum(F.col("pos") + F.col("neg")).over(w).alias("cum_all"),
    )
    term = F.when(
        F.col("pos") > 0,
        F.floor(
            F.col("pos").cast("double")
            * (F.col("cum_pos").cast("double") / F.col("cum_all").cast("double"))
            * F.lit(1000000000000)
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    m = c.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.sum(term).cast("bigint").alias("ap_num"),
    )
    return m.select(
        "n_pos",
        "n_neg",
        F.expr("CAST(ap_num DIV n_pos AS BIGINT)").alias("ap_pico"),
    )


@query(
    "q251_group_kfold",
    oracle="""
WITH folds AS (
  SELECT user_id,
    CAST(CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 13)
      AS BIGINT) % 5 AS INT) AS fold
  FROM (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL)
)
SELECT f.fold, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
  CAST(SUM(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
    AS BIGINT) AS n_purchases
FROM events e JOIN folds f ON f.user_id = e.user_id
GROUP BY f.fold
""",
)
def q251_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free GROUP k-fold assignment: every event of a user
    lands in the SAME fold (fold = first 52 md5 bits of the user id
    mod 5), the protocol that prevents the classic eval leak of one
    entity's rows straddling train and validation. Reports fold
    balance (events, users, positives per fold). A pytest pins the
    leakage-freedom invariant directly: no user appears in two
    folds. Columns: fold, n_events, n_users, n_purchases.

    Determinism: md5-derived integer fold ids — identical digests
    both engines, mod on non-negative.

    Scale: fold assignment is a narrow map on the entity key (the
    distinct + join here exists to mirror the oracle's phrasing;
    at 100 TB you compute the fold inline per row — same function
    of the same key, no join at all, which is exactly why
    hash-folding beats materialized fold tables).
    """
    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    fold = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10
        ).cast("bigint")
        % 5
    ).cast("int")
    return (
        ev.select(
            fold.alias("fold"),
            "user_id",
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
                "is_p"
            ),
        )
        .groupBy("fold")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum("is_p").cast("bigint").alias("n_purchases"),
        )
    )


@query(
    "q252_qq_table",
    oracle=f"""
WITH g AS ({_HIST_SQL}
), c AS (
  SELECT v, cnt_a, cnt_b,
    SUM(cnt_a) OVER w AS ca, SUM(cnt_b) OVER w AS cb
  FROM g
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), t AS (
  SELECT MAX(ca) AS n_a, MAX(cb) AS n_b FROM c
), q AS (
  SELECT dec FROM unnest(range(1, 10)) AS r(dec)
)
SELECT CAST(q.dec AS INT) AS decile,
  (SELECT MIN(v) FROM c, t WHERE ca * 10 >= q.dec * n_a)
    AS qa_milli,
  (SELECT MIN(v) FROM c, t WHERE cb * 10 >= q.dec * n_b)
    AS qb_milli
FROM q
""",
)
def q252_qq_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile table between the A/B cohorts: the exact
    decile values of each cohort's distribution, side by side — the
    Q-Q plot behind q219's KS verdict (KS says THAT the shapes
    differ; this says WHERE). Each decile is the smallest value
    whose inclusive cumulative count covers the integer
    cross-multiplied rank bound ca·10 ≥ d·n (no float quantile
    definition, no interpolation — type-1/lower quantiles).
    Columns: decile, qa_milli, qb_milli.

    Determinism: exact integer ranks and cross-multiplies; MIN
    tie-break.

    Scale: the q218 substrate — one fact exchange to the value
    histogram, one bounded cumulative window; the nine decile
    probes are window lookups on that bounded frame (implemented as
    a range join of the 9-row decile frame against the cumulative
    histogram — both tiny after the collapse).
    """
    g = _value_histogram(spark, sf_dir).transform(checkpoint)
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        "v",
        F.sum("cnt_a").over(wcum).alias("ca"),
        F.sum("cnt_b").over(wcum).alias("cb"),
    ).transform(checkpoint)
    t = c.agg(
        F.max("ca").cast("bigint").alias("n_a"),
        F.max("cb").cast("bigint").alias("n_b"),
    )
    dec = spark.range(1, 10).select(F.col("id").cast("int").alias("decile"))
    probe = dec.crossJoin(F.broadcast(t))
    qa = (
        probe.join(
            c, c["ca"] * 10 >= probe["decile"] * probe["n_a"], "inner"
        )
        .groupBy("decile")
        .agg(F.min("v").alias("qa_milli"))
    )
    qb = (
        probe.join(
            c, c["cb"] * 10 >= probe["decile"] * probe["n_b"], "inner"
        )
        .groupBy("decile")
        .agg(F.min("v").alias("qb_milli"))
    )
    return qa.join(qb, "decile").select("decile", "qa_milli", "qb_milli")


@query(
    "q253_effect_size",
    oracle=f"""
WITH g AS ({_HIST_SQL}
), m AS (
  SELECT
    CAST(SUM(cnt_a) AS BIGINT) AS n_a,
    CAST(SUM(cnt_b) AS BIGINT) AS n_b,
    SUM(CAST(cnt_a * v AS DECIMAL(38, 0))) AS sa,
    SUM(CAST(cnt_b * v AS DECIMAL(38, 0))) AS sb,
    SUM(CAST(cnt_a * v * v AS DECIMAL(38, 0))) AS sqa,
    SUM(CAST(cnt_b * v * v AS DECIMAL(38, 0))) AS sqb
  FROM g
)
SELECT n_a, n_b,
  CAST(FLOOR(
    (CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)
     - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
    / SQRT((
        (CAST(sqa AS DOUBLE)
         - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
           / CAST(n_a AS DOUBLE))
        + (CAST(sqb AS DOUBLE)
           - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
             / CAST(n_b AS DOUBLE))
      ) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0))
    * 1000000
  ) AS BIGINT) AS cohens_d_ppm
FROM m
WHERE n_a > 1 AND n_b > 1
""",
)
def q253_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d between the A/B cohorts — the standardized effect
    size every experiment readout pairs with its p-value (q202/q218
    say "significant?"; this says "how big"): mean difference over
    the pooled standard deviation, from exact DECIMAL moment sums
    on the value histogram. Columns: n_a, n_b, cohens_d_ppm.

    Determinism: moments accumulate exactly in DECIMAL(38,0) (v is
    milli-quantized, v² products stay within precision); one fixed
    IEEE closed form (√ correctly rounded), FLOOR-ppm; degenerate
    cohorts filtered identically.

    Scale: one fact exchange to the histogram, one moment
    aggregate — the same sufficient-statistics shape as q208's
    correlation matrix.
    """
    g = _value_histogram(spark, sf_dir)
    vd = F.col("v")
    m = g.agg(
        F.sum("cnt_a").cast("bigint").alias("n_a"),
        F.sum("cnt_b").cast("bigint").alias("n_b"),
        F.sum((F.col("cnt_a") * vd).cast("decimal(38,0)")).alias("sa"),
        F.sum((F.col("cnt_b") * vd).cast("decimal(38,0)")).alias("sb"),
        # per-row products stay in int64 (cnt·v² ≤ ~10¹⁵ at milli
        # quantization) and only the SUM carries the corpus factor —
        # decimal×bigint multiply WIDTHS diverge between engines
        F.sum((F.col("cnt_a") * vd * vd).cast("decimal(38,0)")).alias("sqa"),
        F.sum((F.col("cnt_b") * vd * vd).cast("decimal(38,0)")).alias("sqb"),
    )
    nad = F.col("n_a").cast("double")
    nbd = F.col("n_b").cast("double")
    sad = F.col("sa").cast("double")
    sbd = F.col("sb").cast("double")
    pooled = (
        (F.col("sqa").cast("double") - sad * sad / nad)
        + (F.col("sqb").cast("double") - sbd * sbd / nbd)
    ) / (nad + nbd - F.lit(2.0))
    d = (sad / nad - sbd / nbd) / F.sqrt(pooled)
    return (
        m.filter((F.col("n_a") > 1) & (F.col("n_b") > 1))
        .select(
            "n_a",
            "n_b",
            F.floor(d * 1000000).cast("bigint").alias("cohens_d_ppm"),
        )
    )


@query(
    "q278_holt_linear",
    oracle="""
WITH RECURSIVE mo AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
      AS month_id,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS v
  FROM orders GROUP BY 1
), s AS (
  SELECT month_id, v,
    CAST(ROW_NUMBER() OVER (ORDER BY month_id) AS BIGINT) AS rn
  FROM mo
), rec AS (
  SELECT rn, v AS l, CAST(0 AS BIGINT) AS b, v AS f
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.rn,
    CAST(FLOOR((CAST(s.v AS DOUBLE)
      + 3.0 * CAST(rec.l + rec.b AS DOUBLE)) / 4.0) AS BIGINT),
    CAST(FLOOR((CAST(FLOOR((CAST(s.v AS DOUBLE)
        + 3.0 * CAST(rec.l + rec.b AS DOUBLE)) / 4.0) AS DOUBLE)
      - CAST(rec.l AS DOUBLE)
      + 3.0 * CAST(rec.b AS DOUBLE)) / 4.0) AS BIGINT),
    rec.l + rec.b
  FROM rec JOIN s ON s.rn = rec.rn + 1
)
SELECT s.month_id, s.v AS v_cents, rec.l AS level_c,
  rec.b AS trend_c, rec.f AS forecast_c,
  s.v - rec.f AS residual_c
FROM s JOIN rec ON rec.rn = s.rn
""",
)
def q278_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing over the monthly
    revenue series — the trend-aware forecasting recurrence a
    revenue pipeline runs after q214's seasonality screen — made
    bit-deterministic as an integer recurrence: level and trend live
    in exact cents, alpha = beta = 1/4 (exact binary doubles), and
    each step is FLOOR over a double expression whose operands stay
    far inside 2^53, so the recursion is exactly replayable (and is,
    in tests/test_statsops_replays.py). One-step-ahead forecast
    f_t = l_{t-1} + b_{t-1}; trend seeds at 0. Columns: month_id,
    v_cents, level_c, trend_c, forecast_c, residual_c.

    Determinism: monthly totals are exact integer cent sums; each
    recurrence step is integer adds + one FLOOR(double) per state
    component — Python floats ARE IEEE doubles, so the driver loop
    and the DuckDB oracle's recursive CTE walk identical trees
    (trend may go negative, which FLOOR-over-double handles
    identically where integer DIV would not).

    Scale: the fact collapses in ONE distributed exchange to the
    |months| frame — TIME-bound, not corpus-bound (a 100 TB corpus
    still spans thousands of months at most) — and the inherently
    sequential recurrence then runs as a bounded driver step over
    the collected series, the same contract as connected_components'
    sub-threshold union-find: seconds of per-round UnionLoop
    scheduling (measured ~100 ms x |months| as a recursive CTE,
    ~8 s here) for microseconds of arithmetic. Nothing corpus-sized
    ever reaches the driver.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    mo = (
        table(spark, sf_dir, "orders")
        .select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("month_id"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("month_id")
        .agg(F.sum("vc").cast("bigint").alias("v"))
    )
    series = sorted((r.month_id, r.v) for r in mo.collect())
    import math

    rows = []
    l = b = 0
    for i, (mid, v) in enumerate(series):
        if i == 0:
            l, b, f = v, 0, v
        else:
            f = l + b
            l_new = math.floor((float(v) + 3.0 * float(l + b)) / 4.0)
            b = math.floor((float(l_new) - float(l) + 3.0 * float(b)) / 4.0)
            l = l_new
        rows.append((mid, v, l, b, f, v - f))
    schema = StructType(
        [
            StructField(c, LongType())
            for c in (
                "month_id",
                "v_cents",
                "level_c",
                "trend_c",
                "forecast_c",
                "residual_c",
            )
        ]
    )
    return driver_frame(spark, rows, schema)


@query(
    "q280_t_closeness",
    oracle="""
WITH v AS (
  SELECT c_nationkey AS g,
    CAST(ROUND(c_acctbal * 1000) AS BIGINT) AS v
  FROM customer
), rng AS (
  SELECT MIN(v) AS lo, MAX(v) AS hi FROM v
), b AS (
  SELECT g, CAST(CASE WHEN hi = lo THEN 0
    ELSE LEAST((v - lo) * 10 // (hi - lo), 9) END AS INT) AS bin
  FROM v, rng
), cnt AS (
  SELECT g, bin, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1, 2
), grid AS (
  SELECT gs.g, bs.bin
  FROM (SELECT DISTINCT g FROM b) gs, (SELECT DISTINCT bin FROM b) bs
), fil AS (
  SELECT grid.g, grid.bin, COALESCE(cnt.n, 0) AS n
  FROM grid LEFT JOIN cnt ON cnt.g = grid.g AND cnt.bin = grid.bin
), cum AS (
  SELECT g, bin,
    CAST(SUM(n) OVER (PARTITION BY g ORDER BY bin
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS pc
  FROM fil
), gtot AS (
  SELECT g, CAST(SUM(n) AS BIGINT) AS n_g FROM fil GROUP BY g
), gl AS (
  SELECT bin, CAST(SUM(n) AS BIGINT) AS q FROM fil GROUP BY bin
), glc AS (
  SELECT bin,
    CAST(SUM(q) OVER (ORDER BY bin
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS qc
  FROM gl
), tot AS (
  SELECT CAST(SUM(q) AS BIGINT) AS nn, CAST(COUNT(*) AS BIGINT) AS k
  FROM gl
)
SELECT cum.g AS nation, gtot.n_g,
  CAST(SUM(ABS(pc * nn - qc * n_g)) AS BIGINT) AS emd_num,
  CAST(FLOOR(CAST(SUM(ABS(pc * nn - qc * n_g)) AS DOUBLE) * 1000000.0
    / CAST((k - 1) * n_g * nn AS DOUBLE)) AS BIGINT) AS t_ppm
FROM cum
JOIN glc USING (bin)
JOIN gtot ON gtot.g = cum.g, tot
WHERE k > 1
GROUP BY cum.g, gtot.n_g, tot.nn, tot.k
""",
)
def q280_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third member of the privacy triad
    (k-anonymity q146, l-diversity q228): per quasi-identifier group
    (nation), the ordered Earth Mover's Distance between the group's
    account-balance decile distribution and the global one,
    EMD = (1/(k-1)) * sum_j |P_cum_j - Q_cum_j|. The cumulative
    difference is kept as the EXACT integer cross-multiply
    |pc*N - qc*n_g| (no per-group probabilities ever materialized);
    only the final normalization is one FLOOR over a fixed IEEE
    division whose operands stay inside 2^53 at fixture scales.
    Columns: nation, n_g, emd_num, t_ppm.

    Determinism: binning is the q235 integer-DIV decile rule on
    non-negative operands; all distances are exact integer sums
    (cast OUT of DuckDB's HUGEINT in every projection per the
    catalog's window-sum rule); missing (group, bin) cells are
    zero-filled from an explicit grid so cumulative ranks agree.

    Scale: one exchange collapses customers to the (group, bin)
    grid; everything downstream is |groups| x 10 rows. A privacy
    audit at 100 TB is a histogram pass plus arithmetic on the
    contingency grid.
    """
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("g"),
        F.round(F.col("c_acctbal") * 1000).cast("bigint").alias("v"),
    )
    rng = cust.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    b = cust.crossJoin(F.broadcast(rng)).select(
        "g",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.expr("(v - lo) * 10 DIV (hi - lo)"),
                F.lit(9).cast("bigint"),
            )
        )
        .cast("int")
        .alias("bin"),
    )
    cnt = (
        b.groupBy("g", "bin")
        .agg(F.count("*").cast("bigint").alias("n"))
        .transform(checkpoint)
    )
    gs = cnt.select("g").distinct()
    bs = cnt.select("bin").distinct()
    fil = (
        gs.crossJoin(F.broadcast(bs))
        .join(cnt, ["g", "bin"], "left")
        .select("g", "bin", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
        .transform(checkpoint)
    )
    wg = Window.partitionBy("g").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = fil.select(
        "g", "bin", F.sum("n").over(wg).cast("bigint").alias("pc")
    )
    gtot = fil.groupBy("g").agg(F.sum("n").cast("bigint").alias("n_g"))
    gl = fil.groupBy("bin").agg(F.sum("n").cast("bigint").alias("q"))
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    glc = gl.select("bin", F.sum("q").over(wb).cast("bigint").alias("qc"))
    tot = gl.agg(
        F.sum("q").cast("bigint").alias("nn"),
        F.count("*").cast("bigint").alias("k"),
    )
    diff = F.abs(F.col("pc") * F.col("nn") - F.col("qc") * F.col("n_g"))
    return (
        cum.join(F.broadcast(glc), "bin")
        .join(F.broadcast(gtot), "g")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("k") > 1)
        .groupBy("g", "n_g", "nn", "k")
        .agg(F.sum(diff).cast("bigint").alias("emd_num"))
        .select(
            F.col("g").alias("nation"),
            "n_g",
            "emd_num",
            F.floor(
                F.col("emd_num").cast("double")
                * F.lit(1000000.0)
                / ((F.col("k") - 1) * F.col("n_g") * F.col("nn")).cast("double")
            )
            .cast("bigint")
            .alias("t_ppm"),
        )
    )


@query(
    "q282_sax_symbols",
    oracle="""
WITH daily AS (
  SELECT epoch_us(o_orderdate) // 86400000000 AS d,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS v
  FROM orders GROUP BY 1
), mm AS (
  SELECT CAST(MIN(d) AS BIGINT) AS d0, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(v AS DECIMAL(38, 0))) AS DOUBLE) AS sv,
    CAST(SUM(CAST(v AS DECIMAL(38, 0)) * CAST(v AS DECIMAL(38, 0)))
      AS DOUBLE) AS svv
  FROM daily
), stats AS (
  SELECT d0, n, sv / CAST(n AS DOUBLE) AS mean,
    SQRT(svv / CAST(n AS DOUBLE)
      - (sv / CAST(n AS DOUBLE)) * (sv / CAST(n AS DOUBLE))) AS sd
  FROM mm
), seg AS (
  SELECT (d - d0) // 7 AS seg_id,
    CAST(COUNT(*) AS BIGINT) AS n_days,
    CAST(SUM(CAST(v AS DECIMAL(38, 0))) AS DOUBLE) AS seg_sum
  FROM daily, stats GROUP BY 1
), z AS (
  SELECT seg_id, n_days,
    (seg_sum / CAST(n_days AS DOUBLE) - mean) / sd AS zz
  FROM seg, stats
)
SELECT CAST(seg_id AS BIGINT) AS seg_id, n_days,
  CAST(FLOOR(zz * 1000000) AS BIGINT) AS paa_micro,
  CASE WHEN zz < -0.6745 THEN 'a'
       WHEN zz < 0.0 THEN 'b'
       WHEN zz < 0.6745 THEN 'c'
       ELSE 'd' END AS symbol
FROM z
""",
)
def q282_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) of the daily revenue
    series — the time-series-to-string transform behind motif
    discovery and series indexing (Lin/Keogh): z-normalize against
    the global mean/std, PAA-average over calendar weeks, quantize
    to a 4-symbol alphabet at the standard N(0,1) quartile
    breakpoints (±0.6745, 0 — fixed literals). Downstream, symbol
    strings join the winnowing/shingle dedup machinery (q74/q183)
    for motif mining. Columns: seg_id, n_days, paa_micro, symbol.

    Determinism: daily totals and per-segment sums are exact
    decimal sums cast once to double; mean/std/PAA/z is ONE fixed
    IEEE tree per segment (sqrt is correctly rounded); symbols come
    from comparisons on that same tree; FLOOR-micro pins the value
    column. No float accumulation crosses a partition boundary.

    Scale: one exchange collapses the fact to |days| rows; the
    1-row stats anchor broadcasts back; segments are a second
    dimension-sized rollup. Series symbolization at 100 TB is a
    pre-aggregation plus arithmetic on the time dimension.
    """
    daily = (
        table(spark, sf_dir, "orders")
        .select(
            # o_orderdate ships as timestamp_ntz: wall-clock diff from
            # the NTZ epoch (ts_us_expr's rule), never session-tz
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00',"
                " CAST(o_orderdate AS TIMESTAMP_NTZ))"
                " DIV 86400000000"
            ).alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("d")
        .agg(F.sum("vc").cast("bigint").alias("v"))
        .transform(checkpoint)
    )
    vd = F.col("v").cast("decimal(38,0)")
    mm = daily.agg(
        F.min("d").cast("bigint").alias("d0"),
        F.count("*").cast("bigint").alias("n"),
        F.sum(vd).cast("double").alias("sv"),
        F.sum(vd * vd).cast("double").alias("svv"),
    )
    nd = F.col("n").cast("double")
    stats = mm.select(
        "d0",
        (F.col("sv") / nd).alias("mean"),
        F.sqrt(
            F.col("svv") / nd - (F.col("sv") / nd) * (F.col("sv") / nd)
        ).alias("sd"),
    )
    seg = (
        daily.crossJoin(F.broadcast(stats))
        .groupBy(F.expr("(d - d0) DIV 7").alias("seg_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum(vd).cast("double").alias("seg_sum"),
            F.max("mean").alias("mean"),
            F.max("sd").alias("sd"),
        )
    )
    zz = (F.col("seg_sum") / F.col("n_days").cast("double") - F.col("mean")) / F.col(
        "sd"
    )
    return seg.select(
        F.col("seg_id").cast("bigint").alias("seg_id"),
        "n_days",
        F.floor(zz * 1000000).cast("bigint").alias("paa_micro"),
        F.when(zz < -0.6745, "a")
        .when(zz < 0.0, "b")
        .when(zz < 0.6745, "c")
        .otherwise("d")
        .alias("symbol"),
    )


@query(
    "q285_conformal_band",
    oracle="""
WITH mo AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
      AS month_id,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS v
  FROM orders GROUP BY 1
), lagd AS (
  SELECT month_id, v,
    LAG(v, 12) OVER (ORDER BY month_id) AS l12,
    CAST(ROW_NUMBER() OVER (ORDER BY month_id) AS BIGINT) AS rn,
    CAST(COUNT(*) OVER () AS BIGINT) AS n_months
  FROM mo
), resid AS (
  SELECT month_id, ABS(v - l12) AS ar FROM lagd WHERE l12 IS NOT NULL
), rr AS (
  SELECT ar,
    CAST(ROW_NUMBER() OVER (ORDER BY ar, month_id) AS BIGINT) AS rk,
    CAST(COUNT(*) OVER () AS BIGINT) AS n_resid
  FROM resid
), fc AS (
  SELECT v AS forecast_cents FROM lagd WHERE rn = n_months - 11
)
SELECT rr.n_resid,
  (9 * (rr.n_resid + 1) + 9) // 10 AS rank_k,
  rr.ar AS radius_cents,
  fc.forecast_cents,
  fc.forecast_cents - rr.ar AS lo_cents,
  fc.forecast_cents + rr.ar AS hi_cents
FROM rr, fc
WHERE rr.rk = (9 * (rr.n_resid + 1) + 9) // 10
  AND (9 * (rr.n_resid + 1) + 9) // 10 <= rr.n_resid
""",
)
def q285_conformal_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction band for next month's revenue —
    the distribution-free uncertainty quantification an eval
    pipeline wraps around ANY point forecaster: calibration
    residuals from the seasonal-naive model (v_t vs v_{t-12}), the
    90% conformal radius as the ceil(0.9*(n+1))-th smallest
    absolute residual (EXACT rank, the finite-sample-valid quantile
    — not an interpolated percentile), and the band around the
    seasonal-naive point forecast for the month after the series
    ends. Columns: n_resid, rank_k, radius_cents, forecast_cents,
    lo_cents, hi_cents.

    Determinism: integer cents everywhere; the conformal rank is
    the integer ceil identity (9*(n+1)+9) DIV 10 on positive
    operands; rank ties break on month_id. The row is emitted only
    when the rank is attainable (k <= n), identically in both
    engines.

    Scale: the fact collapses to |months| rows in one exchange;
    LAG, ranking and the rank probe all run on that time-bound
    frame. Conformal calibration at 100 TB is free once the series
    rollup exists.
    """
    mo = (
        table(spark, sf_dir, "orders")
        .select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("month_id"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("month_id")
        .agg(F.sum("vc").cast("bigint").alias("v"))
        .transform(checkpoint)
    )
    wm = Window.orderBy("month_id")
    wall = Window.orderBy("month_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    lagd = mo.select(
        "month_id",
        "v",
        F.lag("v", 12).over(wm).alias("l12"),
        F.row_number().over(wm).cast("bigint").alias("rn"),
        F.count("*").over(wall).cast("bigint").alias("n_months"),
    ).transform(checkpoint)
    resid = lagd.filter(F.col("l12").isNotNull()).select(
        "month_id", F.abs(F.col("v") - F.col("l12")).alias("ar")
    )
    wr = Window.orderBy("ar", "month_id")
    wcnt = Window.orderBy("ar", "month_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rr = resid.select(
        "ar",
        F.row_number().over(wr).cast("bigint").alias("rk"),
        F.count("*").over(wcnt).cast("bigint").alias("n_resid"),
    )
    fc = lagd.filter(F.col("rn") == F.col("n_months") - 11).select(
        F.col("v").alias("forecast_cents")
    )
    k_expr = F.expr("(9 * (n_resid + 1) + 9) DIV 10")
    return (
        rr.filter((F.col("rk") == k_expr) & (k_expr <= F.col("n_resid")))
        .crossJoin(F.broadcast(fc))
        .select(
            "n_resid",
            k_expr.alias("rank_k"),
            F.col("ar").alias("radius_cents"),
            "forecast_cents",
            (F.col("forecast_cents") - F.col("ar")).alias("lo_cents"),
            (F.col("forecast_cents") + F.col("ar")).alias("hi_cents"),
        )
    )


@query(
    "q288_woe_iv",
    oracle=f"""
WITH base AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
  FROM lineitem
), rng AS (
  SELECT MIN(q) AS lo, MAX(q) AS hi FROM base
), binned AS (
  SELECT CAST(CASE WHEN hi = lo THEN 0
    ELSE LEAST((q - lo) * 10 // (hi - lo), 9) END AS INT) AS bin,
    bad
  FROM base, rng
), g AS (
  SELECT bin, CAST(SUM(1 - bad) AS BIGINT) AS n_good,
    CAST(SUM(bad) AS BIGINT) AS n_bad
  FROM binned GROUP BY bin
), t AS (
  SELECT CAST(SUM(n_good) AS BIGINT) AS gg,
    CAST(SUM(n_bad) AS BIGINT) AS bb
  FROM g
)
SELECT bin, n_good, n_bad,
  CAST(CASE WHEN n_good > 0 AND n_bad > 0 THEN CAST(FLOOR(
    ln(CAST(n_good * bb AS DOUBLE) / CAST(n_bad * gg AS DOUBLE))
    * 1000000000000) AS BIGINT) ELSE 0 END AS BIGINT) AS woe_pico,
  CAST(CASE WHEN n_good > 0 AND n_bad > 0 THEN CAST(FLOOR(
    (CAST(n_good AS DOUBLE) / CAST(gg AS DOUBLE)
     - CAST(n_bad AS DOUBLE) / CAST(bb AS DOUBLE))
    * ln(CAST(n_good * bb AS DOUBLE) / CAST(n_bad * gg AS DOUBLE))
    * 1000000000000) AS BIGINT) ELSE 0 END AS BIGINT) AS iv_term_pico,
  CAST(CASE WHEN n_good = 0 OR n_bad = 0 THEN 1 ELSE 0 END AS INT)
    AS degenerate
FROM g, t
""",
)
def q288_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information Value profile — the
    supervised cousin of q235's PSI (PSI compares two unlabeled
    populations; WoE/IV scores how well a binned feature separates a
    LABEL) and the standard feature-screening table of scorecard
    modelling (IV < 0.02 useless, > 0.3 strong). Feature = decile
    bins of l_quantity (the q235 integer binning), label =
    l_returnflag = 'R'. WoE = ln of the integer cross-multiplied
    odds ratio g*B/(b*G); IV terms are (g/G - b/B)*WoE, each
    pico-FLOOR-quantized so the total IV is an exact integer sum of
    the emitted rows; degenerate (one-sided) bins are flagged, not
    epsilon-fudged. Columns: bin, n_good, n_bad, woe_pico,
    iv_term_pico, degenerate.

    Determinism: exact integer counts; integer cross-multiplies
    inside ln (ln over identical doubles is cross-engine stable);
    quantize-then-emit — the consumer sums iv_term_pico exactly.

    Scale: the q235 shape — one fact exchange to the 10-row grid,
    a 1-row totals broadcast, arithmetic on the grid. Screening a
    thousand features at 100 TB is a thousand grid rollups off
    shared scans.
    """
    base = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("bad"),
    )
    rng = base.agg(F.min("q").alias("lo"), F.max("q").alias("hi"))
    binned = base.crossJoin(F.broadcast(rng)).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.expr("(q - lo) * 10 DIV (hi - lo)"),
                F.lit(9).cast("bigint"),
            )
        )
        .cast("int")
        .alias("bin"),
        "bad",
    )
    g = (
        binned.groupBy("bin")
        .agg(
            F.sum(1 - F.col("bad")).cast("bigint").alias("n_good"),
            F.sum("bad").cast("bigint").alias("n_bad"),
        )
        .transform(checkpoint)
    )
    t = g.agg(
        F.sum("n_good").cast("bigint").alias("gg"),
        F.sum("n_bad").cast("bigint").alias("bb"),
    )
    ok = (F.col("n_good") > 0) & (F.col("n_bad") > 0)
    lnr = F.log(
        (F.col("n_good") * F.col("bb")).cast("double")
        / (F.col("n_bad") * F.col("gg")).cast("double")
    )
    pico = F.lit(1000000000000)
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "bin",
            "n_good",
            "n_bad",
            F.when(ok, F.floor(lnr * pico).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint"))
            .alias("woe_pico"),
            F.when(
                ok,
                F.floor(
                    (
                        F.col("n_good").cast("double")
                        / F.col("gg").cast("double")
                        - F.col("n_bad").cast("double")
                        / F.col("bb").cast("double")
                    )
                    * lnr
                    * pico
                ).cast("bigint"),
            )
            .otherwise(F.lit(0).cast("bigint"))
            .alias("iv_term_pico"),
            F.when(ok, 0).otherwise(1).cast("int").alias("degenerate"),
        )
    )


# q289's classical-decomposition pipeline, shared with the q325
# strength measures (the _KM_TABLE_SQL pattern)
_DECOMP_SQL = """
WITH mo AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
      AS month_id,
    CAST(month(o_orderdate) AS INT) AS moy,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS v
  FROM orders GROUP BY 1, 2
), s AS (
  SELECT month_id, moy, v,
    CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
    CAST(COUNT(*) OVER () AS BIGINT) AS n,
    CAST(SUM(v) OVER (w ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
      AS BIGINT) AS mid11,
    LAG(v, 6) OVER w AS vm6,
    LEAD(v, 6) OVER w AS vp6
  FROM mo WINDOW w AS (ORDER BY month_id)
), tr AS (
  SELECT month_id, moy, v,
    vm6 + 2 * mid11 + vp6 AS trend24
  FROM s WHERE rn > 6 AND rn <= n - 6
), se AS (
  SELECT moy,
    CAST(FLOOR(CAST(SUM(24 * v - trend24) AS DOUBLE)
      / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS seasonal24
  FROM tr GROUP BY moy
)
SELECT tr.month_id, tr.v AS v_cents, tr.trend24,
  se.seasonal24,
  24 * tr.v - tr.trend24 - se.seasonal24 AS resid24
FROM tr JOIN se USING (moy)
"""


@query("q289_seasonal_decompose", oracle=_DECOMP_SQL)
def q289_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the monthly
    revenue series (the moving-average method behind STL's
    initialization): trend via the standard centered 2x12 moving
    average, seasonal via month-of-year means of the detrended
    series, residual as the remainder — completing the time-series
    family (ACF q214, Holt q278, SAX q282, conformal q285). All
    three components are carried at 24x scale so the trend window
    (v_{t-6} + 2*sum_{-5..5} + v_{t+6}) and the residual identity
    24v = trend24 + seasonal24 + resid24 stay EXACT integers; only
    the seasonal month-mean takes one FLOOR-over-double (means of
    possibly-negative integers — integer DIV would truncate, not
    floor). Interior months only (rn in (6, n-6]). Columns:
    month_id, v_cents, trend24, seasonal24, resid24.

    Determinism: exact integer cent sums and window sums (cast out
    of HUGEINT); ROW-frame windows over observed months; one
    FLOOR(double) per month-of-year.

    Scale: the fact collapses to |months| in one exchange;
    everything else is windows and a 12-row rollup on the time
    dimension.
    """
    mo = (
        table(spark, sf_dir, "orders")
        .select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("month_id"),
            F.month("o_orderdate").cast("int").alias("moy"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("month_id", "moy")
        .agg(F.sum("vc").cast("bigint").alias("v"))
        .transform(checkpoint)
    )
    w = Window.orderBy("month_id")
    wall = Window.orderBy("month_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    s = mo.select(
        "month_id",
        "moy",
        "v",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count("*").over(wall).cast("bigint").alias("n"),
        F.sum("v").over(w.rowsBetween(-5, 5)).cast("bigint").alias("mid11"),
        F.lag("v", 6).over(w).alias("vm6"),
        F.lead("v", 6).over(w).alias("vp6"),
    )
    tr = s.filter((F.col("rn") > 6) & (F.col("rn") <= F.col("n") - 6)).select(
        "month_id",
        "moy",
        "v",
        (F.col("vm6") + 2 * F.col("mid11") + F.col("vp6")).alias("trend24"),
    ).transform(checkpoint)
    se = tr.groupBy("moy").agg(
        F.floor(
            F.sum(24 * F.col("v") - F.col("trend24")).cast("double")
            / F.count("*").cast("double")
        )
        .cast("bigint")
        .alias("seasonal24")
    )
    return tr.join(F.broadcast(se), "moy").select(
        "month_id",
        F.col("v").alias("v_cents"),
        "trend24",
        "seasonal24",
        (24 * F.col("v") - F.col("trend24") - F.col("seasonal24")).alias(
            "resid24"
        ),
    )


@query(
    "q290_amoc_changepoint",
    oracle="""
WITH mo AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
      AS month_id,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS v
  FROM orders GROUP BY 1
), p AS (
  SELECT month_id, v,
    CAST(ROW_NUMBER() OVER (ORDER BY month_id) AS BIGINT) AS rn,
    CAST(SUM(v) OVER (ORDER BY month_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS pre,
    CAST(COUNT(*) OVER () AS BIGINT) AS n,
    CAST(SUM(v) OVER () AS BIGINT) AS tot
  FROM mo
), s AS (
  SELECT month_id, rn, n, pre, tot,
    ABS(n * pre - rn * tot) AS stat
  FROM p WHERE rn < n
), best AS (
  SELECT month_id, rn, n, pre, tot, stat,
    ROW_NUMBER() OVER (ORDER BY stat DESC, rn) AS rk
  FROM s
)
SELECT month_id AS split_month_id, rn AS split_rn,
  n AS n_months, stat,
  pre // rn AS mean_before_c,
  (tot - pre) // (n - rn) AS mean_after_c
FROM best WHERE rk = 1
""",
)
def q290_amoc_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-most-one-changepoint (AMOC) detection on the monthly
    revenue series — the offline complement to q286's online CUSUM:
    the best single split is the argmax over candidate months of the
    centered prefix deviation |n*P_w - w*P_n| (the CUSUM statistic's
    closed form for one mean shift), which is EXACT integer
    arithmetic end to end — prefix sums, a cross-multiply, one
    argmax with an rn tie-break, and two non-negative integer DIVs
    for the before/after means. Columns: split_month_id, split_rn,
    n_months, stat, mean_before_c, mean_after_c.

    Determinism: exact cent sums; window prefix sums cast out of
    HUGEINT; integer cross-multiplies; DIV on non-negative operands.

    Scale: one exchange to the |months| frame; the candidate scan is
    a window over the time dimension. Offline changepoint search at
    100 TB is free once the series rollup exists — the statistic
    needs only prefix sums, never a per-split re-scan.
    """
    mo = (
        table(spark, sf_dir, "orders")
        .select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("month_id"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("month_id")
        .agg(F.sum("vc").cast("bigint").alias("v"))
        .transform(checkpoint)
    )
    w = Window.orderBy("month_id")
    wall = Window.orderBy("month_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p = mo.select(
        "month_id",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("pre"),
        F.count("*").over(wall).cast("bigint").alias("n"),
        F.sum("v").over(wall).cast("bigint").alias("tot"),
    )
    s = p.filter(F.col("rn") < F.col("n")).select(
        "month_id",
        "rn",
        "n",
        "pre",
        "tot",
        F.abs(F.col("n") * F.col("pre") - F.col("rn") * F.col("tot")).alias(
            "stat"
        ),
    )
    best = s.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("stat").desc(), "rn"))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    return best.select(
        F.col("month_id").alias("split_month_id"),
        F.col("rn").alias("split_rn"),
        F.col("n").alias("n_months"),
        "stat",
        F.expr("pre DIV rn").alias("mean_before_c"),
        F.expr("(tot - pre) DIV (n - rn)").alias("mean_after_c"),
    )


@query(
    "q291_brier_decomposition",
    oracle="""
WITH scored AS (
  SELECT CAST(ROUND(value * 1000) AS BIGINT) AS v,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), lim AS (
  SELECT MIN(v) AS lo, MAX(v) AS hi FROM scored
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p,
    CAST(SUM(CAST((v - lo - y * (hi - lo))
               * (v - lo - y * (hi - lo)) AS DECIMAL(38, 0)))
      AS DOUBLE) AS num_bs,
    MAX(lo) AS lo, MAX(hi) AS hi
  FROM scored, lim
), g AS (
  SELECT CAST(CASE WHEN hi = lo THEN 0
    ELSE LEAST((v - lo) * 10 // (hi - lo), 9) END AS INT) AS bin,
    CAST(COUNT(*) AS BIGINT) AS nk,
    CAST(SUM(y) AS BIGINT) AS pk,
    CAST(SUM(v) AS BIGINT) AS sv
  FROM scored, lim GROUP BY 1
), terms AS (
  SELECT
    CAST(FLOOR(CAST(nk AS DOUBLE)
      * ((CAST(sv - nk * lo AS DOUBLE)
          / (CAST(nk AS DOUBLE) * CAST(hi - lo AS DOUBLE)))
         - CAST(pk AS DOUBLE) / CAST(nk AS DOUBLE))
      * ((CAST(sv - nk * lo AS DOUBLE)
          / (CAST(nk AS DOUBLE) * CAST(hi - lo AS DOUBLE)))
         - CAST(pk AS DOUBLE) / CAST(nk AS DOUBLE))
      / CAST(n AS DOUBLE) * 1000000000000) AS BIGINT) AS rel_t,
    CAST(FLOOR(CAST(nk AS DOUBLE)
      * (CAST(pk AS DOUBLE) / CAST(nk AS DOUBLE)
         - CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
      * (CAST(pk AS DOUBLE) / CAST(nk AS DOUBLE)
         - CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
      / CAST(n AS DOUBLE) * 1000000000000) AS BIGINT) AS res_t
  FROM g, tot
)
SELECT tot.n, tot.p AS n_pos,
  CAST(FLOOR(tot.num_bs * 1000000.0
    / (CAST(tot.hi - tot.lo AS DOUBLE) * CAST(tot.hi - tot.lo AS DOUBLE)
       * CAST(tot.n AS DOUBLE))) AS BIGINT) AS bs_ppm,
  (SELECT CAST(SUM(rel_t) AS BIGINT) FROM terms) AS rel_pico,
  (SELECT CAST(SUM(res_t) AS BIGINT) FROM terms) AS res_pico,
  CAST(tot.p * (tot.n - tot.p) * 1000000 // (tot.n * tot.n) AS BIGINT)
    AS unc_ppm
FROM tot
WHERE tot.hi > tot.lo
""",
)
def q291_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy (1973) decomposition — the
    third leg of forecast evaluation next to AUC (q233,
    discrimination by rank) and the reliability table (q234,
    calibration by bin): BS over min-max-normalized scores, plus
    RELIABILITY (bin calibration error), RESOLUTION (how far bin
    rates sit from the base rate) and UNCERTAINTY (base-rate
    variance), with BS_binned = REL - RES + UNC. The raw BS
    numerator sum((v - lo - y*(hi-lo))^2) is an EXACT integer in
    DECIMAL; REL/RES terms are one fixed IEEE tree per decile bin,
    pico-floored before the 10-term integer sum; UNC is an integer
    cross-multiply DIV. Columns: n, n_pos, bs_ppm, rel_pico,
    res_pico, unc_ppm.

    Determinism: exact integer/decimal accumulation everywhere a
    sum crosses partitions; the only doubles are per-bin (or 1-row)
    fixed trees; degenerate score ranges emit no row identically.

    Scale: the q234 shape — one 2-value range broadcast, one 10-row
    grid, 1-row closings. Forecast-quality monitoring at 100 TB is
    two scan passes and grid arithmetic.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    scored = ev.select(
        F.round(F.col("value") * 1000).cast("bigint").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    lim = scored.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    sl = scored.crossJoin(F.broadcast(lim))
    resid = F.col("v") - F.col("lo") - F.col("y") * (F.col("hi") - F.col("lo"))
    tot = sl.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("p"),
        F.sum((resid * resid).cast("decimal(38,0)"))
        .cast("double")
        .alias("num_bs"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
    )
    g = (
        sl.groupBy(
            F.when(F.col("hi") == F.col("lo"), F.lit(0))
            .otherwise(
                F.least(
                    F.expr("(v - lo) * 10 DIV (hi - lo)"),
                    F.lit(9).cast("bigint"),
                )
            )
            .cast("int")
            .alias("bin")
        )
        .agg(
            F.count("*").cast("bigint").alias("nk"),
            F.sum("y").cast("bigint").alias("pk"),
            F.sum("v").cast("bigint").alias("sv"),
        )
    )
    gt = g.crossJoin(F.broadcast(tot))
    nkd = F.col("nk").cast("double")
    nd = F.col("n").cast("double")
    pbar = (F.col("sv") - F.col("nk") * F.col("lo")).cast("double") / (
        nkd * (F.col("hi") - F.col("lo")).cast("double")
    )
    ybar_k = F.col("pk").cast("double") / nkd
    ybar = F.col("p").cast("double") / nd
    pico = F.lit(1000000000000)
    terms = gt.select(
        F.floor(nkd * (pbar - ybar_k) * (pbar - ybar_k) / nd * pico)
        .cast("bigint")
        .alias("rel_t"),
        F.floor(nkd * (ybar_k - ybar) * (ybar_k - ybar) / nd * pico)
        .cast("bigint")
        .alias("res_t"),
    ).agg(
        F.sum("rel_t").cast("bigint").alias("rel_pico"),
        F.sum("res_t").cast("bigint").alias("res_pico"),
    )
    hl = (F.col("hi") - F.col("lo")).cast("double")
    return (
        tot.filter(F.col("hi") > F.col("lo"))
        .crossJoin(F.broadcast(terms))
        .select(
            "n",
            F.col("p").alias("n_pos"),
            F.floor(F.col("num_bs") * F.lit(1000000.0) / (hl * hl * nd))
            .cast("bigint")
            .alias("bs_ppm"),
            "rel_pico",
            "res_pico",
            F.expr(
                "CAST(p * (n - p) * 1000000 DIV (n * n) AS BIGINT)"
            ).alias("unc_ppm"),
        )
    )


@query(
    "q292_simpson_audit",
    oracle="""
WITH xy AS (
  SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS x,
    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
), m AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(x AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS sy,
    CAST(SUM(CAST(x AS DECIMAL(38, 0)) * CAST(y AS DECIMAL(38, 0)))
      AS DECIMAL(38, 0)) AS sxy
  FROM xy GROUP BY grp
), t AS (
  SELECT CAST(SUM(n) AS DECIMAL(38, 0)) AS n,
    CAST(SUM(sx) AS DECIMAL(38, 0)) AS sx,
    CAST(SUM(sy) AS DECIMAL(38, 0)) AS sy,
    CAST(SUM(sxy) AS DECIMAL(38, 0)) AS sxy
  FROM m
), signs AS (
  SELECT m.grp, m.n,
    CAST(CASE WHEN CAST(m.n AS DECIMAL(38, 0)) * m.sxy - m.sx * m.sy > 0
           THEN 1
         WHEN CAST(m.n AS DECIMAL(38, 0)) * m.sxy - m.sx * m.sy < 0
           THEN -1 ELSE 0 END AS INT) AS grp_sign,
    CAST(CASE WHEN t.n * t.sxy - t.sx * t.sy > 0 THEN 1
         WHEN t.n * t.sxy - t.sx * t.sy < 0 THEN -1
         ELSE 0 END AS INT) AS pooled_sign
  FROM m, t
)
SELECT grp AS stratum, CAST(n AS BIGINT) AS n, grp_sign, pooled_sign,
  CAST(CASE WHEN grp_sign <> 0 AND pooled_sign <> 0
       AND grp_sign <> pooled_sign THEN 1 ELSE 0 END AS INT)
    AS reversed
FROM signs
""",
)
def q292_simpson_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit: the sign of the quantity-price
    covariance per return-flag stratum vs the pooled sign — an
    aggregation-bias screen every analytics layer should run before
    publishing a pooled correlation (a reversed stratum means the
    pooled trend misstates every subgroup). The covariance sign is
    the EXACT integer/decimal cross-multiply sign(n*Sxy - Sx*Sy) —
    no variance normalization is needed for a sign, so no floats
    exist anywhere. Columns: shipmode, n, grp_sign, pooled_sign,
    reversed.

    Determinism: exact DECIMAL(38,0) moment sums (per-row x*y stays
    in int64; the n*Sxy cross-multiply does not, hence decimal);
    explicit three-way CASE sign extraction (no engine signum()
    type drift).

    Scale: one map-side-combined exchange to the |strata| moment
    table; the pooled row is a rollup of the strata. Auditing a
    thousand (x, y, stratum) triples at 100 TB is a thousand moment
    rollups off shared scans.
    """
    xy = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    m = (
        xy.groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(xd).cast("decimal(38,0)").alias("sx"),
            F.sum(yd).cast("decimal(38,0)").alias("sy"),
            F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
        )
        .transform(checkpoint)
    )
    t = m.agg(
        F.sum("n").cast("decimal(38,0)").alias("tn"),
        F.sum("sx").cast("decimal(38,0)").alias("tsx"),
        F.sum("sy").cast("decimal(38,0)").alias("tsy"),
        F.sum("sxy").cast("decimal(38,0)").alias("tsxy"),
    )

    def sign(expr):
        return (
            F.when(expr > 0, 1).when(expr < 0, -1).otherwise(0).cast("int")
        )

    gd = F.col("n").cast("decimal(38,0)") * F.col("sxy") - F.col("sx") * F.col(
        "sy"
    )
    pd_ = F.col("tn") * F.col("tsxy") - F.col("tsx") * F.col("tsy")
    out = m.crossJoin(F.broadcast(t)).select(
        F.col("grp").alias("stratum"),
        "n",
        sign(gd).alias("grp_sign"),
        sign(pd_).alias("pooled_sign"),
    )
    return out.withColumn(
        "reversed",
        F.when(
            (F.col("grp_sign") != 0)
            & (F.col("pooled_sign") != 0)
            & (F.col("grp_sign") != F.col("pooled_sign")),
            1,
        )
        .otherwise(0)
        .cast("int"),
    )


@query(
    "q293_kendall_tau",
    oracle="""
WITH xy AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
    CAST(ROUND(l_discount * 100) AS BIGINT) AS y
  FROM lineitem
), cells AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS h FROM xy GROUP BY 1, 2
), n AS (
  SELECT CAST(SUM(h) AS BIGINT) AS n FROM cells
), conc AS (
  SELECT CAST(SUM(a.h * b.h) AS BIGINT) AS c
  FROM cells a JOIN cells b ON b.x > a.x AND b.y > a.y
), disc AS (
  SELECT CAST(SUM(a.h * b.h) AS BIGINT) AS d
  FROM cells a JOIN cells b ON b.x > a.x AND b.y < a.y
), tx AS (
  SELECT CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n1
  FROM (SELECT CAST(SUM(h) AS BIGINT) AS t FROM cells GROUP BY x)
), ty AS (
  SELECT CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n2
  FROM (SELECT CAST(SUM(h) AS BIGINT) AS t FROM cells GROUP BY y)
)
SELECT n.n, COALESCE(conc.c, 0) AS n_concordant,
  COALESCE(disc.d, 0) AS n_discordant, tx.n1 AS ties_x, ty.n2 AS ties_y,
  CAST(FLOOR(CAST(COALESCE(conc.c, 0) - COALESCE(disc.d, 0) AS DOUBLE)
    / SQRT(CAST(n.n * (n.n - 1) // 2 - tx.n1 AS DOUBLE)
         * CAST(n.n * (n.n - 1) // 2 - ty.n2 AS DOUBLE))
    * 1000000) AS BIGINT) AS tau_b_ppm
FROM n, conc, disc, tx, ty
""",
)
def q293_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b rank correlation between quantity and
    discount — the third rank-correlation in the family (Pearson
    moments q208, Spearman q261): concordant/discordant pair counts
    with the tie-correct denominator. The whole statistic runs on
    the JOINT VALUE HISTOGRAM: concordance is a self-join of the
    (x, y, count) cell table on (x2 > x1, y2 > y1) — the pair space
    is |distinct x| * |distinct y| cells (value-DOMAIN-bound, ~550
    here, CONSTANT in corpus size), never the corpus's n^2 rows.
    C, D and both tie counts are exact integers; only the final
    tau-b normalization is one FLOOR(double) tree (sqrt is
    IEEE-correctly-rounded). Columns: n, n_concordant, n_discordant,
    ties_x, ties_y, tau_b_ppm.

    Determinism: exact integer pair counting; integer DIV on
    non-negative operands; one fixed closing tree.

    Scale: one exchange to the cell histogram; the cell self-join
    and marginal rollups are grid-bound. Kendall over 100 TB costs
    one histogram pass — the O(n log n) merge-sort formulations are
    unnecessary when the value domains are bounded.
    """
    xy = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("y"),
    )
    cells = (
        xy.groupBy("x", "y")
        .agg(F.count("*").cast("bigint").alias("h"))
        .transform(checkpoint)
    )
    n = cells.agg(F.sum("h").cast("bigint").alias("n"))
    a = cells.select(
        F.col("x").alias("x1"), F.col("y").alias("y1"), F.col("h").alias("h1")
    )
    b = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("h").alias("h2")
    )
    conc = (
        a.join(b, (F.col("x2") > F.col("x1")) & (F.col("y2") > F.col("y1")))
        .agg(F.sum(F.col("h1") * F.col("h2")).cast("bigint").alias("c"))
    )
    disc = (
        a.join(b, (F.col("x2") > F.col("x1")) & (F.col("y2") < F.col("y1")))
        .agg(F.sum(F.col("h1") * F.col("h2")).cast("bigint").alias("d"))
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("h").cast("bigint").alias("t"))
        .agg(
            F.sum(F.expr("t * (t - 1) DIV 2")).cast("bigint").alias("n1")
        )
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("h").cast("bigint").alias("t"))
        .agg(
            F.sum(F.expr("t * (t - 1) DIV 2")).cast("bigint").alias("n2")
        )
    )
    half = F.expr("n * (n - 1) DIV 2")
    return (
        n.crossJoin(F.broadcast(conc))
        .crossJoin(F.broadcast(disc))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            "n",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias(
                "n_concordant"
            ),
            F.coalesce(F.col("d"), F.lit(0)).cast("bigint").alias(
                "n_discordant"
            ),
            F.col("n1").alias("ties_x"),
            F.col("n2").alias("ties_y"),
            F.floor(
                (
                    F.coalesce(F.col("c"), F.lit(0))
                    - F.coalesce(F.col("d"), F.lit(0))
                ).cast("double")
                / F.sqrt(
                    (half - F.col("n1")).cast("double")
                    * (half - F.col("n2")).cast("double")
                )
                * F.lit(1000000)
            )
            .cast("bigint")
            .alias("tau_b_ppm"),
        )
    )


@query(
    "q294_lift_table",
    oracle="""
WITH scored AS (
  SELECT CAST(ROUND(value * 1000) AS BIGINT) AS v,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), h AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(y) AS BIGINT) AS npos
  FROM scored GROUP BY v
), c AS (
  SELECT v, n, npos,
    CAST(SUM(n) OVER w AS BIGINT) - n AS cum_before
  FROM h WINDOW w AS (ORDER BY v DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(npos) AS BIGINT) AS pp
  FROM h
), d AS (
  SELECT CAST(LEAST(cum_before * 10 // nn, 9) AS INT) AS decile,
    CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(npos) AS BIGINT) AS n_pos
  FROM c, t GROUP BY 1
), cum AS (
  SELECT decile, n, n_pos,
    CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
    CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos
  FROM d WINDOW w AS (ORDER BY decile
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT decile, n, n_pos, cum_n, cum_pos,
  CAST(cum_pos * 1000000 // pp AS BIGINT) AS capture_ppm,
  CAST(cum_pos * nn * 1000000 // (cum_n * pp) AS BIGINT) AS lift_ppm
FROM cum, t
""",
)
def q294_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table — the model-eval artifact next
    to AUC (q233), the reliability table (q234) and the Brier
    decomposition (q291): score-DESC deciles with cumulative
    positive capture and lift vs random targeting. Deciles are
    assigned to whole DISTINCT-SCORE BLOCKS via the integer rank
    bound (cum_before * 10 DIV N) — ties never split across deciles
    and NO corpus-wide row_number exists (a global per-row rank is
    the single-task funnel this engine systematically avoids; the
    histogram form is value-domain-bound). Capture and lift are
    integer cross-multiply DIVs. Columns: decile, n, n_pos, cum_n,
    cum_pos, capture_ppm, lift_ppm.

    Determinism: exact integer histogram and prefix sums (cast out
    of HUGEINT); block-stable decile assignment; non-negative
    integer DIVs only.

    Scale: one exchange to the |distinct scores| histogram;
    windows and the 10-row rollup run on that bounded frame. The
    int64 bound on cum_pos*N*1e6 holds to ~10^6-row positives at
    10x; past that the same table runs with DECIMAL cross-multiplies.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    h = (
        ev.select(
            F.round(F.col("value") * 1000).cast("bigint").alias("v"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
        .groupBy("v")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("npos"),
        )
        .transform(checkpoint)
    )
    wd = Window.orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = h.select(
        "v",
        "n",
        "npos",
        (F.sum("n").over(wd).cast("bigint") - F.col("n")).alias("cum_before"),
    )
    t = h.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("npos").cast("bigint").alias("pp"),
    )
    d = (
        c.crossJoin(F.broadcast(t))
        .groupBy(
            F.least(F.expr("cum_before * 10 DIV nn"), F.lit(9).cast("bigint"))
            .cast("int")
            .alias("decile")
        )
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("npos").cast("bigint").alias("n_pos"),
        )
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = d.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n").over(wc).cast("bigint").alias("cum_n"),
        F.sum("n_pos").over(wc).cast("bigint").alias("cum_pos"),
    )
    return cum.crossJoin(F.broadcast(t)).select(
        "decile",
        "n",
        "n_pos",
        "cum_n",
        "cum_pos",
        F.expr("CAST(cum_pos * 1000000 DIV pp AS BIGINT)").alias(
            "capture_ppm"
        ),
        F.expr(
            "CAST(cum_pos * nn * 1000000 DIV (cum_n * pp) AS BIGINT)"
        ).alias("lift_ppm"),
    )


@query(
    "q300_logrank_test",
    oracle="""
WITH per_user AS (
  SELECT user_id,
    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
      THEN 1 ELSE 0 END AS g1,
    CASE WHEN MIN(CASE WHEN event_type = 'purchase'
                  THEN epoch_us(ts) END) IS NOT NULL
      THEN (MIN(CASE WHEN event_type = 'purchase'
                THEN epoch_us(ts) END) - MIN(epoch_us(ts)))
           // 86400000000
      ELSE (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 86400000000
    END AS dur,
    CASE WHEN MIN(CASE WHEN event_type = 'purchase'
                  THEN epoch_us(ts) END) IS NOT NULL
      THEN 1 ELSE 0 END AS event
  FROM events WHERE user_id IS NOT NULL
  GROUP BY user_id
), risk AS (
  SELECT dur,
    CAST(SUM(g1 * event) AS BIGINT) AS d1,
    CAST(SUM((1 - g1) * event) AS BIGINT) AS d2,
    CAST(SUM(g1) AS BIGINT) AS r1,
    CAST(SUM(1 - g1) AS BIGINT) AS r2
  FROM per_user GROUP BY dur
), atrisk AS (
  SELECT dur, d1, d2,
    CAST(SUM(r1) OVER () AS BIGINT)
      - (CAST(SUM(r1) OVER (ORDER BY dur
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) - r1) AS n1t,
    CAST(SUM(r2) OVER () AS BIGINT)
      - (CAST(SUM(r2) OVER (ORDER BY dur
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) - r2) AS n2t
  FROM risk
), terms AS (
  SELECT d1, d2, n1t, n2t, n1t + n2t AS nt, d1 + d2 AS dt,
    d1 * 1000000 - CAST(
      CAST(d1 + d2 AS HUGEINT) * n1t * 1000000 // (n1t + n2t)
      AS BIGINT) AS oe_micro,
    CAST(
      CAST(d1 + d2 AS HUGEINT) * n1t * n2t
        * ((n1t + n2t) - (d1 + d2)) * 1000000
      // (CAST(n1t + n2t AS HUGEINT) * (n1t + n2t)
          * ((n1t + n2t) - 1))
      AS BIGINT) AS v_micro
  FROM atrisk
  WHERE d1 + d2 >= 1 AND n1t + n2t > 1
)
SELECT
  CAST((SELECT SUM(r1) FROM risk) AS BIGINT) AS n1,
  CAST((SELECT SUM(r2) FROM risk) AS BIGINT) AS n2,
  CAST(SUM(d1) AS BIGINT) AS d1_total,
  CAST(SUM(d2) AS BIGINT) AS d2_total,
  CAST(SUM(oe_micro) AS BIGINT) AS oe_sum_micro,
  CAST(SUM(v_micro) AS BIGINT) AS var_sum_micro,
  CAST(CAST(SUM(oe_micro) AS HUGEINT) * SUM(oe_micro)
    // SUM(v_micro) AS BIGINT) AS chi2_micro
FROM terms
""",
)
def q300_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) two-sample survival test — the
    hypothesis test that pairs with q229's Kaplan-Meier curve the
    way q202's z-test pairs with a mean: do the md5-routed A/B
    cohorts share a time-to-first-purchase distribution? At each
    event time the observed group-1 deaths are compared with the
    hypergeometric expectation d·n1/n and variance
    d·n1·n2·(n−d) / (n²·(n−1)); the statistic is (Σ(O−E))²/ΣV ~ χ²₁
    (Mantel '66; public literature). Every per-time term is an
    exact integer cross-multiply DIV in micro-units
    (quantize-then-sum); the closing square ratio widens through
    DECIMAL/HUGEINT. Columns: n1, n2, d1_total, d2_total,
    oe_sum_micro, var_sum_micro, chi2_micro.

    Determinism: md5 routing; integer day DIVs; the at-risk counts
    are windowed prefix sums; all DIVs have non-negative operands
    (the signed O−E is summed exactly and only squared before the
    final DIV).

    Scale: one exchange collapses the event stream to per-user
    triples (the q229 path with a group bit), a second to the
    |distinct durations| risk table; the term scan is a window over
    the time dimension and the test closes in a 1-row aggregate.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    ev = events_with_us(spark, sf_dir).filter(F.col("user_id").isNotNull())
    per_user = (
        ev.select(
            "user_id",
            "ts_us",
            F.when(F.col("event_type") == "purchase", True).alias("is_p"),
        )
        .groupBy("user_id")
        .agg(
            F.min("ts_us").alias("t0"),
            F.min(F.when(F.col("is_p"), F.col("ts_us"))).alias("tp"),
            F.max("ts_us").alias("tl"),
        )
        .select(
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                <= "7",
                1,
            )
            .otherwise(0)
            .alias("g1"),
            F.when(
                F.col("tp").isNotNull(),
                F.expr("(tp - t0) DIV 86400000000"),
            )
            .otherwise(F.expr("(tl - t0) DIV 86400000000"))
            .alias("dur"),
            F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("event"),
        )
    )
    risk = per_user.groupBy("dur").agg(
        F.sum(F.col("g1") * F.col("event")).cast("bigint").alias("d1"),
        F.sum((1 - F.col("g1")) * F.col("event")).cast("bigint").alias("d2"),
        F.sum("g1").cast("bigint").alias("r1"),
        F.sum(1 - F.col("g1")).cast("bigint").alias("r2"),
    )
    wcum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    atrisk = risk.select(
        "d1",
        "d2",
        (
            F.sum("r1").over(wall).cast("bigint")
            - (F.sum("r1").over(wcum).cast("bigint") - F.col("r1"))
        ).alias("n1t"),
        (
            F.sum("r2").over(wall).cast("bigint")
            - (F.sum("r2").over(wcum).cast("bigint") - F.col("r2"))
        ).alias("n2t"),
    )
    terms = atrisk.filter(
        ((F.col("d1") + F.col("d2")) >= 1)
        & ((F.col("n1t") + F.col("n2t")) > 1)
    ).select(
        "d1",
        "d2",
        F.expr(
            "d1 * 1000000 - CAST(CAST(d1 + d2 AS DECIMAL(38,0))"
            " * n1t * 1000000 DIV (n1t + n2t) AS BIGINT)"
        ).alias("oe_micro"),
        F.expr(
            "CAST(CAST(d1 + d2 AS DECIMAL(38,0)) * n1t * n2t"
            " * ((n1t + n2t) - (d1 + d2)) * 1000000"
            " DIV (CAST(n1t + n2t AS DECIMAL(38,0)) * (n1t + n2t)"
            " * ((n1t + n2t) - 1)) AS BIGINT)"
        ).alias("v_micro"),
    )
    totals = per_user.agg(
        F.sum("g1").cast("bigint").alias("n1"),
        F.sum(1 - F.col("g1")).cast("bigint").alias("n2"),
    )
    return (
        terms.agg(
            F.sum("d1").cast("bigint").alias("d1_total"),
            F.sum("d2").cast("bigint").alias("d2_total"),
            F.sum("oe_micro").cast("bigint").alias("oe_sum_micro"),
            F.sum("v_micro").cast("bigint").alias("var_sum_micro"),
            F.expr(
                "CAST(CAST(SUM(oe_micro) AS DECIMAL(38,0))"
                " * SUM(oe_micro) DIV SUM(v_micro) AS BIGINT)"
            ).alias("chi2_micro"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "n1", "n2", "d1_total", "d2_total",
            "oe_sum_micro", "var_sum_micro", "chi2_micro",
        )
    )


@query(
    "q301_page_hinkley",
    oracle="""
WITH mo AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
      AS month_id,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS v
  FROM orders GROUP BY 1
), p AS (
  SELECT month_id, v,
    CAST(ROW_NUMBER() OVER (ORDER BY month_id) AS BIGINT) AS rn,
    CAST(SUM(v) OVER (ORDER BY month_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS pre,
    CAST(COUNT(*) OVER () AS BIGINT) AS n,
    CAST(SUM(v) OVER () AS BIGINT) AS tot
  FROM mo
), m AS (
  SELECT month_id, rn, n, tot,
    n * pre - rn * tot AS mt
  FROM p
), ph AS (
  SELECT month_id, rn, n, tot, mt,
    mt - MIN(mt) OVER (ORDER BY rn
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph_t
  FROM m
), best AS (
  SELECT month_id, rn, n, tot, ph_t,
    ROW_NUMBER() OVER (ORDER BY ph_t DESC, rn) AS rk
  FROM ph
)
SELECT n AS n_months, tot AS total_cents,
  tot // n AS mean_cents,
  month_id AS alarm_month_id, rn AS alarm_rn,
  ph_t AS ph_stat_nscaled,
  ph_t // n AS ph_cents
FROM best WHERE rk = 1
""",
)
def q301_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward mean-shift detector on the monthly
    revenue series — the sequential drift monitor that sits between
    q286's online CUSUM (positive-part recurrence) and q290's
    offline AMOC (single best split): PH_t = m_t − min_{j≤t} m_j
    where m_t = Σ_{i≤t}(x_i − x̄) (Page '54, Hinkley '71; public
    literature). Multiplying through by n makes every quantity an
    exact integer: m_t·n = n·P_t − t·S rides the same prefix sums
    as q290, the running minimum is one more window, and the alarm
    point is the argmax with an earliest-month tie-break — the q286
    lesson (a positive-part recurrence needs NO recursion) applied
    to the offline sweep. Columns: n_months, total_cents,
    mean_cents, alarm_month_id, alarm_rn, ph_stat_nscaled,
    ph_cents.

    Determinism: exact cent sums, integer cross-multiplies, a
    unique rn tie-break, DIV on non-negative operands (PH_t ≥ 0 by
    construction; the running min is ≤ the current value).

    Scale: one exchange to the |months| frame; three windows over
    the time dimension. Drift monitoring at 100 TB is free once the
    series rollup exists — the detector never rescans the fact.
    """
    mo = (
        table(spark, sf_dir, "orders")
        .select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("month_id"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("month_id")
        .agg(F.sum("vc").cast("bigint").alias("v"))
        .transform(checkpoint)
    )
    w = Window.orderBy("month_id")
    wall = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p = mo.select(
        "month_id",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("pre"),
        F.count("*").over(wall).cast("bigint").alias("n"),
        F.sum("v").over(wall).cast("bigint").alias("tot"),
    )
    m = p.select(
        "month_id",
        "rn",
        "n",
        "tot",
        (F.col("n") * F.col("pre") - F.col("rn") * F.col("tot")).alias("mt"),
    )
    wrun = Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)
    ph = m.select(
        "month_id",
        "rn",
        "n",
        "tot",
        (F.col("mt") - F.min("mt").over(wrun)).alias("ph_t"),
    )
    best = ph.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("ph_t").desc(), "rn"))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    return best.select(
        F.col("n").alias("n_months"),
        F.col("tot").alias("total_cents"),
        F.expr("tot DIV n").alias("mean_cents"),
        F.col("month_id").alias("alarm_month_id"),
        F.col("rn").alias("alarm_rn"),
        F.col("ph_t").alias("ph_stat_nscaled"),
        F.expr("ph_t DIV n").alias("ph_cents"),
    )


@query(
    "q302_nelson_aalen",
    oracle=f"""
WITH km0 AS ({_KM_TABLE_SQL}
), km AS (
  SELECT dur, d, c,
    CAST(SUM(d + c) OVER (ORDER BY dur
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      - (d + c) AS removed_before,
    CAST(SUM(d + c) OVER () AS BIGINT) AS n_total
  FROM km0
), h AS (
  SELECT dur, d, c,
    n_total - removed_before AS n_risk,
    CAST(d * 1000000 // (n_total - removed_before) AS BIGINT)
      AS h_term_micro
  FROM km
)
SELECT dur AS dur_days, n_risk, d AS d_events, c AS c_censored,
  h_term_micro,
  CAST(SUM(h_term_micro) OVER (ORDER BY dur
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS h_cum_micro
FROM h
""",
)
def q302_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimate over the q229
    time-to-first-purchase risk table: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ
    (Nelson '72, Aalen '78; public literature). Where the
    Kaplan-Meier PRODUCT forced a WITH RECURSIVE integer recurrence
    (q229), the hazard SUM rides an ordinary window prefix sum over
    micro-quantized terms — no recursion, no UnionLoop, one pass.
    This is exactly why large-scale survival pipelines prefer the
    NA estimator: at 100 TB the risk table is the same two
    exchanges, but the curve itself is embarrassingly windowed.
    Columns: dur_days, n_risk, d_events, c_censored, h_term_micro,
    h_cum_micro.

    Determinism: the risk table is exact counts (the q229 path);
    each hazard term is an integer DIV on non-negative operands,
    FLOOR-quantized to micro BEFORE the cumulative sum
    (quantize-then-sum).

    Scale: one exchange to per-user triples, a second to the
    |distinct durations| frame; both windows run over the time
    dimension.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    ev = events_with_us(spark, sf_dir).filter(F.col("user_id").isNotNull())
    per_user = (
        ev.select(
            "user_id",
            "ts_us",
            F.when(F.col("event_type") == "purchase", True).alias("is_p"),
        )
        .groupBy("user_id")
        .agg(
            F.min("ts_us").alias("t0"),
            F.min(F.when(F.col("is_p"), F.col("ts_us"))).alias("tp"),
            F.max("ts_us").alias("tl"),
        )
        .select(
            F.when(
                F.col("tp").isNotNull(),
                F.expr("(tp - t0) DIV 86400000000"),
            )
            .otherwise(F.expr("(tl - t0) DIV 86400000000"))
            .alias("dur"),
            F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("event"),
        )
    )
    km0 = per_user.groupBy("dur").agg(
        F.sum("event").cast("bigint").alias("d"),
        F.sum(1 - F.col("event")).cast("bigint").alias("c"),
    )
    wcum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    h = km0.select(
        "dur",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(wall).cast("bigint")
            - (
                F.sum(F.col("d") + F.col("c")).over(wcum).cast("bigint")
                - (F.col("d") + F.col("c"))
            )
        ).alias("n_risk"),
    ).select(
        "dur",
        "d",
        "c",
        "n_risk",
        F.expr("d * 1000000 DIV n_risk").alias("h_term_micro"),
    )
    return h.select(
        F.col("dur").alias("dur_days"),
        "n_risk",
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        "h_term_micro",
        F.sum("h_term_micro").over(wcum).cast("bigint").alias("h_cum_micro"),
    )


@query(
    "q303_cmh_test",
    oracle="""
WITH scored AS (
  SELECT c.c_mktsegment AS stratum,
    CASE WHEN substring(md5(CAST(e.user_id AS VARCHAR)), 1, 1)
      <= '7' THEN 1 ELSE 0 END AS x,
    CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
  WHERE e.user_id IS NOT NULL
), k AS (
  SELECT stratum,
    CAST(SUM(x * y) AS BIGINT) AS a,
    CAST(SUM(x * (1 - y)) AS BIGINT) AS b,
    CAST(SUM((1 - x) * y) AS BIGINT) AS cc,
    CAST(SUM((1 - x) * (1 - y)) AS BIGINT) AS d,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM scored GROUP BY stratum
), terms AS (
  SELECT a,
    a * 1000000 - CAST(
      CAST(a + b AS HUGEINT) * (a + cc) * 1000000 // n
      AS BIGINT) AS oe_micro,
    CAST(
      CAST(a + b AS HUGEINT) * (cc + d) * (a + cc) * (b + d)
        * 1000000
      // (CAST(n AS HUGEINT) * n * (n - 1))
      AS BIGINT) AS v_micro,
    CAST(CAST(a AS HUGEINT) * d * 1000000 // n AS BIGINT)
      AS orn_micro,
    CAST(CAST(b AS HUGEINT) * cc * 1000000 // n AS BIGINT)
      AS ord_micro
  FROM k WHERE n > 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
  CAST(SUM(a) AS BIGINT) AS a_sum,
  CAST(SUM(oe_micro) AS BIGINT) AS oe_sum_micro,
  CAST(SUM(v_micro) AS BIGINT) AS var_sum_micro,
  CAST(CAST(SUM(oe_micro) AS HUGEINT) * SUM(oe_micro)
    // SUM(v_micro) AS BIGINT) AS cmh_chi2_micro,
  CAST(SUM(orn_micro) AS BIGINT) AS or_num_micro,
  CAST(SUM(ord_micro) AS BIGINT) AS or_den_micro,
  CAST(CAST(SUM(orn_micro) AS HUGEINT) * 1000
    // SUM(ord_micro) AS BIGINT) AS or_mh_milli
FROM terms
""",
)
def q303_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified association test plus the
    Mantel-Haenszel common odds ratio — the inferential complement
    to q292's Simpson sign audit: q292 asks whether per-stratum and
    pooled associations DISAGREE; CMH asks whether a common
    association SURVIVES stratification (Mantel & Haenszel '59;
    public literature). Strata are customer market segments
    (events.user_id → c_custkey), exposure is the md5 A/B route,
    outcome is a purchase event. Per stratum the 2×2 table yields
    the hypergeometric O−E and variance (the q300 machinery over
    strata instead of event times) and the odds-ratio terms
    a·d/n and b·c/n; all micro-quantized integer cross-multiplies,
    summed exactly, closed by DECIMAL/HUGEINT-widened DIVs.
    Columns: n_strata, a_sum, oe_sum_micro, var_sum_micro,
    cmh_chi2_micro, or_num_micro, or_den_micro, or_mh_milli.

    Determinism: md5 routing, pure counts, integer cross-multiply
    DIVs on non-negative operands; the signed O−E sum is squared
    before its DIV.

    Scale: customer broadcasts onto the event fact; one exchange to
    the |strata| frame; the test closes in a 1-row aggregate. The
    same plan shape audits any (exposure, outcome, stratum) triple
    at 100 TB for one broadcast + one tiny aggregate.
    """
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                <= "7",
                1,
            )
            .otherwise(0)
            .alias("x"),
            (F.col("event_type") == "purchase").cast("int").alias("y"),
        )
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("stratum")
    )
    k = (
        e.join(c, e["user_id"] == c["c_custkey"])
        .groupBy("stratum")
        .agg(
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("a"),
            F.sum(F.col("x") * (1 - F.col("y"))).cast("bigint").alias("b"),
            F.sum((1 - F.col("x")) * F.col("y")).cast("bigint").alias("cc"),
            F.sum((1 - F.col("x")) * (1 - F.col("y")))
            .cast("bigint")
            .alias("d"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    terms = k.filter(F.col("n") > 1).select(
        "a",
        F.expr(
            "a * 1000000 - CAST(CAST(a + b AS DECIMAL(38,0))"
            " * (a + cc) * 1000000 DIV n AS BIGINT)"
        ).alias("oe_micro"),
        F.expr(
            "CAST(CAST(a + b AS DECIMAL(38,0)) * (cc + d) * (a + cc)"
            " * (b + d) * 1000000"
            " DIV (CAST(n AS DECIMAL(38,0)) * n * (n - 1)) AS BIGINT)"
        ).alias("v_micro"),
        F.expr(
            "CAST(CAST(a AS DECIMAL(38,0)) * d * 1000000 DIV n"
            " AS BIGINT)"
        ).alias("orn_micro"),
        F.expr(
            "CAST(CAST(b AS DECIMAL(38,0)) * cc * 1000000 DIV n"
            " AS BIGINT)"
        ).alias("ord_micro"),
    )
    return terms.agg(
        F.count("*").cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("a_sum"),
        F.sum("oe_micro").cast("bigint").alias("oe_sum_micro"),
        F.sum("v_micro").cast("bigint").alias("var_sum_micro"),
        F.expr(
            "CAST(CAST(SUM(oe_micro) AS DECIMAL(38,0)) * SUM(oe_micro)"
            " DIV SUM(v_micro) AS BIGINT)"
        ).alias("cmh_chi2_micro"),
        F.sum("orn_micro").cast("bigint").alias("or_num_micro"),
        F.sum("ord_micro").cast("bigint").alias("or_den_micro"),
        F.expr(
            "CAST(CAST(SUM(orn_micro) AS DECIMAL(38,0)) * 1000"
            " DIV SUM(ord_micro) AS BIGINT)"
        ).alias("or_mh_milli"),
    )


@query(
    "q304_rater_agreement",
    oracle="""
WITH paired AS (
  SELECT CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS r1,
    CASE WHEN event_type IN ('purchase', 'click') THEN 1 ELSE 0 END
      AS r2
  FROM events WHERE value IS NOT NULL
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(r1 * r2) AS BIGINT) AS n11,
    CAST(SUM(r1 * (1 - r2)) AS BIGINT) AS n10,
    CAST(SUM((1 - r1) * r2) AS BIGINT) AS n01,
    CAST(SUM((1 - r1) * (1 - r2)) AS BIGINT) AS n00
  FROM paired
), k AS (
  SELECT n, n11, n10, n01, n00,
    CAST(n AS HUGEINT) * (n11 + n00)
      - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
         + CAST(n01 + n00 AS HUGEINT) * (n10 + n00)) AS knum,
    CAST(n AS HUGEINT) * n
      - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
         + CAST(n01 + n00 AS HUGEINT) * (n10 + n00)) AS kden
  FROM t
)
SELECT n, n11, n10, n01, n00,
  CAST(knum AS BIGINT) AS kappa_num,
  CAST(kden AS BIGINT) AS kappa_den,
  CAST(CASE WHEN knum >= 0 THEN knum * 1000000 // kden
       ELSE -(((-knum) * 1000000 + kden - 1) // kden)
       END AS BIGINT) AS kappa_ppm,
  CAST((n10 - n01) * (n10 - n01) * 1000 // (n10 + n01) AS BIGINT)
    AS mcnemar_chi2_milli
FROM k
""",
)
def q304_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired-rater agreement suite — Cohen's kappa plus McNemar's
    test over the same 2×2 paired-label table (Cohen '60,
    McNemar '47; public literature), the two statistics every
    labeling / LLM-judge pipeline runs before trusting a cheap
    auto-labeler against a reference rule. Rater 1 is the value ≥ 50
    threshold (q299's classifier); rater 2 is the engagement
    heuristic (purchase-or-click). Kappa is chance-corrected
    agreement (n·Σdiag − Σ row·col margins) / (n² − Σ row·col
    margins) — BOTH sides exact integers, reported as num/den plus a
    sign-portable floored ppm (Spark DIV truncates, DuckDB // floors
    on negatives, so the negative branch is spelled as
    −ceil(|num|·10⁶/den) IDENTICALLY in both dialects). McNemar's
    χ² = (n10−n01)²/(n10+n01) closes on the discordant cells.
    Columns: n, n11, n10, n01, n00, kappa_num, kappa_den,
    kappa_ppm, mcnemar_chi2_milli.

    Determinism: pure counts; the only signed DIV goes through the
    portable floor construction; the McNemar numerator is squared
    (non-negative) before its DIV.

    Scale: a single map-side aggregate over the fact — no join, no
    window; agreement auditing is free at any scale.
    """
    t = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            (F.col("value") >= 50.0).cast("int").alias("r1"),
            F.col("event_type").isin("purchase", "click")
            .cast("int")
            .alias("r2"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("r1") * F.col("r2")).cast("bigint").alias("n11"),
            F.sum(F.col("r1") * (1 - F.col("r2")))
            .cast("bigint")
            .alias("n10"),
            F.sum((1 - F.col("r1")) * F.col("r2"))
            .cast("bigint")
            .alias("n01"),
            F.sum((1 - F.col("r1")) * (1 - F.col("r2")))
            .cast("bigint")
            .alias("n00"),
        )
    )
    k = t.select(
        "*",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * (n11 + n00)"
            " - (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)"
            " + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00))"
        ).alias("knum"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * n"
            " - (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)"
            " + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00))"
        ).alias("kden"),
    )
    return k.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.col("knum").cast("bigint").alias("kappa_num"),
        F.col("kden").cast("bigint").alias("kappa_den"),
        F.expr(
            "CAST(CASE WHEN knum >= 0 THEN knum * 1000000 DIV kden"
            " ELSE -(((-knum) * 1000000 + kden - 1) DIV kden)"
            " END AS BIGINT)"
        ).alias("kappa_ppm"),
        F.expr(
            "CAST((n10 - n01) * (n10 - n01) * 1000 DIV (n10 + n01)"
            " AS BIGINT)"
        ).alias("mcnemar_chi2_milli"),
    )


@query(
    "q305_sprt_monitor",
    oracle="""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day_id,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      AS BIGINT) AS x,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
), walk AS (
  SELECT day_id,
    CAST(ROW_NUMBER() OVER (ORDER BY day_id) AS BIGINT) AS rn,
    CAST(SUM(x * 200670 + (n - x) * (-50011)) OVER (ORDER BY day_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS llr_micro,
    CAST(COUNT(*) OVER () AS BIGINT) AS n_days
  FROM daily
), crossing AS (
  SELECT day_id, rn, n_days, llr_micro,
    CASE WHEN llr_micro >= 2944438 THEN 1 ELSE -1 END AS verdict,
    ROW_NUMBER() OVER (ORDER BY rn) AS k
  FROM walk
  WHERE llr_micro >= 2944438 OR llr_micro <= -2944438
), final AS (
  SELECT n_days, llr_micro AS final_llr_micro,
    ROW_NUMBER() OVER (ORDER BY rn DESC) AS k
  FROM walk
)
SELECT f.n_days, f.final_llr_micro,
  COALESCE(c.verdict, 0) AS decision,
  COALESCE(c.day_id, -1) AS decision_day_id,
  COALESCE(c.rn, -1) AS decision_rn,
  COALESCE(c.llr_micro, 0) AS decision_llr_micro
FROM final f LEFT JOIN crossing c ON c.k = 1
WHERE f.k = 1
""",
)
def q305_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test over the daily conversion
    stream — Wald's always-valid early-stopping rule (Wald '45;
    public literature), the sequential complement to the fixed-n
    z-test (q202) and the distribution monitors (q286 CUSUM / q301
    Page-Hinkley, which watch a mean; SPRT decides BETWEEN two
    hypotheses). H0: p = 0.18 vs H1: p = 0.22 purchase share;
    per day the log-likelihood increment is x·ln(p1/p0) +
    (n−x)·ln((1−p1)/(1−p0)), with the two weights FROZEN as integer
    micro literals (200670, −50011) so the walk is pure integer
    arithmetic — no runtime transcendentals anywhere. The walk is
    one prefix-sum window; the decision is the first crossing of
    the Wald bounds ±ln(19) (α = β = 0.05, literal ±2944438 micro):
    +1 accepts H1, −1 accepts H0, 0 keeps sampling. Columns:
    n_days, final_llr_micro, decision, decision_day_id,
    decision_rn, decision_llr_micro.

    Determinism: integer epoch-day DIV; exact counts; literal
    weights; prefix sums; first-crossing via unique rn.

    Scale: one exchange collapses the fact to the |days| frame;
    the walk and the crossing scan are windows over the time
    dimension. An always-valid experiment monitor at 100 TB reads
    each day's partial counts, never the event grain.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    daily = (
        events_with_us(spark, sf_dir)
        .select(
            F.expr("ts_us DIV 86400000000").alias("day_id"),
            (F.col("event_type") == "purchase").cast("int").alias("p"),
        )
        .groupBy("day_id")
        .agg(
            F.sum("p").cast("bigint").alias("x"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    w = Window.orderBy("day_id")
    wall = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    walk = daily.select(
        "day_id",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.sum(
            F.col("x") * 200670 + (F.col("n") - F.col("x")) * (-50011)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("llr_micro"),
        F.count("*").over(wall).cast("bigint").alias("n_days"),
    ).transform(checkpoint)
    crossing = (
        walk.filter(
            (F.col("llr_micro") >= 2944438)
            | (F.col("llr_micro") <= -2944438)
        )
        .select(
            "day_id",
            "rn",
            "llr_micro",
            F.when(F.col("llr_micro") >= 2944438, 1)
            .otherwise(-1)
            .alias("verdict"),
            F.row_number().over(Window.orderBy("rn")).alias("k"),
        )
        .filter(F.col("k") == 1)
    )
    final = (
        walk.select(
            "n_days",
            F.col("llr_micro").alias("final_llr_micro"),
            F.row_number().over(Window.orderBy(F.col("rn").desc())).alias(
                "k"
            ),
        )
        .filter(F.col("k") == 1)
        .drop("k")
    )
    return (
        final.withColumn("j", F.lit(1))
        .join(
            F.broadcast(
                crossing.select(
                    F.lit(1).alias("j"),
                    "verdict",
                    F.col("day_id").alias("c_day"),
                    F.col("rn").alias("c_rn"),
                    F.col("llr_micro").alias("c_llr"),
                )
            ),
            "j",
            "left",
        )
        .select(
            "n_days",
            "final_llr_micro",
            F.coalesce(F.col("verdict"), F.lit(0))
            .cast("int")
            .alias("decision"),
            F.coalesce(F.col("c_day"), F.lit(-1))
            .cast("bigint")
            .alias("decision_day_id"),
            F.coalesce(F.col("c_rn"), F.lit(-1))
            .cast("bigint")
            .alias("decision_rn"),
            F.coalesce(F.col("c_llr"), F.lit(0))
            .cast("bigint")
            .alias("decision_llr_micro"),
        )
    )


@query(
    "q306_cuped_adjustment",
    oracle="""
WITH lim AS (
  SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
  FROM events WHERE user_id IS NOT NULL
), per_user AS (
  SELECT user_id,
    CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) < lim.mid
      THEN CAST(ROUND(value * 1000) AS BIGINT) END), 0) AS BIGINT)
      AS x,
    CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) >= lim.mid
      THEN CAST(ROUND(value * 1000) AS BIGINT) END), 0) AS BIGINT)
      AS y
  FROM events, lim
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
), m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
    CAST(SUM(x) AS HUGEINT) AS sx,
    CAST(SUM(y) AS HUGEINT) AS sy,
    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM per_user
)
SELECT CAST(n AS BIGINT) AS n_users,
  CAST(sx AS BIGINT) AS sx_milli,
  CAST(sy AS BIGINT) AS sy_milli,
  CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
    / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) AS BIGINT)
    AS theta_micro,
  CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
    * CAST(n * sxy - sx * sy AS DOUBLE)
    / (CAST(n * sxx - sx * sx AS DOUBLE)
       * CAST(n * syy - sy * sy AS DOUBLE)) * 1000000) AS BIGINT)
    AS rho2_ppm
FROM m
""",
)
def q306_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction — the pre-period covariate
    adjustment every experimentation platform applies before the
    q202 z-test (Deng et al. '13, "Improving the Sensitivity of
    Online Controlled Experiments"; public literature): with X a
    user's pre-period metric and Y the in-period metric, the
    adjusted metric Y − θ(X − X̄) with θ = Cov(X,Y)/Var(X) cuts
    metric variance by exactly ρ²(X,Y). The pre/post split is the
    integer midpoint of the observed ts range (one 1-row
    broadcast); per-user milli sums are exact; the centered moments
    n·Σxy − ΣxΣy ride DECIMAL/HUGEINT; the two closing ratios are
    FLOOR over a fixed IEEE tree on identically-rounded decimal→
    double casts (their magnitude exceeds int64 at 10×, the q292
    class — so the EXACT sums stay integer and only the final
    ratios go through double). Columns: n_users, sx_milli,
    sy_milli, theta_micro, rho2_ppm.

    Determinism: integer epoch-µs midpoint DIV; exact milli sums;
    decimal→double rounding is round-to-nearest in both engines;
    one FLOOR per reported ratio.

    Scale: one pass computes the ts range, a second collapses the
    fact to per-user (x, y) pairs — the same exchange the
    experiment readout already pays — and the moments are a 1-row
    aggregate. CUPED at 100 TB costs zero extra fact passes beyond
    the per-user rollup.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    ev = (
        events_with_us(spark, sf_dir)
        .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            "ts_us",
            F.round(F.col("value") * 1000).cast("bigint").alias("v"),
        )
        .transform(checkpoint)
    )
    lim = ev.agg(
        F.expr("(MIN(ts_us) + MAX(ts_us)) DIV 2").alias("mid")
    )
    per_user = (
        ev.crossJoin(F.broadcast(lim))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("ts_us") < F.col("mid"), F.col("v"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("ts_us") >= F.col("mid"), F.col("v"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    m = per_user.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("sx").cast("bigint").alias("sx_milli"),
        F.col("sy").cast("bigint").alias("sy_milli"),
        F.expr(
            "CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000)"
            " AS BIGINT)"
        ).alias("theta_micro"),
        F.expr(
            "CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)"
            " * CAST(n * sxy - sx * sy AS DOUBLE)"
            " / (CAST(n * sxx - sx * sx AS DOUBLE)"
            " * CAST(n * syy - sy * sy AS DOUBLE)) * 1000000)"
            " AS BIGINT)"
        ).alias("rho2_ppm"),
    )


@query(
    "q307_expected_calibration_error",
    oracle="""
WITH scored AS (
  SELECT CAST(ROUND(value * 1000) AS BIGINT) AS v,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), lim AS (
  SELECT MIN(v) AS lo, MAX(v) AS hi FROM scored
), binned AS (
  SELECT LEAST((v - lo) * 1000 // (hi - lo) // 100, 9) AS bin,
    (v - lo) * 1000 // (hi - lo) AS s, y
  FROM scored, lim WHERE hi > lo
), b AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_b,
    CAST(SUM(y) AS BIGINT) AS pos_b,
    CAST(SUM(s) AS BIGINT) AS sum_s_b
  FROM binned GROUP BY bin
)
SELECT CAST(SUM(n_b) AS BIGINT) AS n,
  CAST(COUNT(*) AS BIGINT) AS n_bins_used,
  CAST(SUM(ABS(pos_b * 1000 - sum_s_b)) AS BIGINT) AS dev_sum_milli,
  CAST(SUM(ABS(pos_b * 1000 - sum_s_b)) * 1000 // SUM(n_b)
    AS BIGINT) AS ece_micro,
  CAST(MAX(ABS(pos_b * 1000 - sum_s_b) * 1000 // n_b) AS BIGINT)
    AS mce_micro
FROM b
""",
)
def q307_expected_calibration_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Expected / maximum calibration error — the two scalars that
    summarize q234's reliability table (Naeini et al. '15; public
    literature): over 10 equal-width score bins, ECE is the
    count-weighted mean |accuracy − confidence| and MCE the worst
    bin. The min-max score normalization, the binning, every
    per-bin deviation |pos_b·1000 − Σs_b| and both closing ratios
    are EXACT integer arithmetic end to end — there is no float
    anywhere in this query. Columns: n, n_bins_used, dev_sum_milli,
    ece_micro, mce_micro.

    Determinism: integer min-max normalization (the bin edges are
    data-derived integers, not float quantiles); pure counts;
    ABS before the non-negative DIVs.

    Scale: one pass for the score range (1-row broadcast), one
    exchange to the 10-bin grid. Calibration monitoring at 100 TB
    is a map-side histogram.
    """
    scored = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.round(F.col("value") * 1000).cast("bigint").alias("v"),
            (F.col("event_type") == "purchase").cast("int").alias("y"),
        )
        .transform(checkpoint)
    )
    lim = scored.agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    binned = (
        scored.crossJoin(F.broadcast(lim))
        .filter(F.col("hi") > F.col("lo"))
        .select(
            F.expr(
                "LEAST((v - lo) * 1000 DIV (hi - lo) DIV 100, 9)"
            ).alias("bin"),
            F.expr("(v - lo) * 1000 DIV (hi - lo)").alias("s"),
            "y",
        )
    )
    b = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_b"),
        F.sum("y").cast("bigint").alias("pos_b"),
        F.sum("s").cast("bigint").alias("sum_s_b"),
    )
    return b.agg(
        F.sum("n_b").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_bins_used"),
        F.sum(F.abs(F.col("pos_b") * 1000 - F.col("sum_s_b")))
        .cast("bigint")
        .alias("dev_sum_milli"),
        F.expr(
            "CAST(SUM(ABS(pos_b * 1000 - sum_s_b)) * 1000"
            " DIV SUM(n_b) AS BIGINT)"
        ).alias("ece_micro"),
        F.expr(
            "CAST(MAX(ABS(pos_b * 1000 - sum_s_b) * 1000 DIV n_b)"
            " AS BIGINT)"
        ).alias("mce_micro"),
    )


@query(
    "q308_cramer_von_mises",
    oracle="""
WITH v AS (
  SELECT CAST(ROUND(value * 1000) AS BIGINT) AS x,
    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
      THEN 1 ELSE 0 END AS g1
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
), h AS (
  SELECT x, CAST(SUM(g1) AS BIGINT) AS ca,
    CAST(SUM(1 - g1) AS BIGINT) AS cb
  FROM v GROUP BY x
), cum AS (
  SELECT x, ca + cb AS cnt,
    CAST(SUM(ca) OVER w AS BIGINT) AS cuma,
    CAST(SUM(cb) OVER w AS BIGINT) AS cumb,
    CAST(SUM(ca) OVER () AS BIGINT) AS n,
    CAST(SUM(cb) OVER () AS BIGINT) AS m
  FROM h WINDOW w AS (ORDER BY x
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), terms AS (
  SELECT n, m,
    CAST(cnt AS HUGEINT)
      * (cuma * m - cumb * n) * (cuma * m - cumb * n) AS term
  FROM cum
)
SELECT MAX(n) AS n_a, MAX(m) AS n_b,
  CAST(SUM(term) * 1000000
    // (CAST(MAX(n) AS HUGEINT) * MAX(m)
        * (MAX(n) + MAX(m)) * (MAX(n) + MAX(m))) AS BIGINT)
    AS cvm_t_micro
FROM terms
""",
)
def q308_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises test on the md5-routed A/B event
    values — the whole-curve complement to Kolmogorov-Smirnov
    (q219): KS reports the single worst CDF gap, CvM integrates the
    SQUARED gap over every observation (Anderson '62; public
    literature), so it catches distributed small shifts KS dilutes.
    T = nm/(n+m)² · Σ_obs (F_A − F_B)²; multiplying through by
    (nm)² makes each term the exact integer
    cnt·(cumA·m − cumB·n)², summed in HUGEINT/DECIMAL and closed by
    one widened DIV. Columns: n_a, n_b, cvm_t_micro.

    Determinism: md5 routing; the histogram substrate (value-domain
    rows, q219's machinery); exact integer cross-multiplies; DIV on
    non-negative operands.

    Scale: one exchange to the |distinct values| histogram, prefix
    sums over the value dimension, a 1-row close. Identical cost
    profile to KS — the whole two-sample testing family rides one
    substrate.
    """
    v = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.round(F.col("value") * 1000).cast("bigint").alias("x"),
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                <= "7",
                1,
            )
            .otherwise(0)
            .alias("g1"),
        )
    )
    h = v.groupBy("x").agg(
        F.sum("g1").cast("bigint").alias("ca"),
        F.sum(1 - F.col("g1")).cast("bigint").alias("cb"),
    )
    wc = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = h.select(
        (F.col("ca") + F.col("cb")).alias("cnt"),
        F.sum("ca").over(wc).cast("bigint").alias("cuma"),
        F.sum("cb").over(wc).cast("bigint").alias("cumb"),
        F.sum("ca").over(wall).cast("bigint").alias("n"),
        F.sum("cb").over(wall).cast("bigint").alias("m"),
    )
    terms = cum.select(
        "n",
        "m",
        F.expr(
            "CAST(cnt AS DECIMAL(38,0))"
            " * (cuma * m - cumb * n) * (cuma * m - cumb * n)"
        ).alias("term"),
    )
    return terms.agg(
        F.max("n").alias("n_a"),
        F.max("m").alias("n_b"),
        F.expr(
            "CAST(SUM(term) * 1000000"
            " DIV (CAST(MAX(n) AS DECIMAL(38,0)) * MAX(m)"
            " * (MAX(n) + MAX(m)) * (MAX(n) + MAX(m))) AS BIGINT)"
        ).alias("cvm_t_micro"),
    )


@query(
    "q309_mase_backtest",
    oracle="""
WITH mo AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
      AS month_id,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS v
  FROM orders GROUP BY 1
), lagged AS (
  SELECT month_id, v,
    CAST(ROW_NUMBER() OVER (ORDER BY month_id) AS BIGINT) AS rn,
    LAG(v, 1) OVER (ORDER BY month_id) AS v1,
    LAG(v, 12) OVER (ORDER BY month_id) AS v12,
    CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM mo
)
SELECT MAX(n) AS n_months,
  CAST(SUM(CASE WHEN v12 IS NOT NULL
    THEN ABS(v - v12) END) AS BIGINT) AS err_seasonal_cents,
  CAST(SUM(CASE WHEN v1 IS NOT NULL
    THEN ABS(v - v1) END) AS BIGINT) AS err_naive_cents,
  CAST(SUM(CASE WHEN v12 IS NOT NULL THEN ABS(v - v12) END)
    * (MAX(n) - 1) * 1000
    // (SUM(CASE WHEN v1 IS NOT NULL THEN ABS(v - v1) END)
        * (MAX(n) - 12)) AS BIGINT) AS mase_milli
FROM lagged
""",
)
def q309_mase_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest scored by MASE — the
    scale-free forecast-accuracy metric (Hyndman & Koehler '06;
    public literature) that closes the forecasting family: q278
    fits Holt, q285 bands it, q289 decomposes, and MASE says
    whether ANY of it beats the naive baselines. The in-sample
    scale is the lag-1 naive MAE; the candidate is the lag-12
    seasonal naive; MASE = (Σ|e_seasonal|/(n−12)) /
    (Σ|e_naive|/(n−1)) as one integer cross-multiply DIV over
    exact cent sums. MASE < 1000 milli means the seasonal naive
    beats the random walk — the bar every fitted model must clear.
    Columns: n_months, err_seasonal_cents, err_naive_cents,
    mase_milli.

    Determinism: exact cent sums; LAG over the unique month
    ordering; ABS before the sums; the closing DIV has non-negative
    operands.

    Scale: one exchange to the |months| frame; two LAG windows.
    Backtesting at 100 TB is free once the series rollup exists.
    """
    mo = (
        table(spark, sf_dir, "orders")
        .select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("month_id"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("month_id")
        .agg(F.sum("vc").cast("bigint").alias("v"))
    )
    w = Window.orderBy("month_id")
    wall = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    lagged = mo.select(
        "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 12).over(w).alias("v12"),
        F.count("*").over(wall).cast("bigint").alias("n"),
    )
    return lagged.agg(
        F.max("n").alias("n_months"),
        F.sum(
            F.when(
                F.col("v12").isNotNull(), F.abs(F.col("v") - F.col("v12"))
            )
        )
        .cast("bigint")
        .alias("err_seasonal_cents"),
        F.sum(
            F.when(
                F.col("v1").isNotNull(), F.abs(F.col("v") - F.col("v1"))
            )
        )
        .cast("bigint")
        .alias("err_naive_cents"),
        F.expr(
            "CAST(SUM(CASE WHEN v12 IS NOT NULL THEN ABS(v - v12) END)"
            " * (MAX(n) - 1) * 1000"
            " DIV (SUM(CASE WHEN v1 IS NOT NULL THEN ABS(v - v1) END)"
            " * (MAX(n) - 12)) AS BIGINT)"
        ).alias("mase_milli"),
    )


@query(
    "q310_anova_oneway",
    oracle="""
WITH x AS (
  SELECT c.c_mktsegment AS g,
    CAST(ROUND(e.value * 1000) AS BIGINT) AS v
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
  WHERE e.value IS NOT NULL
), per_g AS (
  SELECT g, CAST(COUNT(*) AS HUGEINT) AS ng,
    CAST(SUM(v) AS HUGEINT) AS sg,
    CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS sqg
  FROM x GROUP BY g
), parts AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS k,
    CAST(SUM(ng) AS HUGEINT) AS n,
    CAST(SUM(sg) AS HUGEINT) AS s,
    CAST(SUM(sqg) AS HUGEINT) AS sq,
    CAST(SUM(sg * sg // ng) AS HUGEINT) AS ssb_raw
  FROM per_g
)
SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n,
  CAST(ssb_raw - s * s // n AS BIGINT) AS ssb_m2,
  CAST(sq - ssb_raw AS BIGINT) AS ssw_m2,
  CAST((ssb_raw - s * s // n) * (n - k) * 1000
    // ((sq - ssb_raw) * (k - 1)) AS BIGINT) AS f_milli
FROM parts
""",
)
def q310_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across customer market segments —
    the k-group mean test the pairwise family (q202 z, q218
    Mann-Whitney, q311 Welch) can't give without multiplicity
    (Fisher '25; public literature). The sum-of-squares identities
    make it exact: SSB = Σ S_g²/n_g − S²/n and SSW = Σv² − Σ S_g²/n_g
    with every division FLOOR-quantized BEFORE the sums
    (quantize-then-sum, the house rule) at unit scale — the values
    are milli², already ~1e13 at sf0.01, so a micro quantizer would
    blow past int64 in the REPORTED columns (caught live: 1.8e19) —
    and F closes as one integer cross-multiply DIV. Columns:
    k_groups, n, ssb_m2, ssw_m2, f_milli.

    Determinism: exact milli values; all DIVs on non-negative
    operands; HUGEINT/DECIMAL widening throughout (Σv² at milli
    scale exceeds int64 from sf0.1 up).

    Scale: customer broadcasts onto the fact; one exchange to the
    |segments| frame; the test closes in a 1-row aggregate.
    """
    x = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 1000).cast("bigint").alias("v"),
        )
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("g")
    )
    per_g = (
        x.join(c, x["user_id"] == c["c_custkey"])
        .groupBy("g")
        .agg(
            F.count("*").cast("decimal(38,0)").alias("ng"),
            F.sum("v").cast("decimal(38,0)").alias("sg"),
            F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * v"))
            .cast("decimal(38,0)")
            .alias("sqg"),
        )
    )
    parts = per_g.agg(
        F.count("*").cast("decimal(38,0)").alias("k"),
        F.sum("ng").cast("decimal(38,0)").alias("n"),
        F.sum("sg").cast("decimal(38,0)").alias("s"),
        F.sum("sqg").cast("decimal(38,0)").alias("sq"),
        # DIV yields BIGINT; the per-group terms are ~1e13 at
        # sf0.01 and grow linearly, so the summand re-widens
        # BEFORE the sum
        F.sum(F.expr("CAST(sg * sg DIV ng AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("ssb_raw"),
    )
    return parts.select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("n").cast("bigint").alias("n"),
        F.expr("CAST(ssb_raw - s * s DIV n AS BIGINT)").alias("ssb_m2"),
        F.expr("CAST(sq - ssb_raw AS BIGINT)").alias("ssw_m2"),
        F.expr(
            "CAST((ssb_raw - s * s DIV n) * (n - k) * 1000"
            " DIV ((sq - ssb_raw) * (k - 1)) AS BIGINT)"
        ).alias("f_milli"),
    )


@query(
    "q311_welch_ttest",
    oracle="""
WITH v AS (
  SELECT CAST(ROUND(value * 1000) AS BIGINT) AS x,
    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
      THEN 1 ELSE 0 END AS g1
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
), m AS (
  SELECT g1, CAST(COUNT(*) AS HUGEINT) AS n,
    CAST(SUM(x) AS HUGEINT) AS s,
    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sq
  FROM v GROUP BY g1
), w AS (
  SELECT
    MAX(CASE WHEN g1 = 1 THEN n END) AS na,
    MAX(CASE WHEN g1 = 1 THEN s END) AS sa,
    MAX(CASE WHEN g1 = 1 THEN sq END) AS sqa,
    MAX(CASE WHEN g1 = 0 THEN n END) AS nb,
    MAX(CASE WHEN g1 = 0 THEN s END) AS sb,
    MAX(CASE WHEN g1 = 0 THEN sq END) AS sqb
  FROM m
), d AS (
  SELECT na, nb, sa, sb,
    CAST(na * sqa - sa * sa AS DOUBLE)
      / CAST(na AS DOUBLE) / CAST(na AS DOUBLE)
      / CAST(na - 1 AS DOUBLE) AS va,
    CAST(nb * sqb - sb * sb AS DOUBLE)
      / CAST(nb AS DOUBLE) / CAST(nb AS DOUBLE)
      / CAST(nb - 1 AS DOUBLE) AS vb
  FROM w
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  CAST(FLOOR((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
    - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
    / sqrt(va + vb) * 1000000) AS BIGINT) AS t_micro,
  CAST(FLOOR((va + vb) * (va + vb)
    / (va * va / CAST(na - 1 AS DOUBLE)
       + vb * vb / CAST(nb - 1 AS DOUBLE)) * 1000) AS BIGINT)
    AS df_milli
FROM d
""",
)
def q311_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on the md5-routed A/B event
    values — the k=2 mean test the readout pack was missing: q202
    tests proportions, q218 tests ranks, q310 assumes equal
    variances; Welch ('47; public literature) is the default
    recommendation for raw-metric means. The sample moments are
    exact HUGEINT/DECIMAL integers; t and the Welch-Satterthwaite
    degrees of freedom are each ONE fixed IEEE tree over
    identically-rounded integer→double casts, FLOOR-quantized at
    the end (the q306 closing pattern — the standard-error sqrt
    rules out pure integer arithmetic). Columns: n_a, n_b, t_micro,
    df_milli.

    Determinism: md5 routing; exact integer moments; both reported
    values are single FLOORs over fixed double expressions whose
    inputs round identically in both engines.

    Scale: one map-side aggregate to two rows. A/B mean testing at
    100 TB is scan-bound.
    """
    v = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.round(F.col("value") * 1000).cast("bigint").alias("x"),
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                <= "7",
                1,
            )
            .otherwise(0)
            .alias("g1"),
        )
    )
    m = v.groupBy("g1").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x"))
        .cast("decimal(38,0)")
        .alias("sq"),
    )
    w = m.agg(
        F.max(F.when(F.col("g1") == 1, F.col("n"))).alias("na"),
        F.max(F.when(F.col("g1") == 1, F.col("s"))).alias("sa"),
        F.max(F.when(F.col("g1") == 1, F.col("sq"))).alias("sqa"),
        F.max(F.when(F.col("g1") == 0, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("g1") == 0, F.col("s"))).alias("sb"),
        F.max(F.when(F.col("g1") == 0, F.col("sq"))).alias("sqb"),
    )
    d = w.select(
        "na",
        "nb",
        "sa",
        "sb",
        F.expr(
            "CAST(na * sqa - sa * sa AS DOUBLE)"
            " / CAST(na AS DOUBLE) / CAST(na AS DOUBLE)"
            " / CAST(na - 1 AS DOUBLE)"
        ).alias("va"),
        F.expr(
            "CAST(nb * sqb - sb * sb AS DOUBLE)"
            " / CAST(nb AS DOUBLE) / CAST(nb AS DOUBLE)"
            " / CAST(nb - 1 AS DOUBLE)"
        ).alias("vb"),
    )
    return d.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.expr(
            "CAST(FLOOR((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
            " - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))"
            " / sqrt(va + vb) * 1000000) AS BIGINT)"
        ).alias("t_micro"),
        F.expr(
            "CAST(FLOOR((va + vb) * (va + vb)"
            " / (va * va / CAST(na - 1 AS DOUBLE)"
            " + vb * vb / CAST(nb - 1 AS DOUBLE)) * 1000) AS BIGINT)"
        ).alias("df_milli"),
    )


@query(
    "q312_partial_correlation",
    oracle="""
WITH per_user AS (
  SELECT user_id,
    CAST(COUNT(*) AS BIGINT) AS x,
    CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS y,
    CAST((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 86400000000
      AS BIGINT) AS z
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
), mm AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
    CAST(SUM(z) AS HUGEINT) AS sz,
    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
    CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
    CAST(SUM(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
    CAST(SUM(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
  FROM per_user
), r AS (
  SELECT n,
    CAST(n * sxy - sx * sy AS DOUBLE)
      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      / sqrt(CAST(n * syy - sy * sy AS DOUBLE)) AS rxy,
    CAST(n * sxz - sx * sz AS DOUBLE)
      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      / sqrt(CAST(n * szz - sz * sz AS DOUBLE)) AS rxz,
    CAST(n * syz - sy * sz AS DOUBLE)
      / sqrt(CAST(n * syy - sy * sy AS DOUBLE))
      / sqrt(CAST(n * szz - sz * sz AS DOUBLE)) AS ryz
  FROM mm
)
SELECT CAST(n AS BIGINT) AS n_users,
  CAST(FLOOR(rxy * 1000000) AS BIGINT) AS rxy_ppm,
  CAST(FLOOR(rxz * 1000000) AS BIGINT) AS rxz_ppm,
  CAST(FLOOR(ryz * 1000000) AS BIGINT) AS ryz_ppm,
  CAST(FLOOR((rxy - rxz * ryz)
    / sqrt(1.0 - rxz * rxz) / sqrt(1.0 - ryz * ryz)
    * 1000000) AS BIGINT) AS rxy_given_z_ppm
FROM r
""",
)
def q312_partial_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partial correlation r(X,Y·Z) — does a user's event VOLUME
    (X = count) still correlate with SPEND (Y = Σ value) once the
    obvious confounder, time on platform (Z = active-day span), is
    controlled for? The recipe r_xy·z = (r_xy − r_xz·r_yz) /
    √(1−r_xz²)√(1−r_yz²) (Yule 1907; public literature) is the
    single-confounder version of what q303 does for stratified 2×2
    tables. All nine moments are exact HUGEINT/DECIMAL integers off
    ONE per-user collapse; the three Pearson r's and the closing
    partial are fixed IEEE trees FLOOR-quantized per reported
    column. Columns: n_users, rxy_ppm, rxz_ppm, ryz_ppm,
    rxy_given_z_ppm.

    Determinism: exact integer moments; identically-rounded
    decimal→double casts; one FLOOR per output (no float ever
    crosses a partition boundary).

    Scale: one exchange to per-user triples, a 1-row moment
    aggregate. Confounder screening at 100 TB costs the per-user
    rollup the pipeline already pays.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    per_user = (
        events_with_us(spark, sf_dir)
        .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("x"),
            F.sum(F.round(F.col("value") * 1000).cast("bigint"))
            .cast("bigint")
            .alias("y"),
            F.expr(
                "CAST((MAX(ts_us) - MIN(ts_us)) DIV 86400000000"
                " AS BIGINT)"
            ).alias("z"),
        )
    )
    mm = per_user.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum("z").cast("decimal(38,0)").alias("sz"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(F.expr("CAST(z AS DECIMAL(38,0)) * z"))
        .cast("decimal(38,0)")
        .alias("szz"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * z"))
        .cast("decimal(38,0)")
        .alias("sxz"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * z"))
        .cast("decimal(38,0)")
        .alias("syz"),
    )
    r = mm.select(
        "n",
        F.expr(
            "CAST(n * sxy - sx * sy AS DOUBLE)"
            " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
            " / sqrt(CAST(n * syy - sy * sy AS DOUBLE))"
        ).alias("rxy"),
        F.expr(
            "CAST(n * sxz - sx * sz AS DOUBLE)"
            " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
            " / sqrt(CAST(n * szz - sz * sz AS DOUBLE))"
        ).alias("rxz"),
        F.expr(
            "CAST(n * syz - sy * sz AS DOUBLE)"
            " / sqrt(CAST(n * syy - sy * sy AS DOUBLE))"
            " / sqrt(CAST(n * szz - sz * sz AS DOUBLE))"
        ).alias("ryz"),
    )
    return r.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.expr("CAST(FLOOR(rxy * 1000000) AS BIGINT)").alias("rxy_ppm"),
        F.expr("CAST(FLOOR(rxz * 1000000) AS BIGINT)").alias("rxz_ppm"),
        F.expr("CAST(FLOOR(ryz * 1000000) AS BIGINT)").alias("ryz_ppm"),
        F.expr(
            "CAST(FLOOR((rxy - rxz * ryz)"
            " / sqrt(1.0 - rxz * rxz) / sqrt(1.0 - ryz * ryz)"
            " * 1000000) AS BIGINT)"
        ).alias("rxy_given_z_ppm"),
    )


@query(
    "q313_kruskal_wallis",
    oracle="""
WITH x AS (
  SELECT c.c_mktsegment AS g,
    CAST(ROUND(e.value * 1000) AS BIGINT) AS v
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
  WHERE e.value IS NOT NULL
), h AS (
  SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM x GROUP BY g, v
), t AS (
  SELECT v, CAST(SUM(cnt) AS BIGINT) AS tc FROM h GROUP BY v
), r AS (
  SELECT v, tc,
    COALESCE(CAST(SUM(tc) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      0) AS cum
  FROM t
), rg AS (
  SELECT h.g, CAST(SUM(h.cnt) AS BIGINT) AS ng,
    CAST(SUM(CAST(h.cnt AS HUGEINT)
      * (2 * r.cum + r.tc + 1)) AS HUGEINT) AS two_rg
  FROM h JOIN r ON r.v = h.v GROUP BY h.g
), parts AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
    CAST(SUM(ng) AS BIGINT) AS n,
    CAST(SUM(two_rg * two_rg // (4 * ng)) AS HUGEINT) AS s
  FROM rg
), ties AS (
  SELECT CAST(SUM(CAST(tc AS HUGEINT) * tc * tc - tc) AS HUGEINT)
    AS tsum
  FROM t
)
SELECT k AS k_groups, n,
  CAST(FLOOR((12.0 * CAST(s AS DOUBLE)
    / CAST(n AS DOUBLE) / CAST(n + 1 AS DOUBLE)
    - 3.0 * CAST(n + 1 AS DOUBLE)) * 1000000) AS BIGINT)
    AS h_micro,
  CAST(FLOOR((12.0 * CAST(s AS DOUBLE)
    / CAST(n AS DOUBLE) / CAST(n + 1 AS DOUBLE)
    - 3.0 * CAST(n + 1 AS DOUBLE))
    / (1.0 - CAST(tsum AS DOUBLE)
       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
          - CAST(n AS DOUBLE))) * 1000000) AS BIGINT) AS hc_micro
FROM parts, ties
""",
)
def q313_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank ANOVA across customer market segments —
    the k-group, distribution-free complement to q310's F test
    (Kruskal & Wallis '52; public literature), extending q218's
    two-sample rank machinery: ranks are never assigned per row;
    the doubled tied midrank 2·cum+tc+1 makes each group's doubled
    rank sum an exact HUGEINT off the (group, value) histogram, so
    Σ R_g²/n_g accumulates as the quantized integer
    (2R_g)² DIV 4n_g. H and its tie-corrected form close as two
    FLOORs over fixed IEEE trees. Columns: k_groups, n, h_micro,
    hc_micro.

    Determinism: histogram substrate; exact integer midranks;
    quantize-then-sum for the rank-sum squares; one FLOOR per
    reported statistic.

    Scale: customer broadcasts onto the fact; one exchange to the
    (group, value) histogram, one to the value histogram for
    midranks, a |groups| rollup. Same cost family as q218/q219 —
    the whole rank-test suite rides the histogram substrate.
    """
    x = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 1000).cast("bigint").alias("v"),
        )
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("g")
    )
    h = (
        x.join(c, x["user_id"] == c["c_custkey"])
        .groupBy("g", "v")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .transform(checkpoint)
    )
    t = h.groupBy("v").agg(F.sum("cnt").cast("bigint").alias("tc"))
    r = t.select(
        "v",
        "tc",
        F.coalesce(
            F.sum("tc")
            .over(
                Window.orderBy("v").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
            .cast("bigint"),
            F.lit(0),
        ).alias("cum"),
    )
    rg = (
        h.join(r, "v")
        .groupBy("g")
        .agg(
            F.sum("cnt").cast("bigint").alias("ng"),
            F.sum(
                F.expr(
                    "CAST(cnt AS DECIMAL(38,0)) * (2 * cum + tc + 1)"
                )
            )
            .cast("decimal(38,0)")
            .alias("two_rg"),
        )
    )
    parts = rg.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("ng").cast("bigint").alias("n"),
        F.sum(
            F.expr(
                "CAST(two_rg * two_rg DIV (4 * ng) AS DECIMAL(38,0))"
            )
        )
        .cast("decimal(38,0)")
        .alias("s"),
    )
    ties = t.agg(
        F.sum(F.expr("CAST(tc AS DECIMAL(38,0)) * tc * tc - tc"))
        .cast("decimal(38,0)")
        .alias("tsum")
    )
    return parts.crossJoin(F.broadcast(ties)).select(
        F.col("k").alias("k_groups"),
        "n",
        F.expr(
            "CAST(FLOOR((12.0 * CAST(s AS DOUBLE)"
            " / CAST(n AS DOUBLE) / CAST(n + 1 AS DOUBLE)"
            " - 3.0 * CAST(n + 1 AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("h_micro"),
        F.expr(
            "CAST(FLOOR((12.0 * CAST(s AS DOUBLE)"
            " / CAST(n AS DOUBLE) / CAST(n + 1 AS DOUBLE)"
            " - 3.0 * CAST(n + 1 AS DOUBLE))"
            " / (1.0 - CAST(tsum AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
            " * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))"
            " * 1000000) AS BIGINT)"
        ).alias("hc_micro"),
    )


@query(
    "q314_brown_forsythe",
    oracle="""
WITH x AS (
  SELECT c.c_mktsegment AS g,
    CAST(ROUND(e.value * 1000) AS BIGINT) AS v
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
  WHERE e.value IS NOT NULL
), h AS (
  SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM x GROUP BY g, v
), cum AS (
  SELECT g, v, cnt,
    CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS c,
    CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT) AS ng
  FROM h
), med AS (
  SELECT g, MIN(v) AS m
  FROM cum WHERE 2 * c >= ng GROUP BY g
), dev AS (
  SELECT x.g, ABS(x.v - med.m) AS d
  FROM x JOIN med ON med.g = x.g
), per_g AS (
  SELECT g, CAST(COUNT(*) AS HUGEINT) AS ng,
    CAST(SUM(d) AS HUGEINT) AS sg,
    CAST(SUM(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sqg
  FROM dev GROUP BY g
), parts AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS k,
    CAST(SUM(ng) AS HUGEINT) AS n,
    CAST(SUM(sg) AS HUGEINT) AS s,
    CAST(SUM(sqg) AS HUGEINT) AS sq,
    CAST(SUM(sg * sg // ng) AS HUGEINT) AS ssb_raw
  FROM per_g
)
SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n,
  CAST(ssb_raw - s * s // n AS BIGINT) AS ssb_m2,
  CAST(sq - ssb_raw AS BIGINT) AS ssw_m2,
  CAST((ssb_raw - s * s // n) * (n - k) * 1000
    // ((sq - ssb_raw) * (k - 1)) AS BIGINT) AS f_milli
FROM parts
""",
)
def q314_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across market
    segments — the robust Levene variant that validates q310's
    equal-variance assumption (Brown & Forsythe '74; public
    literature): run the one-way F on ABSOLUTE DEVIATIONS FROM THE
    GROUP MEDIAN. The per-group median is the exact lower median
    off the (group, value) histogram (first value whose doubled
    cumulative reaches n_g — integer, no percentile
    interpolation); deviations are exact integers; the F close is
    q310's identity verbatim. Columns: k_groups, n, ssb_m2,
    ssw_m2, f_milli.

    Determinism: histogram-exact lower medians; integer
    deviations; quantize-then-sum identities; cross-multiply DIV.

    Scale: one exchange to the (group, value) histogram for
    medians (dimension-bound state), a |groups|-row broadcast back
    onto the fact for deviations, one more grouped aggregate. Two
    fact passes total — the price of a median-centered statistic.
    """
    x = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 1000).cast("bigint").alias("v"),
        )
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("g")
    )
    xg = x.join(c, x["user_id"] == c["c_custkey"]).select(
        "g", "v"
    ).transform(checkpoint)
    h = xg.groupBy("g", "v").agg(F.count("*").cast("bigint").alias("cnt"))
    wg = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("g")
    cum = h.select(
        "g",
        "v",
        F.sum("cnt").over(wg).cast("bigint").alias("c"),
        F.sum("cnt").over(wall).cast("bigint").alias("ng"),
    )
    med = (
        cum.filter(2 * F.col("c") >= F.col("ng"))
        .groupBy("g")
        .agg(F.min("v").alias("m"))
    )
    dev = xg.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("m")).alias("d")
    )
    per_g = dev.groupBy("g").agg(
        F.count("*").cast("decimal(38,0)").alias("ng"),
        F.sum("d").cast("decimal(38,0)").alias("sg"),
        F.sum(F.expr("CAST(d AS DECIMAL(38,0)) * d"))
        .cast("decimal(38,0)")
        .alias("sqg"),
    )
    parts = per_g.agg(
        F.count("*").cast("decimal(38,0)").alias("k"),
        F.sum("ng").cast("decimal(38,0)").alias("n"),
        F.sum("sg").cast("decimal(38,0)").alias("s"),
        F.sum("sqg").cast("decimal(38,0)").alias("sq"),
        F.sum(F.expr("CAST(sg * sg DIV ng AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("ssb_raw"),
    )
    return parts.select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("n").cast("bigint").alias("n"),
        F.expr("CAST(ssb_raw - s * s DIV n AS BIGINT)").alias("ssb_m2"),
        F.expr("CAST(sq - ssb_raw AS BIGINT)").alias("ssw_m2"),
        F.expr(
            "CAST((ssb_raw - s * s DIV n) * (n - k) * 1000"
            " DIV ((sq - ssb_raw) * (k - 1)) AS BIGINT)"
        ).alias("f_milli"),
    )


@query(
    "q315_durbin_watson",
    oracle="""
WITH mo AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
      AS month_id,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS y
  FROM orders GROUP BY 1
), s AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY month_id) AS HUGEINT) AS t,
    CAST(y AS HUGEINT) AS y,
    CAST(LAG(y, 1) OVER (ORDER BY month_id) AS HUGEINT) AS yp
  FROM mo
), m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
    CAST(SUM(t) AS HUGEINT) AS st,
    CAST(SUM(y) AS HUGEINT) AS sy,
    CAST(SUM(t * t) AS HUGEINT) AS stt,
    CAST(SUM(t * y) AS HUGEINT) AS sty,
    CAST(SUM(y * y) AS HUGEINT) AS syy,
    CAST(SUM(CASE WHEN yp IS NOT NULL
      THEN (y - yp) * (y - yp) END) AS HUGEINT) AS sdd,
    CAST(SUM(CASE WHEN yp IS NOT NULL THEN y - yp END) AS HUGEINT)
      AS sdy
  FROM s
), d AS (
  SELECT n,
    CAST(n * sty - st * sy AS DOUBLE) AS bnum,
    CAST(n * stt - st * st AS DOUBLE) AS dd,
    CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
    CAST(sdd AS DOUBLE) AS sdd_d,
    CAST(sdy AS DOUBLE) AS sdy_d
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_months,
  CAST(FLOOR(bnum / dd * 1000000) AS BIGINT) AS slope_micro,
  CAST(FLOOR(
    (sdd_d - 2.0 * (bnum / dd) * sdy_d
     + (CAST(n AS DOUBLE) - 1.0) * (bnum / dd) * (bnum / dd))
    / ((cyy - bnum * bnum / dd) / CAST(n AS DOUBLE))
    * 1000) AS BIGINT) AS dw_milli
FROM d
""",
)
def q315_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson autocorrelation test on the residuals of the
    monthly-revenue trend OLS — the diagnostic that says whether
    q201's fitted trend can be trusted or the errors are serially
    correlated (Durbin & Watson '50; public literature). The
    algebra avoids materializing residuals: with b the OLS slope,
    e_t − e_{t−1} = Δy_t − b, so Σ(Δe)² = ΣΔy² − 2bΣΔy + (n−1)b²
    and Σe² = (Σ(y−ȳ)² − b²Σ(t−t̄)²)/1 — every moment an exact
    HUGEINT/DECIMAL integer off one months pass, the two reported
    values single FLOORs over fixed IEEE trees (the intermediate
    n-scaled residual squares would pass 1e38 at 30×, the q292
    class, so the close goes through double like q306/q311).
    Columns: n_months, slope_micro, dw_milli. DW ≈ 2 means no
    autocorrelation; DW < 1 strong positive.

    Determinism: exact cent sums; LAG over the unique month order;
    identically-rounded integer→double casts; one FLOOR per
    output.

    Scale: one exchange to the months frame; one LAG window; a
    1-row close.
    """
    mo = (
        table(spark, sf_dir, "orders")
        .select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("month_id"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("month_id")
        .agg(F.sum("vc").cast("bigint").alias("y"))
    )
    w = Window.orderBy("month_id")
    s = mo.select(
        F.row_number().over(w).cast("decimal(38,0)").alias("t"),
        F.col("y").cast("decimal(38,0)").alias("y"),
        F.lag("y", 1).over(w).cast("decimal(38,0)").alias("yp"),
    )
    m = s.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("t").cast("decimal(38,0)").alias("st"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("t * t")).cast("decimal(38,0)").alias("stt"),
        F.sum(F.expr("t * y")).cast("decimal(38,0)").alias("sty"),
        F.sum(F.expr("y * y")).cast("decimal(38,0)").alias("syy"),
        F.sum(
            F.expr(
                "CASE WHEN yp IS NOT NULL THEN (y - yp) * (y - yp) END"
            )
        )
        .cast("decimal(38,0)")
        .alias("sdd"),
        F.sum(F.expr("CASE WHEN yp IS NOT NULL THEN y - yp END"))
        .cast("decimal(38,0)")
        .alias("sdy"),
    )
    d = m.select(
        "n",
        F.expr("CAST(n * sty - st * sy AS DOUBLE)").alias("bnum"),
        F.expr("CAST(n * stt - st * st AS DOUBLE)").alias("dd"),
        F.expr("CAST(n * syy - sy * sy AS DOUBLE)").alias("cyy"),
        F.expr("CAST(sdd AS DOUBLE)").alias("sdd_d"),
        F.expr("CAST(sdy AS DOUBLE)").alias("sdy_d"),
    )
    return d.select(
        F.col("n").cast("bigint").alias("n_months"),
        F.expr(
            "CAST(FLOOR(bnum / dd * 1000000) AS BIGINT)"
        ).alias("slope_micro"),
        F.expr(
            "CAST(FLOOR("
            "(sdd_d - 2.0 * (bnum / dd) * sdy_d"
            " + (CAST(n AS DOUBLE) - 1.0) * (bnum / dd) * (bnum / dd))"
            " / ((cyy - bnum * bnum / dd) / CAST(n AS DOUBLE))"
            " * 1000) AS BIGINT)"
        ).alias("dw_milli"),
    )


@query(
    "q323_binary_segmentation",
    oracle="""
WITH mo AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
      AS month_id,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS v
  FROM orders GROUP BY 1
), p AS (
  SELECT month_id, v,
    CAST(ROW_NUMBER() OVER (ORDER BY month_id) AS BIGINT) AS rn,
    CAST(SUM(v) OVER (ORDER BY month_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS pre,
    CAST(COUNT(*) OVER () AS BIGINT) AS n,
    CAST(SUM(v) OVER () AS BIGINT) AS tot
  FROM mo
), s1 AS (
  SELECT rn FROM (
    SELECT rn, ROW_NUMBER() OVER (
      ORDER BY ABS(n * pre - rn * tot) DESC, rn) AS rk
    FROM p WHERE rn < n
  ) WHERE rk = 1
), seg1 AS (
  SELECT p.month_id, p.v, p.rn,
    CASE WHEN p.rn <= s1.rn THEN 0 ELSE 1 END AS seg
  FROM p, s1
), q AS (
  SELECT month_id, v, rn, seg,
    CAST(ROW_NUMBER() OVER (PARTITION BY seg ORDER BY rn)
      AS BIGINT) AS srn,
    CAST(SUM(v) OVER (PARTITION BY seg ORDER BY rn
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS spre,
    CAST(COUNT(*) OVER (PARTITION BY seg) AS BIGINT) AS sn,
    CAST(SUM(v) OVER (PARTITION BY seg) AS BIGINT) AS stot
  FROM seg1
), s2 AS (
  SELECT seg, rn, stat FROM (
    SELECT seg, rn, ABS(sn * spre - srn * stot) AS stat,
      ROW_NUMBER() OVER (PARTITION BY seg
        ORDER BY ABS(sn * spre - srn * stot) DESC, srn) AS rk
    FROM q WHERE srn < sn AND sn >= 4
  ) WHERE rk = 1
), best2 AS (
  SELECT seg, rn, stat,
    ROW_NUMBER() OVER (ORDER BY stat DESC, rn) AS rk
  FROM s2
), cps AS (
  SELECT rn FROM s1
  UNION ALL
  SELECT rn FROM best2 WHERE rk = 1
), segs AS (
  SELECT p.month_id, p.v,
    CAST(COALESCE(SUM(CASE WHEN cps.rn < p.rn THEN 1 END), 0)
      AS BIGINT) AS seg_id
  FROM p LEFT JOIN cps ON cps.rn < p.rn
  GROUP BY p.month_id, p.v
)
SELECT seg_id,
  CAST(COUNT(*) AS BIGINT) AS n_months,
  CAST(MIN(month_id) AS BIGINT) AS start_month,
  CAST(MAX(month_id) AS BIGINT) AS end_month,
  CAST(SUM(v) // COUNT(*) AS BIGINT) AS mean_cents
FROM segs GROUP BY seg_id
""",
)
def q323_binary_segmentation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binary segmentation into three regimes — q290's at-most-one
    changepoint applied RECURSIVELY (Scott & Knott '74 and the
    standard changepoint-package default; public literature): find
    the best split of the monthly revenue series, then the best
    split WITHIN each resulting side (guarded to sides with ≥ 4
    months), keep the stronger of the two second-level candidates,
    and report the three segments with their integer mean levels.
    Everything is the q290 statistic |n·P_w − w·P_n| re-run per
    PARTITION — prefix sums and argmax windows partitioned by the
    first-level segment, so the recursion depth is compile-time
    fixed and the plan stays pure windows (no UnionLoop, no driver
    loop). Columns: seg_id, n_months, start_month, end_month,
    mean_cents.

    Determinism: exact cent sums; integer cross-multiply
    statistics; (stat DESC, rn) tie-breaks at both levels; DIV on
    non-negative operands.

    Scale: one exchange to the months frame; each segmentation
    level adds windows over the time dimension only. Depth-k binary
    segmentation at 100 TB is k window passes over |months| rows.
    """
    mo = (
        table(spark, sf_dir, "orders")
        .select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("month_id"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("month_id")
        .agg(F.sum("vc").cast("bigint").alias("v"))
        .transform(checkpoint)
    )
    w = Window.orderBy("month_id")
    wall = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p = mo.select(
        "month_id",
        "v",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("pre"),
        F.count("*").over(wall).cast("bigint").alias("n"),
        F.sum("v").over(wall).cast("bigint").alias("tot"),
    ).transform(checkpoint)
    s1 = (
        p.filter(F.col("rn") < F.col("n"))
        .select(
            "rn",
            F.row_number()
            .over(
                Window.orderBy(
                    F.abs(
                        F.col("n") * F.col("pre")
                        - F.col("rn") * F.col("tot")
                    ).desc(),
                    "rn",
                )
            )
            .alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select(F.col("rn").alias("cp1"))
    )
    seg1 = p.crossJoin(F.broadcast(s1)).select(
        "month_id",
        "v",
        "rn",
        F.when(F.col("rn") <= F.col("cp1"), 0).otherwise(1).alias("seg"),
    )
    ws = Window.partitionBy("seg").orderBy("rn")
    wsall = Window.partitionBy("seg")
    q = seg1.select(
        "month_id",
        "v",
        "rn",
        "seg",
        F.row_number().over(ws).cast("bigint").alias("srn"),
        F.sum("v").over(ws.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("spre"),
        F.count("*").over(wsall).cast("bigint").alias("sn"),
        F.sum("v").over(wsall).cast("bigint").alias("stot"),
    )
    s2 = (
        q.filter((F.col("srn") < F.col("sn")) & (F.col("sn") >= 4))
        .select(
            "seg",
            "rn",
            F.abs(
                F.col("sn") * F.col("spre") - F.col("srn") * F.col("stot")
            ).alias("stat"),
            F.row_number()
            .over(
                Window.partitionBy("seg").orderBy(
                    F.abs(
                        F.col("sn") * F.col("spre")
                        - F.col("srn") * F.col("stot")
                    ).desc(),
                    "srn",
                )
            )
            .alias("rk"),
        )
        .filter(F.col("rk") == 1)
    )
    best2 = (
        s2.select(
            "rn",
            F.row_number()
            .over(Window.orderBy(F.col("stat").desc(), "rn"))
            .alias("rk2"),
        )
        .filter(F.col("rk2") == 1)
        .select(F.col("rn").alias("cp2"))
    )
    cps = s1.select(F.col("cp1").alias("rn")).unionByName(
        best2.select(F.col("cp2").alias("rn"))
    )
    cps_a = cps.select(F.col("rn").alias("cps_rn"))
    segs = (
        p.join(F.broadcast(cps_a), F.expr("cps_rn < rn"), "left")
        .groupBy("month_id", "v")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("cps_rn").isNotNull(), 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("seg_id")
        )
    )
    return segs.groupBy("seg_id").agg(
        F.count("*").cast("bigint").alias("n_months"),
        F.min("month_id").cast("bigint").alias("start_month"),
        F.max("month_id").cast("bigint").alias("end_month"),
        F.expr("CAST(SUM(v) DIV COUNT(*) AS BIGINT)").alias(
            "mean_cents"
        ),
    )


@query(
    "q324_seasonal_mann_kendall",
    oracle="""
WITH mo AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
    CAST(month(o_orderdate) AS BIGINT) AS moy,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS v
  FROM orders GROUP BY 1, 2
), s AS (
  SELECT CAST(SUM(CASE WHEN b.v > a.v THEN 1
                WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT)
    AS s_total
  FROM mo a JOIN mo b ON a.moy = b.moy AND a.yr < b.yr
), vt AS (
  SELECT CAST(SUM(n * (n - 1) * (2 * n + 5)) AS BIGINT) AS var18,
    CAST(SUM(n) AS BIGINT) AS n_months,
    CAST(COUNT(*) AS BIGINT) AS n_seasons
  FROM (SELECT moy, CAST(COUNT(*) AS BIGINT) AS n
        FROM mo GROUP BY moy)
)
SELECT vt.n_months, vt.n_seasons, s.s_total,
  vt.var18 AS var_term_x18,
  CAST(FLOOR(
    (CAST(s.s_total AS DOUBLE)
     - CASE WHEN s.s_total > 0 THEN 1.0
            WHEN s.s_total < 0 THEN -1.0 ELSE 0.0 END)
    / SQRT(CAST(vt.var18 AS DOUBLE) / 18.0) * 1000000
  ) AS BIGINT) AS z_ppm
FROM s, vt
""",
)
def q324_seasonal_mann_kendall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal Mann-Kendall trend test on monthly revenue — the
    hydrology-standard variant (Hirsch & Slack '84; public
    literature) of q230's MK that a seasonal series REQUIRES:
    comparisons run only WITHIN each calendar month across years
    (January vs January, never January vs July), so the 12-month
    cycle cannot masquerade as trend. S is the exact integer sign
    sum over same-season year pairs (a |months-of-year|-partitioned
    self-join, ~(n/12)² pairs per season — dimension-bound); the
    variance sums n_m(n_m−1)(2n_m+5)/18 per season (continuous
    monthly sums make within-season ties impossible, so no tie
    term); z closes as one FLOOR over a fixed IEEE tree with the
    standard continuity correction. Columns: n_months, n_seasons,
    s_total, var_term_x18, z_ppm.

    Determinism: exact cent sums; integer sign comparisons; the
    18-scaled variance stays integer; one FLOOR.

    Scale: one exchange to the (year, month) frame; the pair join
    is within-season over the time dimension. Seasonal trend
    testing at 100 TB is free once the monthly rollup exists.
    """
    mo = (
        table(spark, sf_dir, "orders")
        .select(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.month("o_orderdate").cast("bigint").alias("moy"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("yr", "moy")
        .agg(F.sum("vc").cast("bigint").alias("v"))
        .transform(checkpoint)
    )
    a = mo.select(
        F.col("yr").alias("ya"), F.col("moy").alias("ma"),
        F.col("v").alias("va"),
    )
    b = mo.select(
        F.col("yr").alias("yb"), F.col("moy").alias("mb"),
        F.col("v").alias("vb"),
    )
    s = (
        a.join(
            b,
            (F.col("ma") == F.col("mb")) & (F.col("ya") < F.col("yb")),
        )
        .agg(
            F.sum(
                F.when(F.col("vb") > F.col("va"), 1)
                .when(F.col("vb") < F.col("va"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_total")
        )
    )
    vt = (
        mo.groupBy("moy")
        .agg(F.count("*").cast("bigint").alias("n"))
        .agg(
            F.sum(
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            )
            .cast("bigint")
            .alias("var18"),
            F.sum("n").cast("bigint").alias("n_months"),
            F.count("*").cast("bigint").alias("n_seasons"),
        )
    )
    return s.crossJoin(F.broadcast(vt)).select(
        "n_months",
        "n_seasons",
        "s_total",
        F.col("var18").alias("var_term_x18"),
        F.expr(
            "CAST(FLOOR((CAST(s_total AS DOUBLE)"
            " - CASE WHEN s_total > 0 THEN 1.0"
            " WHEN s_total < 0 THEN -1.0 ELSE 0.0 END)"
            " / SQRT(CAST(var18 AS DOUBLE) / 18.0) * 1000000)"
            " AS BIGINT)"
        ).alias("z_ppm"),
    )


@query(
    "q325_decomposition_strength",
    oracle=f"""
WITH dec AS ({_DECOMP_SQL}
), m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
    CAST(SUM(CAST(resid24 AS HUGEINT)) AS HUGEINT) AS sr,
    CAST(SUM(CAST(resid24 AS HUGEINT) * resid24) AS HUGEINT) AS srr,
    CAST(SUM(CAST(24 * v_cents - seasonal24 AS HUGEINT)) AS HUGEINT)
      AS st,
    CAST(SUM(CAST(24 * v_cents - seasonal24 AS HUGEINT)
      * (24 * v_cents - seasonal24)) AS HUGEINT) AS stt,
    CAST(SUM(CAST(24 * v_cents - trend24 AS HUGEINT)) AS HUGEINT)
      AS ss,
    CAST(SUM(CAST(24 * v_cents - trend24 AS HUGEINT)
      * (24 * v_cents - trend24)) AS HUGEINT) AS sss
  FROM dec
)
SELECT CAST(n AS BIGINT) AS n_months,
  CAST(GREATEST(CAST(0 AS HUGEINT),
    (n * stt - st * st) - (n * srr - sr * sr)) * 1000000
    // (n * stt - st * st) AS BIGINT) AS trend_strength_ppm,
  CAST(GREATEST(CAST(0 AS HUGEINT),
    (n * sss - ss * ss) - (n * srr - sr * sr)) * 1000000
    // (n * sss - ss * ss) AS BIGINT) AS seasonal_strength_ppm
FROM m
""",
)
def q325_decomposition_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trend and seasonal STRENGTH of the monthly revenue series —
    Hyndman's decomposition-based forecastability measures
    (Wang, Smith & Hyndman '06; the tsfeatures standard):
    F_T = max(0, 1 − Var(R)/Var(T+R)) and
    F_S = max(0, 1 − Var(R)/Var(S+R)), computed directly on q289's
    EXACT 24×-scaled integer components (the identity
    24v = T + S + R means T+R = 24v − S and S+R = 24v − T — no new
    decomposition work). Variances are the exact integer
    n·Σx² − (Σx)² in HUGEINT/DECIMAL; each strength closes as one
    GREATEST + cross-multiply DIV — no float anywhere. The pair
    answers the triage question every forecasting pipeline asks
    FIRST: is this series trend-dominated, season-dominated, or
    noise (both ≈ 0 → ship the naive forecast and save the compute;
    the q309 MASE backtest then verifies). Columns: n_months,
    trend_strength_ppm, seasonal_strength_ppm.

    Determinism: exact integer components in (the q289 gate);
    integer moments; GREATEST before the non-negative DIV.

    Scale: rides q289's two exchanges; the strengths are a 1-row
    moment aggregate on the interior-months frame.
    """
    dec = q289_seasonal_decompose(spark, sf_dir)
    m = dec.select(
        F.col("resid24").alias("r"),
        (24 * F.col("v_cents") - F.col("seasonal24")).alias("t"),
        (24 * F.col("v_cents") - F.col("trend24")).alias("s"),
    ).agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("r").cast("decimal(38,0)").alias("sr"),
        F.sum(F.expr("CAST(r AS DECIMAL(38,0)) * r"))
        .cast("decimal(38,0)")
        .alias("srr"),
        F.sum("t").cast("decimal(38,0)").alias("st"),
        F.sum(F.expr("CAST(t AS DECIMAL(38,0)) * t"))
        .cast("decimal(38,0)")
        .alias("stt"),
        F.sum("s").cast("decimal(38,0)").alias("ss"),
        F.sum(F.expr("CAST(s AS DECIMAL(38,0)) * s"))
        .cast("decimal(38,0)")
        .alias("sss"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_months"),
        F.expr(
            "CAST(GREATEST(CAST(0 AS DECIMAL(38,0)),"
            " (n * stt - st * st) - (n * srr - sr * sr)) * 1000000"
            " DIV (n * stt - st * st) AS BIGINT)"
        ).alias("trend_strength_ppm"),
        F.expr(
            "CAST(GREATEST(CAST(0 AS DECIMAL(38,0)),"
            " (n * sss - ss * ss) - (n * srr - sr * sr)) * 1000000"
            " DIV (n * sss - ss * ss) AS BIGINT)"
        ).alias("seasonal_strength_ppm"),
    )
