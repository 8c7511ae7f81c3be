"""Statistics catalog, continuation module (round-9 queue).

Same discipline as :mod:`statsops` (see its module docstring and the
determinism rules in :mod:`catalog`): exact integer/decimal moments,
portable signed floor division, FLOOR-ppm quantization only over
identically-derived doubles, unique tie-breaks, and a plain-Python
replay in ``tests/test_statsops_replays.py`` for every query whose
oracle shares algorithm structure with the Spark plan.

Reference parity note: the reference repo (an 11-script insurance
ETL) has no statistics layer at all — this module is part of the
"operations a large-scale training-data pipeline would need"
extension surface (drift metrics, change-point detection, series
diagnostics), not a port.
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


def _signed_ppm_div(num: str, den: str, scale: int = 1_000_000) -> str:
    """Portable floor((num*scale)/den) for signed ``num``, positive
    ``den`` — Spark DIV truncates while DuckDB ``//`` floors, so the
    negative branch is made explicit on positive operands (the q304
    portability menu). Emits a SQL fragment valid in BOTH dialects
    (Spark DIV spelled via the caller's dialect)."""
    return (
        f"CASE WHEN {num} >= 0 THEN CAST({num} * {scale} DIV {den} AS BIGINT)"
        f" ELSE -CAST(((-({num})) * {scale} + {den} - 1) DIV {den} AS BIGINT)"
        f" END"
    )


# --------------------------------------------------------------------------
# q326: Ljung-Box portmanteau test
# --------------------------------------------------------------------------


@query(
    "q326_ljung_box",
    oracle="""
WITH h AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
    CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS tot
  FROM events GROUP BY 1, 2
), c AS (
  SELECT event_type, hr,
    CAST(COUNT(*) OVER (PARTITION BY event_type) AS HUGEINT) AS n,
    CAST(COUNT(*) OVER (PARTITION BY event_type) AS HUGEINT) * tot
      - SUM(CAST(tot AS HUGEINT)) OVER (PARTITION BY event_type) AS cd
  FROM h
), lagged AS (
  SELECT event_type, n, cd,
    LAG(cd, 1) OVER w AS c1,
    LAG(cd, 2) OVER w AS c2,
    LAG(cd, 3) OVER w AS c3
  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY hr)
), m AS (
  SELECT event_type, MAX(n) AS n,
    SUM(cd * cd) AS den,
    SUM(cd * c1) AS num1,
    SUM(cd * c2) AS num2,
    SUM(cd * c3) AS num3
  FROM lagged GROUP BY event_type
), r AS (
  SELECT event_type, CAST(n AS BIGINT) AS n_hours,
    CASE WHEN num1 >= 0 THEN CAST(num1 * 1000000 // den AS BIGINT)
      ELSE -CAST(((-(num1)) * 1000000 + den - 1) // den AS BIGINT) END
      AS acf1_ppm,
    CASE WHEN num2 >= 0 THEN CAST(num2 * 1000000 // den AS BIGINT)
      ELSE -CAST(((-(num2)) * 1000000 + den - 1) // den AS BIGINT) END
      AS acf2_ppm,
    CASE WHEN num3 >= 0 THEN CAST(num3 * 1000000 // den AS BIGINT)
      ELSE -CAST(((-(num3)) * 1000000 + den - 1) // den AS BIGINT) END
      AS acf3_ppm
  FROM m
)
SELECT event_type, n_hours, acf1_ppm, acf2_ppm, acf3_ppm,
  CAST(n_hours * (n_hours + 2)
    * (acf1_ppm * acf1_ppm // (n_hours - 1)
     + acf2_ppm * acf2_ppm // (n_hours - 2)
     + acf3_ppm * acf3_ppm // (n_hours - 3)) AS BIGINT) AS lb_q_scaled
FROM r
ORDER BY event_type
""",
)
def q326_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the hourly event-value series —
    the "is there ANY serial structure left" gate run on forecast
    residuals and on raw series before q214's per-lag ACF read. Per
    event type, the lag-1..3 autocorrelations of the hourly totals
    (observed hours only) and the portmanteau statistic
    Q = n(n+2)·Σ_k r_k²/(n−k), computed on the ppm-quantized r_k so
    every term is exact integer arithmetic (documented quantized
    semantics; the replay test reproduces it digit-for-digit). Large
    lb_q_scaled (≈ Q×10¹²) vs the χ²₃ tail ⇒ autocorrelated.
    Columns: event_type, n_hours, acf1_ppm, acf2_ppm, acf3_ppm,
    lb_q_scaled.

    Determinism: hourly totals are exact integer milli-sums; the
    centered series n·x_t − S is exact DECIMAL(38,0) (scaling by n
    cancels in the ratio); r_k uses the portable signed-floor ppm
    division; Q is integer-only from the quantized r_k.

    Scale: identical shape to q214 — one parallel hash-agg collapses
    the fact to |types|×|hours| rows; windows and moments run on
    that tiny frame. At 100 TB the pre-aggregation is still the only
    fact-sized exchange.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    h = (
        events_with_us(spark, sf_dir)
        .select(
            "event_type",
            F.expr("ts_us DIV 3600000000").alias("hr"),
            F.round(F.col("value") * 1000).cast("bigint").alias("v"),
        )
        .groupBy("event_type", "hr")
        .agg(F.sum("v").cast("bigint").alias("tot"))
    )
    wp = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("hr")
    c = h.select(
        "event_type",
        "hr",
        F.count("*").over(wp).cast("decimal(38,0)").alias("n"),
        (
            F.count("*").over(wp).cast("decimal(38,0)") * F.col("tot")
            - F.sum(F.col("tot").cast("decimal(38,0)")).over(wp)
        )
        .cast("decimal(38,0)")
        .alias("cd"),
    )
    lagged = c.select(
        "event_type",
        "n",
        "cd",
        F.lag("cd", 1).over(wo).alias("c1"),
        F.lag("cd", 2).over(wo).alias("c2"),
        F.lag("cd", 3).over(wo).alias("c3"),
    )
    m = lagged.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(F.col("cd") * F.col("cd")).cast("decimal(38,0)").alias("den"),
        F.sum(F.col("cd") * F.col("c1")).cast("decimal(38,0)").alias("num1"),
        F.sum(F.col("cd") * F.col("c2")).cast("decimal(38,0)").alias("num2"),
        F.sum(F.col("cd") * F.col("c3")).cast("decimal(38,0)").alias("num3"),
    )
    r = m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_hours"),
        F.expr(_signed_ppm_div("num1", "den")).alias("acf1_ppm"),
        F.expr(_signed_ppm_div("num2", "den")).alias("acf2_ppm"),
        F.expr(_signed_ppm_div("num3", "den")).alias("acf3_ppm"),
    )
    return r.select(
        "event_type",
        "n_hours",
        "acf1_ppm",
        "acf2_ppm",
        "acf3_ppm",
        F.expr(
            "CAST(n_hours * (n_hours + 2)"
            " * (acf1_ppm * acf1_ppm DIV (n_hours - 1)"
            "  + acf2_ppm * acf2_ppm DIV (n_hours - 2)"
            "  + acf3_ppm * acf3_ppm DIV (n_hours - 3)) AS BIGINT)"
        ).alias("lb_q_scaled"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q327: 1-D Wasserstein (earth mover's) drift distance
# --------------------------------------------------------------------------


@query(
    "q327_wasserstein_drift",
    oracle="""
WITH e AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c,
    epoch_us(ts) // 86400000000 AS day
  FROM events
), thr AS (
  SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM e
), pts AS (
  SELECT event_type, c,
    CAST(SUM(CASE WHEN day < (SELECT mid FROM thr) THEN 1 ELSE 0 END)
      AS BIGINT) AS na,
    CAST(SUM(CASE WHEN day < (SELECT mid FROM thr) THEN 0 ELSE 1 END)
      AS BIGINT) AS nb
  FROM e GROUP BY event_type, c
), cum AS (
  SELECT event_type,
    CAST(SUM(na) OVER w AS HUGEINT) AS ca,
    CAST(SUM(nb) OVER w AS HUGEINT) AS cb,
    CAST(SUM(na) OVER (PARTITION BY event_type) AS HUGEINT) AS tot_a,
    CAST(SUM(nb) OVER (PARTITION BY event_type) AS HUGEINT) AS tot_b,
    LEAD(c) OVER w - c AS gap
  FROM pts WINDOW w AS (PARTITION BY event_type ORDER BY c)
)
SELECT event_type,
  CAST(MAX(tot_a) AS BIGINT) AS n_early,
  CAST(MAX(tot_b) AS BIGINT) AS n_late,
  CAST(SUM(ABS(ca * tot_b - cb * tot_a) * gap) AS BIGINT)
    AS w1_scaled,
  CAST(SUM(ABS(ca * tot_b - cb * tot_a) * gap) * 1000
    // (MAX(tot_a) * MAX(tot_b)) AS BIGINT) AS w1_millicents
FROM cum WHERE gap IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
)
def q327_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein-1 (earth mover's) distance between the early
    and late halves of each event type's value distribution — the
    drift metric that, unlike KS (q219) and PSI (q235), weighs HOW
    FAR mass moved, not just that it moved; the standard feature- and
    score-drift measure for retraining triggers. The time split is
    the integer midpoint day of the observed range; W1 is the exact
    ECDF-difference integral Σ|F_a−F_b|·gap over the pooled support,
    kept integral by cross-multiplying with the group sizes
    (|c_a·n_b − c_b·n_a| per point). Columns: event_type, n_early,
    n_late, w1_scaled (cents × n_early·n_late), w1_millicents
    (W1 in thousandths of a cent, floor).

    Determinism: values are exact cent integers; cumulative counts
    and cross-products are exact HUGEINT/DECIMAL; the final ratio is
    a non-negative floor division.

    Scale: one hash-agg collapses the fact to |types|×|distinct
    cents| points; the ECDF windows run on that collapsed frame (the
    same pre-bucket-then-window shape as q214/q326). The support
    could be histogram-bucketed first if values were continuous at
    100 TB — here cents already bound it.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    e = events_with_us(spark, sf_dir).select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
        F.expr("ts_us DIV 86400000000").alias("day"),
    )
    thr = e.agg(
        F.expr("(MIN(day) + MAX(day) + 1) DIV 2").alias("mid")
    )
    pts = (
        e.crossJoin(F.broadcast(thr))
        .groupBy("event_type", "c")
        .agg(
            F.sum(F.when(F.col("day") < F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("na"),
            F.sum(F.when(F.col("day") < F.col("mid"), 0).otherwise(1))
            .cast("bigint")
            .alias("nb"),
        )
    )
    wp = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("c")
    cum = pts.select(
        "event_type",
        F.sum("na").over(wo).cast("decimal(38,0)").alias("ca"),
        F.sum("nb").over(wo).cast("decimal(38,0)").alias("cb"),
        F.sum("na").over(wp).cast("decimal(38,0)").alias("tot_a"),
        F.sum("nb").over(wp).cast("decimal(38,0)").alias("tot_b"),
        (F.lead("c").over(wo) - F.col("c")).alias("gap"),
    )
    term = F.abs(
        F.col("ca") * F.col("tot_b") - F.col("cb") * F.col("tot_a")
    ) * F.col("gap")
    return (
        cum.filter(F.col("gap").isNotNull())
        .groupBy("event_type")
        .agg(
            F.max("tot_a").cast("bigint").alias("n_early"),
            F.max("tot_b").cast("bigint").alias("n_late"),
            F.sum(term).cast("decimal(38,0)").alias("w1s"),
            F.max("tot_a").cast("decimal(38,0)").alias("ta"),
            F.max("tot_b").cast("decimal(38,0)").alias("tb"),
        )
        .select(
            "event_type",
            "n_early",
            "n_late",
            F.col("w1s").cast("bigint").alias("w1_scaled"),
            F.expr("CAST(w1s * 1000 DIV (ta * tb) AS BIGINT)").alias(
                "w1_millicents"
            ),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q328: Pettitt change-point test
# --------------------------------------------------------------------------


@query(
    "q328_pettitt_test",
    oracle="""
WITH mo AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
    AS mid,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS v
  FROM orders GROUP BY 1
), rk AS (
  SELECT mid,
    2 * RANK() OVER (ORDER BY v)
      + COUNT(*) OVER (PARTITION BY v) - 1 AS r2,
    CAST(COUNT(*) OVER () AS BIGINT) AS n,
    ROW_NUMBER() OVER (ORDER BY mid) AS t
  FROM mo
), u AS (
  SELECT mid, t, n,
    SUM(r2 - (n + 1)) OVER (ORDER BY t) AS u2
  FROM rk
)
SELECT CAST(n AS BIGINT) AS n_months,
  CAST(t AS BIGINT) AS cp_pos,
  mid AS cp_month,
  CAST(ABS(u2) AS BIGINT) AS k_x2
FROM u WHERE t < n
ORDER BY ABS(u2) DESC, t ASC LIMIT 1
""",
)
def q328_pettitt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank-based change-point test on the monthly revenue
    series — the nonparametric partner to q290's AMOC mean-shift
    scan (no normality assumption, robust to outlier months). Uses
    the exact midrank identity Σ_j sgn(x_i−x_j) = 2R_i − (n+1), so
    the Mann-Whitney-type statistic U_t = Σ_{i≤t}Σ_{j>t} sgn(x_i−x_j)
    is the cumulative sum of (2R_i − (n+1)) — all integers (the
    doubled midrank 2R is integral even under ties). Reports the
    split position maximizing |U_t| (K = max|U_t|, doubled as k_x2;
    smallest position on ties). Columns: n_months, cp_pos, cp_month,
    k_x2.

    Determinism: exact integer cent sums; midranks via
    2·RANK + tie-count − 1 (pure integer); unique (|U|, t) tie-break.

    Scale: the fact collapses to one row per month in a single
    hash-agg; ranks/cumsums run on the dimension-sized series frame.
    """
    o = table(spark, sf_dir, "orders")
    mo = (
        o.select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("mid"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("mid")
        .agg(F.sum("vc").cast("bigint").alias("v"))
    )
    rk = mo.select(
        "mid",
        (
            2 * F.rank().over(Window.orderBy("v"))
            + F.count("*").over(Window.partitionBy("v"))
            - 1
        ).alias("r2"),
        F.count("*")
        .over(Window.partitionBy(F.lit(1)))
        .cast("bigint")
        .alias("n"),
        F.row_number().over(Window.orderBy("mid")).alias("t"),
    )
    u = rk.select(
        "mid",
        "t",
        "n",
        F.sum(F.col("r2") - (F.col("n") + 1))
        .over(Window.orderBy("t"))
        .alias("u2"),
    )
    return (
        u.filter(F.col("t") < F.col("n"))
        .orderBy(F.abs(F.col("u2")).desc(), F.col("t").asc())
        .limit(1)
        .select(
            F.col("n").cast("bigint").alias("n_months"),
            F.col("t").cast("bigint").alias("cp_pos"),
            F.col("mid").alias("cp_month"),
            F.abs(F.col("u2")).cast("bigint").alias("k_x2"),
        )
    )


# --------------------------------------------------------------------------
# q329: Cliff's delta (ordinal dominance effect size)
# --------------------------------------------------------------------------


@query(
    "q329_cliffs_delta",
    oracle="""
WITH v AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c,
    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      AS BIGINT) AS ha,
    CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
      AS BIGINT) AS hb
  FROM lineitem WHERE l_returnflag IN ('R', 'N')
  GROUP BY 1
), w AS (
  SELECT ha, hb,
    COALESCE(SUM(hb) OVER (ORDER BY c
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb_less,
    CAST(SUM(hb) OVER () AS BIGINT) AS nb,
    CAST(SUM(ha) OVER () AS BIGINT) AS na
  FROM v
), m AS (
  SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
    CAST(SUM(CAST(ha AS HUGEINT) * cb_less) AS HUGEINT) AS gt,
    CAST(SUM(CAST(ha AS HUGEINT) * (nb - cb_less - hb)) AS HUGEINT)
      AS lt,
    CAST(SUM(CAST(ha AS HUGEINT) * hb) AS HUGEINT) AS eq
  FROM w
)
SELECT n_a, n_b, CAST(gt AS BIGINT) AS gt_pairs,
  CAST(lt AS BIGINT) AS lt_pairs, CAST(eq AS BIGINT) AS tie_pairs,
  CASE WHEN gt - lt >= 0
    THEN CAST((gt - lt) * 1000000
      // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
    ELSE -CAST(((lt - gt) * 1000000
      + CAST(n_a AS HUGEINT) * n_b - 1)
      // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) END AS delta_ppm
FROM m
""",
)
def q329_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between returned ('R') and delivered ('N') line
    items on extended price — the ordinal dominance effect size
    δ = P(X>Y) − P(X<Y) that accompanies q218's Mann-Whitney U the
    way q253's Cohen-d accompanies the t-test: the U test says
    "different", δ says "by how much, scale-free and outlier-proof".
    Pair counts come from the pooled value histogram and one
    cumulative window — never the O(n²) pair join: #(a>b) at value v
    is h_a(v)·cum_b(<v). Columns: n_a, n_b, gt_pairs, lt_pairs,
    tie_pairs, delta_ppm.

    Determinism: exact cent integers; exact HUGEINT/DECIMAL pair
    counts; portable signed-floor ppm ratio.

    Scale: one hash-agg to the |distinct cents| histogram, one
    window over it — the identical collapse q218/q327 use; no pair
    explosion at any scale.
    """
    li = table(spark, sf_dir, "lineitem")
    v = (
        li.filter(F.col("l_returnflag").isin("R", "N"))
        .select(
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("c"),
            F.when(F.col("l_returnflag") == "R", 1)
            .otherwise(0)
            .alias("ia"),
            F.when(F.col("l_returnflag") == "N", 1)
            .otherwise(0)
            .alias("ib"),
        )
        .groupBy("c")
        .agg(
            F.sum("ia").cast("bigint").alias("ha"),
            F.sum("ib").cast("bigint").alias("hb"),
        )
    )
    wo = (
        Window.orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy(F.lit(1))
    w = v.select(
        "ha",
        "hb",
        F.coalesce(F.sum("hb").over(wo), F.lit(0)).alias("cb_less"),
        F.sum("hb").over(wall).cast("bigint").alias("nb"),
        F.sum("ha").over(wall).cast("bigint").alias("na"),
    )
    had = F.col("ha").cast("decimal(38,0)")
    m = w.agg(
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
        F.sum(had * F.col("cb_less")).cast("decimal(38,0)").alias("gt"),
        F.sum(had * (F.col("nb") - F.col("cb_less") - F.col("hb")))
        .cast("decimal(38,0)")
        .alias("lt"),
        F.sum(had * F.col("hb")).cast("decimal(38,0)").alias("eq"),
    )
    return m.select(
        "n_a",
        "n_b",
        F.col("gt").cast("bigint").alias("gt_pairs"),
        F.col("lt").cast("bigint").alias("lt_pairs"),
        F.col("eq").cast("bigint").alias("tie_pairs"),
        F.expr(
            "CASE WHEN gt - lt >= 0"
            " THEN CAST((gt - lt) * 1000000"
            "   DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            " ELSE -CAST(((lt - gt) * 1000000"
            "   + CAST(n_a AS DECIMAL(38,0)) * n_b - 1)"
            "   DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT) END"
        ).alias("delta_ppm"),
    )


# --------------------------------------------------------------------------
# q330: Somers' D and Goodman-Kruskal gamma (ordinal association)
# --------------------------------------------------------------------------


@query(
    "q330_somers_gamma",
    oracle="""
WITH o AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
    CASE WHEN o_totalprice < 50000 THEN 1
         WHEN o_totalprice < 150000 THEN 2
         WHEN o_totalprice < 300000 THEN 3 ELSE 4 END AS y
  FROM orders
), cells AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS h FROM o GROUP BY 1, 2
), n AS (SELECT CAST(SUM(h) AS BIGINT) AS n FROM cells),
conc AS (
  SELECT CAST(COALESCE(SUM(CAST(a.h AS HUGEINT) * b.h), 0) AS HUGEINT)
    AS c
  FROM cells a JOIN cells b ON b.x > a.x AND b.y > a.y
), disc AS (
  SELECT CAST(COALESCE(SUM(CAST(a.h AS HUGEINT) * b.h), 0) AS HUGEINT)
    AS d
  FROM cells a JOIN cells b ON b.x > a.x AND b.y < a.y
), ty AS (
  SELECT CAST(SUM(t * (t - 1) // 2) AS HUGEINT) AS n2
  FROM (SELECT CAST(SUM(h) AS HUGEINT) AS t FROM cells GROUP BY y)
)
SELECT n.n, CAST(conc.c AS BIGINT) AS n_concordant,
  CAST(disc.d AS BIGINT) AS n_discordant,
  CAST(ty.n2 AS BIGINT) AS ties_y,
  CASE WHEN conc.c - disc.d >= 0
    THEN CAST((conc.c - disc.d) * 1000000
      // (CAST(n.n AS HUGEINT) * (n.n - 1) // 2 - ty.n2) AS BIGINT)
    ELSE -CAST(((disc.d - conc.c) * 1000000
      + CAST(n.n AS HUGEINT) * (n.n - 1) // 2 - ty.n2 - 1)
      // (CAST(n.n AS HUGEINT) * (n.n - 1) // 2 - ty.n2) AS BIGINT)
    END AS somers_d_ppm,
  CASE WHEN conc.c - disc.d >= 0
    THEN CAST((conc.c - disc.d) * 1000000 // (conc.c + disc.d)
      AS BIGINT)
    ELSE -CAST(((disc.d - conc.c) * 1000000 + conc.c + disc.d - 1)
      // (conc.c + disc.d) AS BIGINT) END AS gamma_ppm
FROM n, conc, disc, ty
""",
)
def q330_somers_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' D_yx and Goodman-Kruskal gamma between order priority
    (ordinal 1-5) and price band (quartile-ish fixed cut points) —
    the two contingency-table ordinal-association coefficients that
    q293's tau-b does NOT report: Somers' D is the credit-scoring
    standard (D = 2·AUC − 1 against a binary y; pairs with q288's
    WoE/IV profile), gamma ignores ties entirely. Concordant /
    discordant pair counts come from the k×m CELL table cross-join
    (at most 20 cells — never the row-pair join). Columns: n,
    n_concordant, n_discordant, ties_y, somers_d_ppm, gamma_ppm.

    Determinism: fixed integer cut points; exact HUGEINT/DECIMAL
    pair counts from cell histogram products; portable signed-floor
    ppm ratios.

    Scale: the fact collapses to ≤20 cells in one hash-agg; all pair
    arithmetic is on the cell table. Same shape at 100 TB.
    """
    o = table(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("x"),
        F.when(F.col("o_totalprice") < 50000, 1)
        .when(F.col("o_totalprice") < 150000, 2)
        .when(F.col("o_totalprice") < 300000, 3)
        .otherwise(4)
        .alias("y"),
    )
    cells = o.groupBy("x", "y").agg(
        F.count("*").cast("bigint").alias("h")
    )
    a = cells.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"),
        F.col("h").cast("decimal(38,0)").alias("hha"),
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"),
        F.col("h").alias("hhb"),
    )
    conc = (
        a.join(b, (F.col("xb") > F.col("xa")) & (F.col("yb") > F.col("ya")))
        .agg(
            F.coalesce(F.sum(F.col("hha") * F.col("hhb")), F.lit(0))
            .cast("decimal(38,0)")
            .alias("c")
        )
    )
    disc = (
        a.join(b, (F.col("xb") > F.col("xa")) & (F.col("yb") < F.col("ya")))
        .agg(
            F.coalesce(F.sum(F.col("hha") * F.col("hhb")), F.lit(0))
            .cast("decimal(38,0)")
            .alias("d")
        )
    )
    n = cells.agg(F.sum("h").cast("bigint").alias("n"))
    ty = (
        cells.groupBy("y")
        .agg(F.sum("h").cast("decimal(38,0)").alias("t"))
        .agg(
            F.sum(F.expr("CAST(t * (t - 1) DIV 2 AS DECIMAL(38,0))"))
            .cast("decimal(38,0)")
            .alias("n2")
        )
    )
    m = (
        n.crossJoin(F.broadcast(conc))
        .crossJoin(F.broadcast(disc))
        .crossJoin(F.broadcast(ty))
    )
    return m.select(
        "n",
        F.col("c").cast("bigint").alias("n_concordant"),
        F.col("d").cast("bigint").alias("n_discordant"),
        F.col("n2").cast("bigint").alias("ties_y"),
        F.expr(
            "CASE WHEN c - d >= 0"
            " THEN CAST((c - d) * 1000000"
            "   DIV (CAST(n AS DECIMAL(38,0)) * (n - 1) DIV 2 - n2)"
            "   AS BIGINT)"
            " ELSE -CAST(((d - c) * 1000000"
            "   + CAST(n AS DECIMAL(38,0)) * (n - 1) DIV 2 - n2 - 1)"
            "   DIV (CAST(n AS DECIMAL(38,0)) * (n - 1) DIV 2 - n2)"
            "   AS BIGINT) END"
        ).alias("somers_d_ppm"),
        F.expr(
            "CASE WHEN c - d >= 0"
            " THEN CAST((c - d) * 1000000 DIV (c + d) AS BIGINT)"
            " ELSE -CAST(((d - c) * 1000000 + c + d - 1)"
            "   DIV (c + d) AS BIGINT) END"
        ).alias("gamma_ppm"),
    )


# --------------------------------------------------------------------------
# q331: Hodges-Lehmann location and shift estimators
# --------------------------------------------------------------------------

_MONTHLY_SQL = """
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
    AS mid,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS v,
    ROW_NUMBER() OVER (ORDER BY CAST(year(o_orderdate) * 100
      + month(o_orderdate) AS BIGINT)) AS t,
    COUNT(*) OVER () AS nm
  FROM orders GROUP BY 1
"""


@query(
    "q331_hodges_lehmann",
    oracle=f"""
WITH mo AS ({_MONTHLY_SQL}
), walsh AS (
  SELECT a.v + b.v AS s,
    ROW_NUMBER() OVER (ORDER BY a.v + b.v, a.t, b.t) AS rn,
    COUNT(*) OVER () AS m
  FROM mo a JOIN mo b ON a.t <= b.t
), hl AS (
  SELECT CAST(MAX(m) AS BIGINT) AS n_walsh,
    CAST(SUM(CASE WHEN rn IN ((m + 1) // 2, (m + 2) // 2)
      THEN s ELSE 0 END)
      * (CASE WHEN MAX(m) % 2 = 1 THEN 2 ELSE 1 END) AS BIGINT)
      AS hl_x4
  FROM walsh
), d AS (
  SELECT b.v - a.v AS dv,
    ROW_NUMBER() OVER (ORDER BY b.v - a.v, a.t, b.t) AS rn,
    COUNT(*) OVER () AS m
  FROM mo a JOIN mo b ON a.t <= a.nm // 2 AND b.t > b.nm // 2
), sh AS (
  SELECT CAST(MAX(m) AS BIGINT) AS n_shift,
    CAST(SUM(CASE WHEN rn IN ((m + 1) // 2, (m + 2) // 2)
      THEN dv ELSE 0 END)
      * (CASE WHEN MAX(m) % 2 = 1 THEN 2 ELSE 1 END) AS BIGINT)
      AS shift_x2
  FROM d
)
SELECT (SELECT CAST(MAX(nm) AS BIGINT) FROM mo) AS n_months,
  hl.n_walsh, hl.hl_x4 AS hl_x4_cents,
  sh.n_shift AS n_shift_pairs, sh.shift_x2 AS shift_x2_cents
FROM hl, sh
""",
)
def q331_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann estimators on the monthly revenue series: the
    one-sample LOCATION estimate (median of the n(n+1)/2 Walsh
    averages (v_i+v_j)/2, i≤j — the estimator dual to the Wilcoxon
    signed-rank test, 3× more outlier-robust than the mean) and the
    two-sample SHIFT estimate between the first and second half of
    the series (median of pairwise differences — the dual of q218's
    Mann-Whitney U and the robust answer to "how much did monthly
    revenue move"). Medians are kept exactly integral by reporting
    4× the location (Walsh sums are 2×averages; an even-count median
    averages two of them) and 2× the shift. Even/odd selection uses
    the unique (value, i, j) ROW_NUMBER order. Columns: n_months,
    n_walsh, hl_x4_cents, n_shift_pairs, shift_x2_cents.

    Determinism: exact cent integers; order statistics under a
    unique tie-broken ordering; pure integer outputs.

    Scale: the pair join is over the MONTH dimension (n≈84 → ~3.5k
    pairs), never the fact — the fact collapses first in one
    hash-agg. For fact-sized inputs the engine's quantile path
    (q46/q92) is the scale answer; HL's O(n²) Walsh set is the
    documented exact anchor on the dimension frame.
    """
    o = table(spark, sf_dir, "orders")
    mo = (
        o.select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("mid"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("mid")
        .agg(F.sum("vc").cast("bigint").alias("v"))
        .select(
            "mid",
            "v",
            F.row_number().over(Window.orderBy("mid")).alias("t"),
            F.count("*").over(Window.partitionBy(F.lit(1))).alias("nm"),
        )
    )
    a = mo.select(
        F.col("v").alias("va"), F.col("t").alias("ta"), F.col("nm").alias("nma")
    )
    b = mo.select(
        F.col("v").alias("vb"), F.col("t").alias("tb"), F.col("nm").alias("nmb")
    )
    walsh = (
        a.join(b, F.col("ta") <= F.col("tb"))
        .select(
            (F.col("va") + F.col("vb")).alias("s"),
            F.col("ta"),
            F.col("tb"),
        )
        .select(
            "s",
            F.row_number().over(Window.orderBy("s", "ta", "tb")).alias("rn"),
            F.count("*").over(Window.partitionBy(F.lit(1))).alias("m"),
        )
    )
    hl = walsh.agg(
        F.max("m").cast("bigint").alias("n_walsh"),
        F.expr(
            "CAST(SUM(CASE WHEN rn IN ((m + 1) DIV 2, (m + 2) DIV 2)"
            " THEN s ELSE 0 END)"
            " * (CASE WHEN MAX(m) % 2 = 1 THEN 2 ELSE 1 END) AS BIGINT)"
        ).alias("hl_x4_cents"),
    )
    d = (
        a.filter(F.col("ta") <= F.expr("nma DIV 2"))
        .crossJoin(b.filter(F.col("tb") > F.expr("nmb DIV 2")))
        .select(
            (F.col("vb") - F.col("va")).alias("dv"), F.col("ta"), F.col("tb")
        )
        .select(
            "dv",
            F.row_number().over(Window.orderBy("dv", "ta", "tb")).alias("rn"),
            F.count("*").over(Window.partitionBy(F.lit(1))).alias("m"),
        )
    )
    sh = d.agg(
        F.max("m").cast("bigint").alias("n_shift_pairs"),
        F.expr(
            "CAST(SUM(CASE WHEN rn IN ((m + 1) DIV 2, (m + 2) DIV 2)"
            " THEN dv ELSE 0 END)"
            " * (CASE WHEN MAX(m) % 2 = 1 THEN 2 ELSE 1 END) AS BIGINT)"
        ).alias("shift_x2_cents"),
    )
    nmo = mo.agg(F.max("nm").cast("bigint").alias("n_months"))
    return (
        nmo.crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(sh))
        .select(
            "n_months",
            "n_walsh",
            "hl_x4_cents",
            "n_shift_pairs",
            "shift_x2_cents",
        )
    )


# --------------------------------------------------------------------------
# q332: Friedman test + Kendall's W (within-block rank analysis)
# --------------------------------------------------------------------------


@query(
    "q332_friedman_test",
    oracle="""
WITH cell AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
    AS mid,
    CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS treat,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS v
  FROM orders GROUP BY 1, 2
), full_blocks AS (
  SELECT mid FROM cell GROUP BY mid HAVING COUNT(*) = 5
), rk AS (
  SELECT c.mid, c.treat,
    2 * RANK() OVER (PARTITION BY c.mid ORDER BY c.v)
      + COUNT(*) OVER (PARTITION BY c.mid, c.v) - 1 AS r2
  FROM cell c JOIN full_blocks f ON c.mid = f.mid
), pert AS (
  SELECT treat, CAST(SUM(r2) AS BIGINT) AS s2,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM rk GROUP BY treat
), tot AS (
  SELECT CAST(SUM(CAST(r2 AS HUGEINT) * r2) AS BIGINT) AS a4 FROM rk
), pw AS (
  SELECT s2, MAX(n) OVER () AS nb, COUNT(*) OVER () AS kt FROM pert
), m AS (
  SELECT CAST(MAX(nb) AS BIGINT) AS n_blocks,
    CAST(MAX(kt) AS BIGINT) AS k_treat,
    CAST(SUM(CAST((s2 - nb * (kt + 1)) AS HUGEINT)
      * (s2 - nb * (kt + 1))) AS BIGINT) AS num
  FROM pw
)
SELECT m.n_blocks, m.k_treat, m.num AS num_x4,
  CAST(tot.a4 - m.n_blocks * m.k_treat * (m.k_treat + 1)
    * (m.k_treat + 1) AS BIGINT) AS den_x4,
  CAST((m.k_treat - 1) * CAST(m.num AS HUGEINT) * 1000000
    // (tot.a4 - m.n_blocks * m.k_treat * (m.k_treat + 1)
        * (m.k_treat + 1)) AS BIGINT) AS chi2_ppm,
  CAST(CAST(m.num AS HUGEINT) * 1000000
    // (m.n_blocks * (tot.a4 - m.n_blocks * m.k_treat
        * (m.k_treat + 1) * (m.k_treat + 1))) AS BIGINT) AS w_ppm
FROM m, tot
""",
)
def q332_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test + Kendall's W on monthly revenue by order
    priority — the within-block rank ANOVA ("do the five priorities
    keep the same revenue ordering month after month?") that q310's
    one-way ANOVA cannot answer because months differ wildly in
    level; blocking on month removes that. Within each complete
    month-block the five priorities get midranks (doubled to stay
    integral); the tie-corrected statistic
    χ² = (k−1)·Σ_j(S_j − n(k+1)/2)² / (A − nk(k+1)²/4) is computed
    exactly in the 4×-scaled integers (both quadratic forms scale by
    4, the ratio is unchanged), and Kendall's concordance
    W = χ²/(n(k−1)) comes from the same pieces. Columns: n_blocks,
    k_treat, num_x4, den_x4, chi2_ppm, w_ppm.

    Determinism: exact cent sums; doubled midranks via
    2·RANK + tie-count − 1; integer quadratic forms; non-negative
    floor ppm ratios (numerator ≥ 0 by convexity, denominator > 0
    unless every block is fully tied).

    Scale: one hash-agg to |months|×|priorities| cells; ranks run
    within 5-row block partitions — thousands of independent tiny
    windows, embarrassingly parallel at any scale.
    """
    o = table(spark, sf_dir, "orders")
    cell = (
        o.select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("mid"),
            F.substring("o_orderpriority", 1, 1).cast("bigint").alias("treat"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("mid", "treat")
        .agg(F.sum("vc").cast("bigint").alias("v"))
    )
    full_blocks = (
        cell.groupBy("mid").agg(F.count("*").alias("kcnt")).filter(
            F.col("kcnt") == 5
        )
    ).select("mid")
    rk = cell.join(F.broadcast(full_blocks), "mid").select(
        "mid",
        "treat",
        (
            2 * F.rank().over(Window.partitionBy("mid").orderBy("v"))
            + F.count("*").over(Window.partitionBy("mid", "v"))
            - 1
        ).alias("r2"),
    )
    pert = rk.groupBy("treat").agg(
        F.sum("r2").cast("bigint").alias("s2"),
        F.count("*").cast("bigint").alias("n"),
    )
    tot = rk.agg(
        F.sum(F.col("r2").cast("decimal(38,0)") * F.col("r2"))
        .cast("bigint")
        .alias("a4")
    )
    wall = Window.partitionBy(F.lit(1))
    m = pert.select(
        "treat",
        "s2",
        F.max("n").over(wall).alias("nb"),
        F.count("*").over(wall).alias("kt"),
    ).agg(
        F.max("nb").cast("bigint").alias("n_blocks"),
        F.max("kt").cast("bigint").alias("k_treat"),
        F.sum(
            (F.col("s2") - F.col("nb") * (F.col("kt") + 1))
            .cast("decimal(38,0)")
            * (F.col("s2") - F.col("nb") * (F.col("kt") + 1))
        )
        .cast("bigint")
        .alias("num_x4"),
    )
    return (
        m.crossJoin(F.broadcast(tot))
        .select(
            "n_blocks",
            "k_treat",
            "num_x4",
            F.expr(
                "CAST(a4 - n_blocks * k_treat * (k_treat + 1)"
                " * (k_treat + 1) AS BIGINT)"
            ).alias("den_x4"),
            F.expr(
                "CAST((k_treat - 1) * CAST(num_x4 AS DECIMAL(38,0))"
                " * 1000000 DIV (a4 - n_blocks * k_treat * (k_treat + 1)"
                " * (k_treat + 1)) AS BIGINT)"
            ).alias("chi2_ppm"),
            F.expr(
                "CAST(CAST(num_x4 AS DECIMAL(38,0)) * 1000000"
                " DIV (n_blocks * (a4 - n_blocks * k_treat"
                " * (k_treat + 1) * (k_treat + 1))) AS BIGINT)"
            ).alias("w_ppm"),
        )
    )


# --------------------------------------------------------------------------
# q338: theta-method forecast decomposition
# --------------------------------------------------------------------------


@query(
    "q338_theta_forecast",
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
), m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
    CAST(SUM(CAST(rn AS HUGEINT)) AS HUGEINT) AS st,
    CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS sv,
    CAST(SUM(CAST(rn AS HUGEINT) * v) AS HUGEINT) AS stv,
    CAST(SUM(CAST(rn AS HUGEINT) * rn) AS HUGEINT) AS stt
  FROM s
), co AS (
  SELECT n, n * stv - st * sv AS snum, n * stt - st * st AS den,
    sv, st
  FROM m
), th AS (
  SELECT s.rn, s.month_id, s.v,
    CAST(FLOOR(
      CAST(co.sv * co.den - co.snum * co.st + co.n * co.snum * s.rn
        AS DOUBLE)
      / CAST(co.n * co.den AS DOUBLE)) AS BIGINT) AS linefit_c
  FROM s, co
), th2 AS (
  SELECT rn, month_id, v, linefit_c,
    2 * v - linefit_c AS theta2_c
  FROM th
), rec AS (
  SELECT rn, theta2_c AS ses FROM th2 WHERE rn = 1
  UNION ALL
  SELECT t.rn,
    CAST(FLOOR((CAST(t.theta2_c AS DOUBLE)
      + 3.0 * CAST(rec.ses AS DOUBLE)) / 4.0) AS BIGINT)
  FROM rec JOIN th2 t ON t.rn = rec.rn + 1
)
SELECT t.month_id, t.v AS v_cents, t.linefit_c, t.theta2_c,
  rec.ses AS ses_c
FROM th2 t JOIN rec ON rec.rn = t.rn
""",
)
def q338_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method decomposition of the monthly revenue series
    (Assimakopoulos & Nikolopoulos '00 — the M3-competition winner
    and still the forecasting baseline to beat): the theta-2 line
    2v_t − L_t doubles the series' local curvatures around its OLS
    linear fit L_t, and simple exponential smoothing (alpha = 1/4)
    of that line supplies the adaptive component the fit lacks; the
    classical theta forecast is the average of the extrapolated
    line and the SES level — both emitted here per month. The OLS
    fit is exact integer moments closed with one deterministic
    DOUBLE division + FLOOR (operands exceed 2^53, so both engines
    round identical exact DECIMAL/HUGEINT values — the q306/q311
    pattern); the SES recurrence is the q278 integer/FLOOR walk.
    Columns: month_id, v_cents, linefit_c, theta2_c, ses_c.

    Determinism: exact integer moments; one fixed IEEE close per
    fitted value; the recurrence replayed exactly in the replay
    suite.

    Scale: the fact collapses to the |months| frame in one
    exchange; the sequential recurrence then runs as a bounded
    driver step (the q278 contract — time-bound, never
    corpus-bound).
    """
    import math

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
    n = len(series)
    st = n * (n + 1) // 2
    sv = sum(v for _, v in series)
    stv = sum((i + 1) * v for i, (_, v) in enumerate(series))
    stt = sum((i + 1) * (i + 1) for i in range(n))
    snum = n * stv - st * sv
    den = n * stt - st * st
    rows = []
    ses = 0
    for i, (mid, v) in enumerate(series):
        rn = i + 1
        linefit = math.floor(
            float(sv * den - snum * st + n * snum * rn) / float(n * den)
        )
        th2 = 2 * v - linefit
        if i == 0:
            ses = th2
        else:
            ses = math.floor((float(th2) + 3.0 * float(ses)) / 4.0)
        rows.append((mid, v, linefit, th2, ses))
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("month_id", LongType()),
            StructField("v_cents", LongType()),
            StructField("linefit_c", LongType()),
            StructField("theta2_c", LongType()),
            StructField("ses_c", LongType()),
        ]
    )
    return driver_frame(spark, rows, schema)


# --------------------------------------------------------------------------
# q339: Hoeffding's D independence statistic
# --------------------------------------------------------------------------


@query(
    "q339_hoeffding_d",
    oracle="""
WITH xy AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
    CAST(ROUND(l_discount * 100) AS BIGINT) AS y
  FROM lineitem
), cells AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS h FROM xy GROUP BY 1, 2
), marg AS (
  SELECT x, y, h,
    CAST(SUM(h) OVER (PARTITION BY x) AS HUGEINT) AS hx,
    CAST(SUM(h) OVER (PARTITION BY y) AS HUGEINT) AS hy,
    CAST(COALESCE(SUM(h) OVER (ORDER BY x
      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS HUGEINT) AS lx,
    CAST(COALESCE(SUM(h) OVER (ORDER BY y
      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS HUGEINT) AS ly
  FROM cells
), dom AS (
  SELECT a.x, a.y,
    CAST(COALESCE(SUM(CASE WHEN b.x < a.x AND b.y < a.y
      THEN b.h END), 0) AS HUGEINT) AS bl,
    CAST(COALESCE(SUM(CASE WHEN b.x = a.x AND b.y < a.y
      THEN b.h END), 0) AS HUGEINT) AS txy,
    CAST(COALESCE(SUM(CASE WHEN b.x < a.x AND b.y = a.y
      THEN b.h END), 0) AS HUGEINT) AS lxy
  FROM cells a LEFT JOIN cells b
    ON b.x <= a.x AND b.y <= a.y
   AND NOT (b.x = a.x AND b.y = a.y)
  GROUP BY a.x, a.y
), q AS (
  SELECT m.h,
    4 + 4 * d.bl + 2 * d.txy + 2 * d.lxy + (m.h - 1) AS q4,
    2 * m.lx + m.hx + 1 AS r2,
    2 * m.ly + m.hy + 1 AS s2
  FROM marg m JOIN dom d ON m.x = d.x AND m.y = d.y
), moments AS (
  SELECT CAST(SUM(h) AS HUGEINT) AS n,
    CAST(SUM(h * (q4 - 4) * (q4 - 8)) AS HUGEINT) AS d1_x16,
    CAST(SUM(h * (r2 - 2) * (r2 - 4) * (s2 - 2) * (s2 - 4))
      AS HUGEINT) AS d2_x16,
    CAST(SUM(h * (r2 - 4) * (s2 - 4) * (q4 - 4)) AS HUGEINT)
      AS d3_x16
  FROM q
)
SELECT CAST(n AS BIGINT) AS n,
  CAST(FLOOR(CAST(d1_x16 AS DOUBLE)
    / CAST(16 * n * (n - 1) * (n - 2) AS DOUBLE)
    * 1000000000) AS BIGINT) AS d1_ppb,
  CAST(FLOOR(CAST(d2_x16 AS DOUBLE)
    / CAST(16 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4) AS DOUBLE)
    * 1000000000) AS BIGINT) AS d2_ppb,
  CAST(FLOOR(CAST(d3_x16 AS DOUBLE)
    / CAST(16 * n * (n - 1) * (n - 2) * (n - 3) AS DOUBLE)
    * 1000000000) AS BIGINT) AS d3_ppb,
  CAST(FLOOR(
    CAST(30 * ((n - 2) * (n - 3) * d1_x16 + d2_x16
      - 2 * (n - 2) * d3_x16) AS DOUBLE)
    / CAST(16 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4)
      AS DOUBLE) * 1000000000) AS BIGINT) AS d_ppb
FROM moments
""",
)
def q339_hoeffding_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hoeffding's D dependence statistic between line-item quantity
    and discount — the classic rank-based test that detects
    NON-monotone dependence (U-shapes, bands) that q208's Pearson
    and q293's Kendall both miss entirely; SAS PROC CORR's HOEFFDING
    option, with the same tie conventions (midranks; half credit for
    single-coordinate ties, quarter credit for double ties). Every
    per-point quantity is computed exactly on the VALUE-CELL table:
    bivariate dominance counts Q (scaled ×4), coordinate midranks
    R,S (scaled ×2), and the three moment sums D1, D2, D3 (each ×16)
    — so the O(n²) per-point definition collapses to a ~550-cell
    dominance join. The final D = 30·[(n−2)(n−3)D1 + D2 −
    2(n−2)D3] / [n(n−1)···(n−4)] closes with one deterministic
    DOUBLE division over exact HUGEINT/DECIMAL operands (the
    q306/q311 pattern), reported in parts-per-billion (D ∈ [−0.5,1],
    ≈0 under independence); the three moments are emitted in the
    same normalized-ppb form (raw D2 reaches ~1e24 at sf0.01 — far
    past BIGINT — so the exact integers stay internal). Columns: n,
    d1_ppb, d2_ppb, d3_ppb, d_ppb.

    Determinism: exact integer cell counts, dominance sums, and
    scaled midranks; one fixed IEEE close.

    Scale: the fact collapses to the value grid (quantity × discount
    — bounded domains) in one hash-agg; the dominance join is
    grid×grid, independent of row count. Same shape at 100 TB.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("y"),
    )
    cells = li.groupBy("x", "y").agg(
        F.count("*").cast("bigint").alias("h")
    )
    wx = Window.partitionBy("x")
    wy = Window.partitionBy("y")
    wlx = Window.orderBy("x").rangeBetween(Window.unboundedPreceding, -1)
    wly = Window.orderBy("y").rangeBetween(Window.unboundedPreceding, -1)
    marg = cells.select(
        "x",
        "y",
        "h",
        F.sum("h").over(wx).cast("decimal(38,0)").alias("hx"),
        F.sum("h").over(wy).cast("decimal(38,0)").alias("hy"),
        F.coalesce(F.sum("h").over(wlx), F.lit(0))
        .cast("decimal(38,0)")
        .alias("lx"),
        F.coalesce(F.sum("h").over(wly), F.lit(0))
        .cast("decimal(38,0)")
        .alias("ly"),
    )
    b = cells.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("h").alias("bh")
    )
    dom = (
        cells.join(
            b,
            (F.col("bx") <= F.col("x"))
            & (F.col("by") <= F.col("y"))
            & ~((F.col("bx") == F.col("x")) & (F.col("by") == F.col("y"))),
            "left",
        )
        .groupBy("x", "y")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("bx") < F.col("x")) & (F.col("by") < F.col("y")),
                        F.col("bh"),
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias("bl"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("bx") == F.col("x")) & (F.col("by") < F.col("y")),
                        F.col("bh"),
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias("txy"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("bx") < F.col("x")) & (F.col("by") == F.col("y")),
                        F.col("bh"),
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias("lxy"),
        )
    )
    q = marg.join(dom, ["x", "y"]).select(
        F.col("h").cast("decimal(38,0)").alias("h"),
        (
            4 + 4 * F.col("bl") + 2 * F.col("txy") + 2 * F.col("lxy")
            + (F.col("h") - 1)
        )
        .cast("decimal(38,0)")
        .alias("q4"),
        (2 * F.col("lx") + F.col("hx") + 1)
        .cast("decimal(38,0)")
        .alias("r2"),
        (2 * F.col("ly") + F.col("hy") + 1)
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    moments = q.agg(
        F.sum("h").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("h") * (F.col("q4") - 4) * (F.col("q4") - 8))
        .cast("decimal(38,0)")
        .alias("d1_x16"),
        F.sum(
            F.col("h")
            * (F.col("r2") - 2)
            * (F.col("r2") - 4)
            * (F.col("s2") - 2)
            * (F.col("s2") - 4)
        )
        .cast("decimal(38,0)")
        .alias("d2_x16"),
        F.sum(
            F.col("h") * (F.col("r2") - 4) * (F.col("s2") - 4)
            * (F.col("q4") - 4)
        )
        .cast("decimal(38,0)")
        .alias("d3_x16"),
    )
    return moments.select(
        F.col("n").cast("bigint").alias("n"),
        F.expr(
            "CAST(FLOOR(CAST(d1_x16 AS DOUBLE)"
            " / CAST(16 * n * (n - 1) * (n - 2) AS DOUBLE)"
            " * 1000000000) AS BIGINT)"
        ).alias("d1_ppb"),
        F.expr(
            "CAST(FLOOR(CAST(d2_x16 AS DOUBLE)"
            " / CAST(16 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4)"
            " AS DOUBLE) * 1000000000) AS BIGINT)"
        ).alias("d2_ppb"),
        F.expr(
            "CAST(FLOOR(CAST(d3_x16 AS DOUBLE)"
            " / CAST(16 * n * (n - 1) * (n - 2) * (n - 3) AS DOUBLE)"
            " * 1000000000) AS BIGINT)"
        ).alias("d3_ppb"),
        F.expr(
            "CAST(FLOOR("
            " CAST(30 * ((n - 2) * (n - 3) * d1_x16 + d2_x16"
            "   - 2 * (n - 2) * d3_x16) AS DOUBLE)"
            " / CAST(16 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4)"
            "   AS DOUBLE) * 1000000000) AS BIGINT)"
        ).alias("d_ppb"),
    )


# --------------------------------------------------------------------------
# q340: McNemar's test (paired binary outcomes)
# --------------------------------------------------------------------------


@query(
    "q340_mcnemar_test",
    oracle="""
WITH flags AS (
  SELECT c.c_custkey,
    MAX(CASE WHEN o.o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END)
      AS b1,
    MAX(CASE WHEN o.o_totalprice >= 200000 THEN 1 ELSE 0 END) AS b2
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
), cellc AS (
  SELECT
    CAST(SUM(CASE WHEN b1 = 0 AND b2 = 0 THEN 1 ELSE 0 END)
      AS BIGINT) AS n00,
    CAST(SUM(CASE WHEN b1 = 0 AND b2 = 1 THEN 1 ELSE 0 END)
      AS BIGINT) AS n01,
    CAST(SUM(CASE WHEN b1 = 1 AND b2 = 0 THEN 1 ELSE 0 END)
      AS BIGINT) AS n10,
    CAST(SUM(CASE WHEN b1 = 1 AND b2 = 1 THEN 1 ELSE 0 END)
      AS BIGINT) AS n11
  FROM flags
)
SELECT n00, n01, n10, n11,
  CAST((n01 - n10) * (n01 - n10) * 1000000 // (n01 + n10) AS BIGINT)
    AS chi2_ppm,
  CAST((ABS(n01 - n10) - 1) * (ABS(n01 - n10) - 1) * 1000000
    // (n01 + n10) AS BIGINT) AS chi2_cc_ppm
FROM cellc
""",
)
def q340_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on paired per-customer binary outcomes — "did
    this customer ever place an urgent order" vs "ever a $200k+
    order" — the paired-proportions test (marginal homogeneity)
    whose discordant-cell form (n01−n10)²/(n01+n10) is THE standard
    for comparing two binary classifiers on the same items; q304's
    rater-agreement kappa says how often they agree, McNemar says
    whether their error rates differ. Both the plain and the
    continuity-corrected statistic are exact integer ratios in ppm.
    Columns: n00, n01, n10, n11, chi2_ppm, chi2_cc_ppm.

    Determinism: integer cell counts; non-negative floor ppm.

    Scale: one join-free... one broadcast-ready left join + two
    hash-aggs; the 2×2 table is a single row.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    flags = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority").like("1-%"), 1).otherwise(0)
            ).alias("b1"),
            F.max(
                F.when(F.col("o_totalprice") >= 200000, 1).otherwise(0)
            ).alias("b2"),
        )
    )
    cellc = flags.agg(
        F.sum(F.when((F.col("b1") == 0) & (F.col("b2") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n00"),
        F.sum(F.when((F.col("b1") == 0) & (F.col("b2") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n01"),
        F.sum(F.when((F.col("b1") == 1) & (F.col("b2") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n10"),
        F.sum(F.when((F.col("b1") == 1) & (F.col("b2") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n11"),
    )
    return cellc.select(
        "n00",
        "n01",
        "n10",
        "n11",
        F.expr(
            "CAST((n01 - n10) * (n01 - n10) * 1000000 DIV (n01 + n10)"
            " AS BIGINT)"
        ).alias("chi2_ppm"),
        F.expr(
            "CAST((ABS(n01 - n10) - 1) * (ABS(n01 - n10) - 1) * 1000000"
            " DIV (n01 + n10) AS BIGINT)"
        ).alias("chi2_cc_ppm"),
    )


# --------------------------------------------------------------------------
# q341: Jonckheere-Terpstra ordered-alternative test
# --------------------------------------------------------------------------


@query(
    "q341_jonckheere_terpstra",
    oracle="""
WITH o AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS g,
    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
), pts AS (
  SELECT v,
    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
    CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
    CAST(SUM(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3,
    CAST(SUM(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS BIGINT) AS h4,
    CAST(SUM(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS BIGINT) AS h5
  FROM o GROUP BY v
), cum AS (
  SELECT h1, h2, h3, h4, h5,
    CAST(COALESCE(SUM(h1) OVER w, 0) AS HUGEINT) AS c1,
    CAST(COALESCE(SUM(h2) OVER w, 0) AS HUGEINT) AS c2,
    CAST(COALESCE(SUM(h3) OVER w, 0) AS HUGEINT) AS c3,
    CAST(COALESCE(SUM(h4) OVER w, 0) AS HUGEINT) AS c4
  FROM pts WINDOW w AS (ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), jt AS (
  SELECT CAST(SUM(
      h2 * (2 * c1 + h1)
    + h3 * (2 * (c1 + c2) + h1 + h2)
    + h4 * (2 * (c1 + c2 + c3) + h1 + h2 + h3)
    + h5 * (2 * (c1 + c2 + c3 + c4) + h1 + h2 + h3 + h4)
  ) AS HUGEINT) AS jt2 FROM cum
), gs AS (
  SELECT CAST(SUM(n) AS HUGEINT) AS n,
    CAST(SUM(CAST(n AS HUGEINT) * n) AS HUGEINT) AS sn2,
    CAST(SUM(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)) AS HUGEINT)
      AS svar
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY g)
)
SELECT CAST(gs.n AS BIGINT) AS n_total,
  CAST(jt.jt2 AS BIGINT) AS jt2,
  CAST((gs.n * gs.n - gs.sn2) // 2 AS BIGINT) AS e2,
  CAST(gs.n * (gs.n - 1) * (2 * gs.n + 5) - gs.svar AS BIGINT)
    AS var72_noties,
  CAST(FLOOR(
    CAST(jt.jt2 - (gs.n * gs.n - gs.sn2) // 2 AS DOUBLE)
    / (2.0 * SQRT(CAST(gs.n * (gs.n - 1) * (2 * gs.n + 5) - gs.svar
        AS DOUBLE) / 72.0)) * 1000000) AS BIGINT) AS z_ppm
FROM jt, gs
""",
)
def q341_jonckheere_terpstra(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jonckheere-Terpstra test for an ORDERED trend in order value
    across the five priority classes — the test to run when the
    alternative is monotone ("more urgent ⇒ bigger orders"), where
    it dominates q313's Kruskal-Wallis (which spends power on
    arbitrary differences). JT is the sum of pairwise Mann-Whitney
    counts over the 10 ordered group pairs, computed WITHOUT any
    pair join: the value histogram is pivoted to per-group columns
    and one cumulative window supplies every lower-group
    count-below; ties get the standard half credit (doubled: jt2 =
    2·JT is exact). Null mean (e2 = 2·E) and the group-size variance
    term (×72) are exact integers; z uses the standard normal
    approximation with one IEEE close. Columns: n_total, jt2, e2,
    var72_noties, z_ppm.

    Determinism: exact integer pair counts via histogram windows;
    one FLOOR-ppm close over exact-integer-derived doubles.

    Scale: one hash-agg to the |distinct cents| histogram, one
    window, one moment agg — the q218/q329 collapse with a 5-way
    pivot instead of 2.
    """
    o = table(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    aggs = [
        F.sum(F.when(F.col("g") == i, 1).otherwise(0))
        .cast("bigint")
        .alias(f"h{i}")
        for i in range(1, 6)
    ]
    pts = o.groupBy("v").agg(*aggs)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = pts.select(
        *[F.col(f"h{i}") for i in range(1, 6)],
        *[
            F.coalesce(F.sum(f"h{i}").over(w), F.lit(0))
            .cast("decimal(38,0)")
            .alias(f"c{i}")
            for i in range(1, 5)
        ],
    )
    jt = cum.agg(
        F.sum(
            F.col("h2") * (2 * F.col("c1") + F.col("h1"))
            + F.col("h3")
            * (2 * (F.col("c1") + F.col("c2")) + F.col("h1") + F.col("h2"))
            + F.col("h4")
            * (
                2 * (F.col("c1") + F.col("c2") + F.col("c3"))
                + F.col("h1")
                + F.col("h2")
                + F.col("h3")
            )
            + F.col("h5")
            * (
                2 * (F.col("c1") + F.col("c2") + F.col("c3") + F.col("c4"))
                + F.col("h1")
                + F.col("h2")
                + F.col("h3")
                + F.col("h4")
            )
        )
        .cast("decimal(38,0)")
        .alias("jt2")
    )
    gs = (
        o.groupBy("g")
        .agg(F.count("*").cast("decimal(38,0)").alias("n"))
        .agg(
            F.sum("n").cast("decimal(38,0)").alias("n_tot"),
            F.sum(F.col("n") * F.col("n")).cast("decimal(38,0)").alias("sn2"),
            F.sum(F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5))
            .cast("decimal(38,0)")
            .alias("svar"),
        )
    )
    return jt.crossJoin(F.broadcast(gs)).select(
        F.col("n_tot").cast("bigint").alias("n_total"),
        F.col("jt2").cast("bigint").alias("jt2"),
        F.expr("CAST((n_tot * n_tot - sn2) DIV 2 AS BIGINT)").alias("e2"),
        F.expr(
            "CAST(n_tot * (n_tot - 1) * (2 * n_tot + 5) - svar AS BIGINT)"
        ).alias("var72_noties"),
        F.expr(
            "CAST(FLOOR(CAST(jt2 - (n_tot * n_tot - sn2) DIV 2 AS DOUBLE)"
            " / (2.0 * SQRT(CAST(n_tot * (n_tot - 1) * (2 * n_tot + 5)"
            " - svar AS DOUBLE) / 72.0)) * 1000000) AS BIGINT)"
        ).alias("z_ppm"),
    )


# --------------------------------------------------------------------------
# q342: Page's trend test (ordered treatments within blocks)
# --------------------------------------------------------------------------


@query(
    "q342_page_trend",
    oracle="""
WITH cell AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
    AS mid,
    CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS treat,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS v
  FROM orders GROUP BY 1, 2
), full_blocks AS (
  SELECT mid FROM cell GROUP BY mid HAVING COUNT(*) = 5
), rk AS (
  SELECT c.treat,
    2 * RANK() OVER (PARTITION BY c.mid ORDER BY c.v)
      + COUNT(*) OVER (PARTITION BY c.mid, c.v) - 1 AS r2
  FROM cell c JOIN full_blocks f ON c.mid = f.mid
), pert AS (
  SELECT treat, CAST(SUM(r2) AS BIGINT) AS s2,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM rk GROUP BY treat
), m AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n_blocks,
    CAST(SUM(treat * s2) AS BIGINT) AS l2
  FROM pert
)
SELECT n_blocks, l2,
  CAST(90 * n_blocks AS BIGINT) AS e_l2,
  CAST(FLOOR(CAST(l2 - 90 * n_blocks AS DOUBLE)
    / (10.0 * SQRT(CAST(n_blocks AS DOUBLE))) * 1000000) AS BIGINT)
    AS z_ppm
FROM m
""",
)
def q342_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L trend test on the q332 block design — where Friedman
    asks "do the five priorities differ at all within months",
    Page asks the ORDERED question "does revenue rise monotonically
    with priority", weighting each treatment's doubled-midrank sum
    by its rank position: L2 = Σ_j j·S2_j (exact integer). Under
    the null E[L2] = n·k(k+1)²/2 = 90n and Var[L2] =
    n(k³−k)²/(36(k−1)) = 100n for k = 5, so z = (L2 − 90n)/(10√n)
    closes with a single IEEE sqrt. Columns: n_blocks, l2, e_l2,
    z_ppm.

    Determinism: doubled midranks as in q332; exact integer L2;
    one FLOOR-ppm close.

    Scale: identical to q332 — cell hash-agg, 5-row block windows,
    one tiny rollup.
    """
    o = table(spark, sf_dir, "orders")
    cell = (
        o.select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("mid"),
            F.substring("o_orderpriority", 1, 1).cast("bigint").alias("treat"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("mid", "treat")
        .agg(F.sum("vc").cast("bigint").alias("v"))
    )
    full_blocks = (
        cell.groupBy("mid")
        .agg(F.count("*").alias("kcnt"))
        .filter(F.col("kcnt") == 5)
        .select("mid")
    )
    rk = cell.join(F.broadcast(full_blocks), "mid").select(
        "treat",
        (
            2 * F.rank().over(Window.partitionBy("mid").orderBy("v"))
            + F.count("*").over(Window.partitionBy("mid", "v"))
            - 1
        ).alias("r2"),
    )
    pert = rk.groupBy("treat").agg(
        F.sum("r2").cast("bigint").alias("s2"),
        F.count("*").cast("bigint").alias("n"),
    )
    m = pert.agg(
        F.max("n").cast("bigint").alias("n_blocks"),
        F.sum(F.col("treat") * F.col("s2")).cast("bigint").alias("l2"),
    )
    return m.select(
        "n_blocks",
        "l2",
        F.expr("CAST(90 * n_blocks AS BIGINT)").alias("e_l2"),
        F.expr(
            "CAST(FLOOR(CAST(l2 - 90 * n_blocks AS DOUBLE)"
            " / (10.0 * SQRT(CAST(n_blocks AS DOUBLE))) * 1000000)"
            " AS BIGINT)"
        ).alias("z_ppm"),
    )


# --------------------------------------------------------------------------
# q343: Burrows' Delta stylometry between sources
# --------------------------------------------------------------------------


@query(
    "q343_burrows_delta",
    oracle="""
WITH tok AS (
  SELECT d.source, w.w
  FROM documents d,
    unnest(regexp_split_to_array(trim(lower(d.text)), '\\s+'))
      AS w(w)
), cnts AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY source, w
), totals AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM cnts
  GROUP BY source
), vocab AS (
  SELECT DISTINCT w FROM cnts
), grid AS (
  SELECT t.source, v.w,
    CAST(COALESCE(c.c, 0) * 1000000 // t.tot AS BIGINT) AS rf
  FROM totals t CROSS JOIN vocab v
  LEFT JOIN cnts c ON c.source = t.source AND c.w = v.w
), wstats AS (
  SELECT w,
    CAST(COUNT(*) AS HUGEINT) AS ns,
    CAST(SUM(CAST(rf AS HUGEINT)) AS HUGEINT) AS srf,
    CAST(SUM(CAST(rf AS HUGEINT) * rf) AS HUGEINT) AS srf2
  FROM grid GROUP BY w
), z AS (
  SELECT g.source, g.w,
    CAST(FLOOR(CAST(s.ns * g.rf - s.srf AS DOUBLE)
      / SQRT(CAST(s.ns * s.srf2 - s.srf * s.srf AS DOUBLE))
      * 1000000) AS BIGINT) AS zq
  FROM grid g JOIN wstats s ON g.w = s.w
  WHERE s.ns * s.srf2 - s.srf * s.srf > 0
)
SELECT a.source AS source_a, b.source AS source_b,
  CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(ABS(a.zq - b.zq)) // COUNT(*) AS BIGINT) AS delta_micro
FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY source_a, source_b
""",
)
def q343_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between document sources
    — the standard authorship-attribution measure (Burrows '02):
    per-source relative word frequencies (ppm, dense grid so absent
    words count as 0), z-scored per word across the 20 sources
    (n-scaled centering over exact integers, one IEEE sqrt close,
    quantized to z×10⁶), then Delta(a,b) = mean |z_a − z_b| per
    source pair. Near-zero Delta flags near-duplicate or
    same-template sources — the stylometric complement to q35's
    MinHash (which needs shared shingles; Delta catches shared WORD
    DISTRIBUTIONS). Columns: source_a, source_b, n_words,
    delta_micro.

    Determinism: integer ppm frequencies; exact integer moments;
    one FLOOR close per (source, word); the pair stage is pure
    integer arithmetic on the quantized z.

    Scale: tokenize is a narrow map; everything after the
    (source × word) rollup lives on the |sources|·|vocab| grid. With
    an open vocabulary the grid is capped to the top-k words by
    corpus frequency first (Burrows' own protocol — k=150 words).
    """
    from car_insurance_data_pipeline_spark_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(tokens(F.lower(F.trim(F.col("text"))))).alias("w"),
    )
    cnts = tok.groupBy("source", "w").agg(
        F.count("*").cast("bigint").alias("c")
    )
    totals = cnts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("tot")
    )
    vocab = cnts.select("w").distinct()
    grid = (
        totals.crossJoin(F.broadcast(vocab))
        .join(cnts, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr(
                "CAST(COALESCE(c, 0) * 1000000 DIV tot AS BIGINT)"
            ).alias("rf"),
        )
    )
    rfd = F.col("rf").cast("decimal(38,0)")
    wstats = grid.groupBy("w").agg(
        F.count("*").cast("decimal(38,0)").alias("ns"),
        F.sum(rfd).cast("decimal(38,0)").alias("srf"),
        F.sum(rfd * rfd).cast("decimal(38,0)").alias("srf2"),
    )
    z = (
        grid.join(F.broadcast(wstats), "w")
        .filter(
            F.col("ns") * F.col("srf2") - F.col("srf") * F.col("srf") > 0
        )
        .select(
            "source",
            "w",
            F.expr(
                "CAST(FLOOR(CAST(ns * rf - srf AS DOUBLE)"
                " / SQRT(CAST(ns * srf2 - srf * srf AS DOUBLE))"
                " * 1000000) AS BIGINT)"
            ).alias("zq"),
        )
    )
    a = z.select(
        F.col("source").alias("source_a"), "w", F.col("zq").alias("za")
    )
    b = z.select(
        F.col("source").alias("source_b"),
        F.col("w").alias("wb"),
        F.col("zq").alias("zb"),
    )
    return (
        a.join(
            b,
            (F.col("w") == F.col("wb"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.expr(
                "CAST(SUM(ABS(za - zb)) DIV COUNT(*) AS BIGINT)"
            ).alias("delta_micro"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# q344: Cochran's Q (k paired binary outcomes)
# --------------------------------------------------------------------------


@query(
    "q344_cochran_q",
    oracle="""
WITH flags AS (
  SELECT c.c_custkey,
    MAX(CASE WHEN o.o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END)
      AS b1,
    MAX(CASE WHEN o.o_totalprice >= 200000 THEN 1 ELSE 0 END) AS b2,
    CASE WHEN COUNT(o.o_orderkey) >= 5 THEN 1 ELSE 0 END AS b3
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(b1) AS BIGINT) AS c1,
    CAST(SUM(b2) AS BIGINT) AS c2,
    CAST(SUM(b3) AS BIGINT) AS c3,
    CAST(SUM(b1 + b2 + b3) AS BIGINT) AS sr,
    CAST(SUM((b1 + b2 + b3) * (b1 + b2 + b3)) AS BIGINT) AS sr2
  FROM flags
)
SELECT n, c1, c2, c3,
  CAST(6 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - sr * sr) * 1000000
    // (3 * sr - sr2) AS BIGINT) AS q_ppm
FROM m
""",
)
def q344_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over THREE paired per-customer binary outcomes
    (ever-urgent, ever-$200k, five-plus orders) — the k-treatment
    generalization of q340's McNemar (and the binary-data limit of
    q332's Friedman): Q = k(k−1)·[k·ΣC_j² − (ΣC_j)²] /
    [k·ΣR_i − ΣR_i²] ~ χ²_{k−1} under marginal homogeneity. Every
    moment is an exact integer; the statistic is one non-negative
    floor ppm ratio (the numerator is a variance form, ≥ 0; rows
    with R_i ∈ {0, k} contribute zero to the denominator exactly as
    the theory says). Columns: n, c1, c2, c3, q_ppm.

    Determinism: integer flags, integer moments, floor ppm.

    Scale: one broadcastable join + two hash-aggs; the moment frame
    is one row.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    flags = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority").like("1-%"), 1).otherwise(0)
            ).alias("b1"),
            F.max(
                F.when(F.col("o_totalprice") >= 200000, 1).otherwise(0)
            ).alias("b2"),
            F.when(F.count("o_orderkey") >= 5, 1).otherwise(0).alias("b3"),
        )
    )
    r = (F.col("b1") + F.col("b2") + F.col("b3"))
    m = flags.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("b1").cast("bigint").alias("c1"),
        F.sum("b2").cast("bigint").alias("c2"),
        F.sum("b3").cast("bigint").alias("c3"),
        F.sum(r).cast("bigint").alias("sr"),
        F.sum(r * r).cast("bigint").alias("sr2"),
    )
    return m.select(
        "n",
        "c1",
        "c2",
        "c3",
        F.expr(
            "CAST(6 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - sr * sr)"
            " * 1000000 DIV (3 * sr - sr2) AS BIGINT)"
        ).alias("q_ppm"),
    )


# --------------------------------------------------------------------------
# q346: matrix profile (z-normalized subsequence nearest neighbors)
# --------------------------------------------------------------------------


@query(
    "q346_matrix_profile",
    oracle=f"""
WITH mo AS ({_MONTHLY_SQL}
), offs AS (
  SELECT r.p FROM unnest(range(12)) AS r(p)
), wf AS (
  SELECT s.t - o.p AS i, o.p AS pos, s.v
  FROM mo s CROSS JOIN offs o
  WHERE s.t - o.p >= 1 AND s.t - o.p <= s.nm - 11
), wm AS (
  SELECT i,
    CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS s,
    CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ss
  FROM wf GROUP BY i
), z AS (
  SELECT wf.i, wf.pos,
    CAST(FLOOR(CAST(12 * CAST(wf.v AS HUGEINT) - wm.s AS DOUBLE)
      / SQRT(CAST(12 * wm.ss - wm.s * wm.s AS DOUBLE))
      * 1000000) AS BIGINT) AS zq
  FROM wf JOIN wm ON wf.i = wm.i
  WHERE 12 * wm.ss - wm.s * wm.s > 0
), d AS (
  SELECT a.i AS ia, b.i AS ib,
    CAST(SUM((a.zq - b.zq) * (a.zq - b.zq)) AS BIGINT) AS d2
  FROM z a JOIN z b ON a.pos = b.pos AND ABS(a.i - b.i) >= 12
  GROUP BY a.i, b.i
)
SELECT ia AS idx, ib AS nn_idx, d2 AS d2_min FROM (
  SELECT ia, ib, d2,
    row_number() OVER (PARTITION BY ia ORDER BY d2, ib) AS rn
  FROM d
) WHERE rn = 1 ORDER BY idx
""",
)
def q346_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile of the monthly revenue series (window m = 12):
    for every 12-month subsequence, the z-normalized distance to its
    nearest OTHER subsequence outside the trivial-match exclusion
    zone (|i−j| ≥ m) — the UCR matrix-profile primitive whose argmax
    is the series' top DISCORD (the most anomalous year-shaped
    pattern; the q290/q323 changepoint family finds level shifts,
    the profile finds shape anomalies) and whose argmin is its top
    MOTIF pair. Each window's values are z-quantized (exact integer
    moments, one IEEE close per position — the q343 pattern), so
    the distance is the exact integer Σ(z_a − z_b)². Columns: idx,
    nn_idx, d2_min.

    Determinism: exact window moments; FLOOR-quantized z; integer
    distances; (d2, j) tie-break.

    Scale: the fact collapses to the month frame; window expansion
    is a 12-way bounded explode; the pair stage is |windows|² on
    the TIME dimension (never corpus-sized — a century is 1200
    months). For fact-sized series the sketch answer is SAX (q282)
    bucketing before the pair stage.
    """
    o = table(spark, sf_dir, "orders")
    mo = (
        o.select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("mid"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("mid")
        .agg(F.sum("vc").cast("bigint").alias("v"))
        .select(
            "v",
            F.row_number().over(Window.orderBy("mid")).alias("t"),
            F.count("*").over(Window.partitionBy(F.lit(1))).alias("nm"),
        )
    )
    offs = spark.range(12).select(F.col("id").cast("int").alias("pos"))
    wf = (
        mo.crossJoin(F.broadcast(offs))
        .select(
            (F.col("t") - F.col("pos")).alias("i"),
            "pos",
            "v",
            "nm",
        )
        .filter((F.col("i") >= 1) & (F.col("i") <= F.col("nm") - 11))
    )
    vd = F.col("v").cast("decimal(38,0)")
    wm = wf.groupBy("i").agg(
        F.sum(vd).cast("decimal(38,0)").alias("s"),
        F.sum(vd * vd).cast("decimal(38,0)").alias("ss"),
    )
    z = (
        wf.join(wm, "i")
        .filter(12 * F.col("ss") - F.col("s") * F.col("s") > 0)
        .select(
            "i",
            "pos",
            F.expr(
                "CAST(FLOOR(CAST(12 * CAST(v AS DECIMAL(38,0)) - s"
                " AS DOUBLE)"
                " / SQRT(CAST(12 * ss - s * s AS DOUBLE))"
                " * 1000000) AS BIGINT)"
            ).alias("zq"),
        )
    )
    a = z.select(
        F.col("i").alias("ia"), "pos", F.col("zq").alias("za")
    )
    b = z.select(
        F.col("i").alias("ib"), F.col("pos").alias("posb"),
        F.col("zq").alias("zb"),
    )
    d = (
        a.join(
            b,
            (F.col("pos") == F.col("posb"))
            & (F.abs(F.col("ia") - F.col("ib")) >= 12),
        )
        .groupBy("ia", "ib")
        .agg(
            F.sum(
                (F.col("za") - F.col("zb")) * (F.col("za") - F.col("zb"))
            )
            .cast("bigint")
            .alias("d2")
        )
    )
    wmin = Window.partitionBy("ia").orderBy("d2", "ib")
    return (
        d.withColumn("rn", F.row_number().over(wmin))
        .filter(F.col("rn") == 1)
        .select(
            F.col("ia").alias("idx"),
            F.col("ib").alias("nn_idx"),
            F.col("d2").alias("d2_min"),
        )
        .orderBy("idx")
    )


# --------------------------------------------------------------------------
# q353: James-Stein shrinkage of per-group means
# --------------------------------------------------------------------------


@query(
    "q353_james_stein",
    oracle="""
WITH c AS (
  SELECT c_nationkey AS nat,
    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v
  FROM customer
), g AS (
  SELECT nat, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS s,
    CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ss
  FROM c GROUP BY nat
), means AS (
  SELECT nat, n, s,
    CAST(FLOOR(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 10000)
      AS BIGINT) AS mean_tm
  FROM g
), tots AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
    CAST(SUM(g.n) AS BIGINT) AS n_tot,
    CAST(SUM(g.ss - CAST(FLOOR(
      CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE)
      / CAST(g.n AS DOUBLE)) AS HUGEINT)) AS HUGEINT) AS sse_within
  FROM g
), grand AS (
  SELECT CAST(FLOOR(CAST(SUM(means.mean_tm) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS gbar_tm
  FROM means
), sb AS (
  SELECT CAST(SUM(CAST(means.mean_tm - grand.gbar_tm AS HUGEINT)
    * (means.mean_tm - grand.gbar_tm)) AS HUGEINT) AS s_between
  FROM means, grand
), cfac AS (
  SELECT CAST(GREATEST(0, CAST(FLOOR((1.0 -
      (CAST(tots.k AS DOUBLE) - 3.0)
      * (CAST(tots.sse_within AS DOUBLE)
         / CAST(tots.n_tot - tots.k AS DOUBLE)
         / (CAST(tots.n_tot AS DOUBLE) / CAST(tots.k AS DOUBLE))
         * 100000000.0)
      / CAST(sb.s_between AS DOUBLE)) * 1000000) AS BIGINT))
    AS BIGINT) AS c_ppm
  FROM tots, sb
)
SELECT means.nat AS nation, means.n,
  means.mean_tm, grand.gbar_tm, cfac.c_ppm,
  CAST(grand.gbar_tm + CASE WHEN means.mean_tm >= grand.gbar_tm
    THEN (means.mean_tm - grand.gbar_tm) * cfac.c_ppm // 1000000
    ELSE -((grand.gbar_tm - means.mean_tm) * cfac.c_ppm // 1000000)
    END AS BIGINT) AS shrunk_tm
FROM means, grand, cfac
ORDER BY nation
""",
)
def q353_james_stein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """James-Stein shrinkage of per-nation mean account balances
    toward the grand mean — the empirical-Bayes estimator that
    DOMINATES the per-group MLE whenever k ≥ 4 groups are estimated
    simultaneously (Efron-Morris): small nations' noisy means get
    pulled hardest toward the pool, exactly what a per-segment
    pricing or risk model should consume instead of raw group
    means. Variant pinned here: shrinkage factor
    c = max(0, 1 − (k−3)·v̂/S) with v̂ = (pooled within-group
    variance)/(n̄) and S = Σ(x̄_g − x̄)², computed from exact integer
    moments with deterministic DOUBLE closes (group means
    pre-quantized to tenth-milli-cents so the between-group sum is
    exact integer). The shrink product is applied through the
    portable signed-floor CASE (c_ppm ≥ 0, diff signed). Columns:
    nation, n, mean_tm, gbar_tm, c_ppm, shrunk_tm.

    Determinism: exact integer moments; FLOOR-quantized means
    before the between-group quadratic; one fixed IEEE tree for c;
    portable signed integer shrink.

    Scale: one hash-agg to k group moment rows; everything after is
    k-row arithmetic.
    """
    c = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nat"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("v"),
    )
    vd = F.col("v").cast("decimal(38,0)")
    g = c.groupBy("nat").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(vd).cast("decimal(38,0)").alias("s"),
        F.sum(vd * vd).cast("decimal(38,0)").alias("ss"),
    )
    means = g.select(
        "nat",
        "n",
        "s",
        F.expr(
            "CAST(FLOOR(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 10000)"
            " AS BIGINT)"
        ).alias("mean_tm"),
    )
    tots = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum(
            F.col("ss")
            - F.expr(
                "CAST(FLOOR(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
                " / CAST(n AS DOUBLE)) AS DECIMAL(38,0))"
            )
        )
        .cast("decimal(38,0)")
        .alias("sse_within"),
    )
    grand = means.agg(
        F.expr(
            "CAST(FLOOR(CAST(SUM(mean_tm) AS DOUBLE)"
            " / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)"
        ).alias("gbar_tm")
    )
    sb = means.crossJoin(F.broadcast(grand)).agg(
        F.sum(
            (F.col("mean_tm") - F.col("gbar_tm")).cast("decimal(38,0)")
            * (F.col("mean_tm") - F.col("gbar_tm"))
        )
        .cast("decimal(38,0)")
        .alias("s_between")
    )
    cfac = tots.crossJoin(F.broadcast(sb)).select(
        F.expr(
            "CAST(GREATEST(0, CAST(FLOOR((1.0 -"
            " (CAST(k AS DOUBLE) - 3.0)"
            " * (CAST(sse_within AS DOUBLE)"
            "    / CAST(n_tot - k AS DOUBLE)"
            "    / (CAST(n_tot AS DOUBLE) / CAST(k AS DOUBLE))"
            "    * 100000000.0)"
            " / CAST(s_between AS DOUBLE)) * 1000000) AS BIGINT))"
            " AS BIGINT)"
        ).alias("c_ppm")
    )
    return (
        means.crossJoin(F.broadcast(grand))
        .crossJoin(F.broadcast(cfac))
        .select(
            F.col("nat").alias("nation"),
            "n",
            "mean_tm",
            "gbar_tm",
            "c_ppm",
            F.expr(
                "CAST(gbar_tm + "
                + "CASE WHEN mean_tm >= gbar_tm"
                + " THEN (mean_tm - gbar_tm) * c_ppm DIV 1000000"
                + " ELSE -((gbar_tm - mean_tm) * c_ppm DIV 1000000)"
                + " END AS BIGINT)"
            ).alias("shrunk_tm"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# q354: Krippendorff's alpha (three raters, nominal data)
# --------------------------------------------------------------------------


@query(
    "q354_krippendorff_alpha",
    oracle="""
WITH flags AS (
  SELECT c.c_custkey,
    MAX(CASE WHEN o.o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END)
      AS b1,
    MAX(CASE WHEN o.o_totalprice >= 200000 THEN 1 ELSE 0 END) AS b2,
    CASE WHEN COUNT(o.o_orderkey) >= 5 THEN 1 ELSE 0 END AS b3
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
), units AS (
  SELECT b1 + b2 + b3 AS ones FROM flags
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
    CAST(SUM(ones) AS BIGINT) AS n_ones,
    CAST(3 * COUNT(*) AS BIGINT) AS n_vals,
    CAST(SUM(ones * (3 - ones)) AS BIGINT) AS dis_x
  FROM units
)
SELECT n_units, n_ones, n_vals - n_ones AS n_zeros,
  CAST(1000000 - dis_x * (n_vals - 1) * 1000000
    // (2 * n_ones * (n_vals - n_ones)) AS BIGINT) AS alpha_ppm
FROM m
""",
)
def q354_krippendorff_alpha(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Krippendorff's alpha over THREE binary raters per customer
    (the q344 flag triple) — the agreement coefficient that
    generalizes q304's two-rater kappa to any number of raters.
    Nominal-data closed form with complete triples: observed
    disagreement D_o = Σ_u o_u·(3−o_u)/(m_u−1) / n_values and
    expected D_e = 2·n₁·n₀/(n_values·(n_values−1)), so
    α = 1 − [Σo(3−o)·(N−1)] / [2·n₁·n₀] — one exact integer
    cross-multiplication (the pair scaling and the 1/2 coincidence
    factor cancel). The subtrahend is non-negative, so the division
    floors identically in both engines. Columns: n_units, n_ones,
    n_zeros, alpha_ppm.

    Determinism: integer flags; exact integer close.

    Scale: one broadcastable join + two hash-aggs; the close is one
    row.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    flags = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority").like("1-%"), 1).otherwise(0)
            ).alias("b1"),
            F.max(
                F.when(F.col("o_totalprice") >= 200000, 1).otherwise(0)
            ).alias("b2"),
            F.when(F.count("o_orderkey") >= 5, 1).otherwise(0).alias("b3"),
        )
    )
    units = flags.select(
        (F.col("b1") + F.col("b2") + F.col("b3")).alias("ones")
    )
    m = units.agg(
        F.count("*").cast("bigint").alias("n_units"),
        F.sum("ones").cast("bigint").alias("n_ones"),
        (3 * F.count("*")).cast("bigint").alias("n_vals"),
        F.sum(F.col("ones") * (3 - F.col("ones")))
        .cast("bigint")
        .alias("dis_x"),
    )
    return m.select(
        "n_units",
        "n_ones",
        (F.col("n_vals") - F.col("n_ones")).alias("n_zeros"),
        F.expr(
            "CAST(1000000 - dis_x * (n_vals - 1) * 1000000"
            " DIV (2 * n_ones * (n_vals - n_ones)) AS BIGINT)"
        ).alias("alpha_ppm"),
    )


# --------------------------------------------------------------------------
# q355: Bradley-Terry strengths from pairwise brand preferences
# --------------------------------------------------------------------------

_BT_ITERS = 8
_BT_SCALE = 1_000_000_000_000


def _bt_oracle() -> str:
    """Unrolled fixed-point iterations (a recursive CTE cannot
    reference the working table twice, which pi_i + pi_j needs), so
    the oracle generates it0..itK as plain CTE blocks with the exact
    integer update pi' = max(1, wins·10¹² // Σ_j n_ij·10¹²//(pi_i+pi_j)).
    Every CTE is MATERIALIZED: without the hint DuckDB may inline
    each reference, and it{k}'s two references to it{k-1} would make
    the plan tree EXPONENTIAL in the iteration count (measured: the
    un-hinted form does not finish at sf0.001; the hinted form runs
    in milliseconds)."""
    head = """
WITH game AS MATERIALIZED (
  SELECT l.l_orderkey AS ok, p.p_brand AS b,
    CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
), duel AS MATERIALIZED (
  SELECT a.b AS bw, b.b AS bl
  FROM game a JOIN game b
    ON a.ok = b.ok AND a.b <> b.b AND a.q > b.q
), m AS MATERIALIZED (
  SELECT bi, bj, CAST(SUM(n) AS BIGINT) AS n FROM (
    SELECT bw AS bi, bl AS bj, CAST(COUNT(*) AS BIGINT) AS n
    FROM duel GROUP BY 1, 2
    UNION ALL
    SELECT bl, bw, CAST(COUNT(*) AS BIGINT) FROM duel GROUP BY 1, 2
  ) GROUP BY 1, 2
), wins AS MATERIALIZED (
  SELECT bw AS b, CAST(COUNT(*) AS BIGINT) AS w FROM duel GROUP BY 1
), brands AS MATERIALIZED (
  SELECT DISTINCT bi AS b FROM m
), wt AS MATERIALIZED (
  SELECT brands.b, COALESCE(wins.w, 0) AS w
  FROM brands LEFT JOIN wins ON wins.b = brands.b
), games AS MATERIALIZED (
  SELECT bi AS b, CAST(SUM(n) AS BIGINT) AS g FROM m GROUP BY 1
), it0 AS MATERIALIZED (
  SELECT b, CAST(1000000 AS BIGINT) AS pi FROM brands
)"""
    blocks = []
    for t in range(1, _BT_ITERS + 1):
        blocks.append(f""", it{t} AS MATERIALIZED (
  SELECT wt.b, GREATEST(1, wt.w * {_BT_SCALE}
    // d.den) AS pi
  FROM wt JOIN (
    SELECT m.bi AS b,
      CAST(SUM(m.n * {_BT_SCALE} // (pa.pi + pb.pi)) AS BIGINT)
        AS den
    FROM m JOIN it{t - 1} pa ON pa.b = m.bi
    JOIN it{t - 1} pb ON pb.b = m.bj
    GROUP BY m.bi) d ON d.b = wt.b
)""")
    tail = f"""
SELECT wt.b AS brand, games.g AS n_games, wt.w AS n_wins,
  CAST(it{_BT_ITERS}.pi AS BIGINT) AS pi_micro,
  CAST(ROW_NUMBER() OVER (ORDER BY it{_BT_ITERS}.pi DESC, wt.b)
    AS BIGINT) AS rnk
FROM wt JOIN games ON games.b = wt.b
JOIN it{_BT_ITERS} ON it{_BT_ITERS}.b = wt.b
ORDER BY rnk"""
    return head + "".join(blocks) + tail


@query("q355_bradley_terry", oracle=_bt_oracle())
def q355_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength estimation from pairwise brand
    preferences — learning-to-rank from comparisons: within each
    order, every pair of brands present with unequal total
    quantities is a 'duel' won by the larger basket share, and the
    BT model π_i/(π_i+π_j) is fit by the classic MM fixed point
    π_i ← w_i / Σ_j n_ij/(π_i+π_j) (8 iterations from uniform).
    This is the principled global leaderboard the raw win-rate
    table cannot give (it corrects for WHO each brand dueled —
    strength of schedule), the same estimator behind chess Elo
    pools and pairwise LLM-eval leaderboards. The iteration runs in
    micro-quantized exact integers (inner terms at 10¹² scale,
    floor at every step, max(1,·) so a winless brand cannot zero a
    denominator); the oracle unrolls the same 8 steps as generated
    MATERIALIZED CTE blocks. Columns: brand, n_games, n_wins,
    pi_micro, rnk.

    Determinism: integer duel counts; identical integer fixed-point
    walk in both engines; (pi DESC, brand) rank tie-break.

    Scale: duels collapse to the |brands|² matrix in two hash-aggs;
    the iteration is a bounded driver recurrence on ≤625 matrix
    cells (the q278/q319 contract — dimension-sized, never
    corpus-sized).
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    # No broadcast hint on part: AQE broadcasts it while it fits and
    # falls back to SMJ past the threshold (a forced hint OOM'd the
    # 1g-heap scale probe at 10x — 2M-row dim; let the planner pick).
    game = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("q")
        )
    )
    ga = game.select(
        F.col("ok"), F.col("b").alias("bw"), F.col("q").alias("qw")
    )
    gb = game.select(
        F.col("ok").alias("ok2"), F.col("b").alias("bl"), F.col("q").alias("ql")
    )
    duel = ga.join(
        gb,
        (F.col("ok") == F.col("ok2"))
        & (F.col("bw") != F.col("bl"))
        & (F.col("qw") > F.col("ql")),
    ).select("bw", "bl")
    mdf = (
        duel.groupBy("bw", "bl")
        .agg(F.count("*").cast("bigint").alias("n"))
        .collect()
    )
    n: dict[tuple, int] = {}
    wins: dict[str, int] = {}
    for r in mdf:
        n[(r.bw, r.bl)] = n.get((r.bw, r.bl), 0) + r.n
        n[(r.bl, r.bw)] = n.get((r.bl, r.bw), 0) + r.n
        wins[r.bw] = wins.get(r.bw, 0) + r.n
    brands = sorted({b for b, _ in n})
    games = {
        b: sum(v for (bi, _), v in n.items() if bi == b) for b in brands
    }
    pi = {b: 1_000_000 for b in brands}
    for _ in range(_BT_ITERS):
        den = {
            b: sum(
                v * _BT_SCALE // (pi[b] + pi[bj])
                for (bi, bj), v in n.items()
                if bi == b
            )
            for b in brands
        }
        pi = {
            b: max(1, wins.get(b, 0) * _BT_SCALE // den[b]) for b in brands
        }
    order = sorted(brands, key=lambda b: (-pi[b], b))
    rows = [
        (b, games[b], wins.get(b, 0), pi[b], i + 1)
        for i, b in enumerate(order)
    ]
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("brand", StringType()),
            StructField("n_games", LongType()),
            StructField("n_wins", LongType()),
            StructField("pi_micro", LongType()),
            StructField("rnk", LongType()),
        ]
    )
    return driver_frame(spark, rows, schema)


# --------------------------------------------------------------------------
# q356: Theil-T and mean-log-deviation inequality indices
# --------------------------------------------------------------------------


@query(
    "q356_theil_inequality",
    oracle="""
WITH cust AS (
  SELECT o_custkey,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS x
  FROM orders GROUP BY o_custkey
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS xt
  FROM cust
), terms AS (
  SELECT
    CAST(FLOOR(CAST(c.x AS DOUBLE) / CAST(t.xt AS DOUBLE)
      * ln(CAST(c.x AS DOUBLE) * CAST(t.n AS DOUBLE)
           / CAST(t.xt AS DOUBLE)) * 1000000000000) AS BIGINT)
      AS t_pico,
    CAST(FLOOR(ln(CAST(c.x AS DOUBLE) * CAST(t.n AS DOUBLE)
      / CAST(t.xt AS DOUBLE)) * 1000000000000) AS BIGINT) AS l_pico
  FROM cust c, tot t WHERE c.x > 0
)
SELECT t.n, CAST(t.xt AS BIGINT) AS total_cents,
  CAST(SUM(terms.t_pico) AS BIGINT) AS theil_t_pico,
  CAST(-SUM(terms.l_pico) // t.n AS BIGINT) AS mld_pico
FROM terms, tot t GROUP BY t.n, t.xt
""",
)
def q356_theil_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T and mean-log-deviation (Theil-L) inequality of
    per-customer revenue — the two decomposable entropy-family
    inequality indices (unlike q170's Gini they split EXACTLY into
    within-group + between-group parts, which is why tax and
    market-concentration studies prefer them). T = Σ(x/X)·ln(x·n/X)
    and MLD = −(1/n)·Σ ln(x·n/X), both computed with the engine's
    quantize-then-sum discipline: each customer's term is one fixed
    IEEE tree FLOOR-quantized to pico, the corpus sum is exact
    integer (order-independent — the q249/q222 pattern that makes
    ln usable cross-engine). Columns: n, total_cents, theil_t_pico,
    mld_pico.

    Determinism: exact integer revenue; per-term pico quantization
    BEFORE summation; the MLD close divides a negative sum by n
    after negation (non-negative — AM-GM guarantees Σl ≤ 0... the
    floor-quantized sum can only be MORE negative, so −Σ ≥ 0 and
    the division floors identically in both engines).

    Scale: one hash-agg to per-customer revenue, one narrow term
    map, one 1-row sum.
    """
    cust = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("x")
        )
    )
    tot = cust.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("xt"),
    )
    terms = (
        cust.crossJoin(F.broadcast(tot))
        .filter(F.col("x") > 0)
        .select(
            "n",
            "xt",
            F.expr(
                "CAST(FLOOR(CAST(x AS DOUBLE) / CAST(xt AS DOUBLE)"
                " * ln(CAST(x AS DOUBLE) * CAST(n AS DOUBLE)"
                "      / CAST(xt AS DOUBLE)) * 1000000000000)"
                " AS BIGINT)"
            ).alias("t_pico"),
            F.expr(
                "CAST(FLOOR(ln(CAST(x AS DOUBLE) * CAST(n AS DOUBLE)"
                " / CAST(xt AS DOUBLE)) * 1000000000000) AS BIGINT)"
            ).alias("l_pico"),
        )
    )
    return terms.groupBy("n", "xt").agg(
        F.sum("t_pico").cast("bigint").alias("theil_t_pico"),
        F.expr("CAST(-SUM(l_pico) DIV MAX(n) AS BIGINT)").alias(
            "mld_pico"
        ),
    ).select(
        "n",
        F.col("xt").cast("bigint").alias("total_cents"),
        "theil_t_pico",
        "mld_pico",
    )


# --------------------------------------------------------------------------
# q357: dynamic time warping between two regional revenue series
# --------------------------------------------------------------------------

_DTW_SERIES_SQL = """
  SELECT rr.r_name AS region,
    CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate) AS BIGINT)
      AS mid,
    CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS v
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region rr ON rr.r_regionkey = n.n_regionkey
  WHERE rr.r_name IN ('ASIA', 'EUROPE')
  GROUP BY 1, 2
"""


@query(
    "q357_dtw_distance",
    oracle=f"""
WITH RECURSIVE mo AS MATERIALIZED ({_DTW_SERIES_SQL}
), sa AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY mid) AS i, v FROM mo
  WHERE region = 'ASIA'
), sb AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY mid) AS j, v FROM mo
  WHERE region = 'EUROPE'
), cost AS MATERIALIZED (
  SELECT a.i, b.j, ABS(a.v - b.v) AS c FROM sa a CROSS JOIN sb b
), dims AS MATERIALIZED (
  SELECT (SELECT MAX(i) FROM sa) AS n, (SELECT MAX(j) FROM sb) AS m
), moves(age, di, dj, kind) AS (
  SELECT * FROM (VALUES (0, 1, 0, 'new'), (0, 0, 1, 'new'),
                        (0, 0, 0, 'carry'), (1, 1, 1, 'new')) t
), rec AS (
  SELECT CAST(1 AS BIGINT) AS i, CAST(1 AS BIGINT) AS j,
    (SELECT c FROM cost WHERE i = 1 AND j = 1) AS d, 0 AS age
  UNION ALL
  SELECT ti, tj,
    CASE WHEN kind = 'carry' THEN MIN(d) ELSE MIN(d) + MIN(c) END,
    CASE WHEN kind = 'carry' THEN 1 ELSE 0 END
  FROM (
    SELECT r.i + mv.di AS ti, r.j + mv.dj AS tj, mv.kind, r.d, co.c
    FROM rec r
    JOIN moves mv ON mv.age = r.age
    JOIN dims ON TRUE
    JOIN cost co ON co.i = r.i + mv.di AND co.j = r.j + mv.dj
    WHERE r.i + mv.di <= dims.n AND r.j + mv.dj <= dims.m
  ) GROUP BY ti, tj, kind
), fin AS (
  SELECT MIN(d) AS dtw FROM rec, dims
  WHERE rec.i = dims.n AND rec.j = dims.m AND rec.age = 0
), diag AS (
  SELECT CAST(SUM(ABS(a.v - b.v)) AS BIGINT) AS l1
  FROM sa a JOIN sb b ON a.i = b.j
)
SELECT dims.n AS n_a, dims.m AS n_b,
  CAST(fin.dtw AS BIGINT) AS dtw_cents,
  diag.l1 AS lockstep_l1_cents
FROM dims, fin, diag
""",
)
def q357_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping distance between the ASIA and EUROPE
    monthly revenue series — the elastic sequence-alignment measure
    that the lockstep L1 (also reported) cannot give: a one-month
    phase shift between two otherwise identical seasonal curves
    explodes the lockstep distance but costs DTW almost nothing, so
    DTW-vs-lockstep is the standard "are these series the same shape
    on a shifted clock" diagnostic (and the distance kernel under
    time-series clustering). Exact integer cell costs |a_i − b_j|
    cents; the full DP runs as a bounded driver recurrence over the
    |months|² grid (q278 contract), while the ORACLE walks the same
    DP as an anti-diagonal recursive CTE — the working set carries
    the last two diagonals via an age column because the recursive
    table may only be referenced once (each new cell needs
    neighbors from BOTH previous diagonals; carry rows age 0 → 1
    and die, which also terminates the recursion). Columns: n_a,
    n_b, dtw_cents, lockstep_l1_cents.

    Determinism: exact integer costs and minima; unique
    (ROW_NUMBER over month) indexing.

    Scale: the fact collapses to two |months| series in one
    exchange; the O(n·m) DP is TIME-dimension-bound (a century is
    1200 points) — never corpus-sized. For long signals the banded
    (Sakoe-Chiba) variant bounds the diagonal width the same way.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    mo = (
        o.join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        .groupBy(
            F.col("r_name").alias("region"),
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("mid"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("v")
        )
    )
    rows = mo.collect()
    a = [v for _, v in sorted((x.mid, x.v) for x in rows if x.region == "ASIA")]
    b = [
        v for _, v in sorted((x.mid, x.v) for x in rows if x.region == "EUROPE")
    ]
    na, nb = len(a), len(b)
    inf = 1 << 62
    prev = [inf] * (nb + 1)
    prev[0] = 0
    for i in range(1, na + 1):
        cur = [inf] * (nb + 1)
        for j in range(1, nb + 1):
            cur[j] = abs(a[i - 1] - b[j - 1]) + min(
                prev[j], cur[j - 1], prev[j - 1]
            )
        prev = cur
    l1 = sum(abs(x - y) for x, y in zip(a, b))
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("n_a", LongType()),
            StructField("n_b", LongType()),
            StructField("dtw_cents", LongType()),
            StructField("lockstep_l1_cents", LongType()),
        ]
    )
    return driver_frame(spark, [(na, nb, prev[nb], l1)], schema)


# --------------------------------------------------------------------------
# q358: randomness battery (runs test + turning-point test)
# --------------------------------------------------------------------------


@query(
    "q358_randomness_tests",
    oracle=f"""
WITH mo AS ({_MONTHLY_SQL}
), d AS (
  SELECT t, v,
    LEAD(v) OVER (ORDER BY t) - v AS dv,
    LAG(v) OVER (ORDER BY t) AS pv,
    LEAD(v) OVER (ORDER BY t) AS nv
  FROM mo
), signs AS (
  SELECT t, CASE WHEN dv > 0 THEN 1 ELSE -1 END AS sg
  FROM d WHERE dv IS NOT NULL AND dv <> 0
), runs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_signs,
    CAST(SUM(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
    CAST(SUM(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_neg,
    CAST(1 + SUM(CASE WHEN sg <> prev_sg THEN 1 ELSE 0 END)
      AS BIGINT) AS n_runs
  FROM (SELECT sg, LAG(sg) OVER (ORDER BY t) AS prev_sg FROM signs)
), tp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_interior,
    CAST(SUM(CASE WHEN (v > pv AND v > nv) OR (v < pv AND v < nv)
      THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
  FROM d WHERE pv IS NOT NULL AND nv IS NOT NULL
)
SELECT runs.n_pos, runs.n_neg, runs.n_runs,
  CAST(FLOOR(
    (CAST(runs.n_runs AS DOUBLE)
     - (1.0 + 2.0 * CAST(runs.n_pos * runs.n_neg AS DOUBLE)
        / CAST(runs.n_signs AS DOUBLE)))
    / SQRT(2.0 * CAST(runs.n_pos * runs.n_neg AS DOUBLE)
      * (2.0 * CAST(runs.n_pos * runs.n_neg AS DOUBLE)
         - CAST(runs.n_signs AS DOUBLE))
      / (CAST(runs.n_signs AS DOUBLE) * CAST(runs.n_signs AS DOUBLE)
         * (CAST(runs.n_signs AS DOUBLE) - 1.0)))
    * 1000000) AS BIGINT) AS runs_z_ppm,
  tp.n_turning,
  CAST(FLOOR(
    (CAST(tp.n_turning AS DOUBLE)
     - 2.0 * CAST(tp.n_interior AS DOUBLE) / 3.0)
    / SQRT((16.0 * CAST(tp.n_interior + 2 AS DOUBLE) - 29.0) / 90.0)
    * 1000000) AS BIGINT) AS tp_z_ppm
FROM runs, tp
""",
)
def q358_randomness_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomness battery on the monthly revenue series — the two
    classical sign-pattern tests run on residuals before trusting
    any i.i.d.-assuming interval: the Wald-Wolfowitz RUNS test on
    first-difference signs (too few runs ⇒ momentum/trend, too many
    ⇒ oscillation) and the TURNING-POINT test on local extrema
    (E = 2(n−2)/3 under i.i.d.). Both close from exact integer
    counts with one IEEE tree each; they complement q315's
    Durbin-Watson (linear serial correlation) and q326's Ljung-Box
    (quadratic) with distribution-free pattern checks. Columns:
    n_pos, n_neg, n_runs, runs_z_ppm, n_turning, tp_z_ppm.

    Determinism: integer sign/extrema counts (zero differences
    excluded identically; strict inequalities at extrema); FLOOR-ppm
    closes over exact-integer-derived doubles.

    Scale: the fact collapses to the month frame; everything else
    is three windows over it.
    """
    o = table(spark, sf_dir, "orders")
    mo = (
        o.select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("mid"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("mid")
        .agg(F.sum("vc").cast("bigint").alias("v"))
        .select("v", F.row_number().over(Window.orderBy("mid")).alias("t"))
    )
    w = Window.orderBy("t")
    d = mo.select(
        "t",
        "v",
        (F.lead("v").over(w) - F.col("v")).alias("dv"),
        F.lag("v").over(w).alias("pv"),
        F.lead("v").over(w).alias("nv"),
    )
    signs = d.filter(F.col("dv").isNotNull() & (F.col("dv") != 0)).select(
        "t", F.when(F.col("dv") > 0, 1).otherwise(-1).alias("sg")
    )
    sl = signs.select(
        "sg", F.lag("sg").over(Window.orderBy("t")).alias("prev_sg")
    )
    runs = sl.agg(
        F.count("*").cast("bigint").alias("n_signs"),
        F.sum(F.when(F.col("sg") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("sg") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_neg"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev_sg").isNotNull()
                    & (F.col("sg") != F.col("prev_sg")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("n_runs"),
    )
    tp = d.filter(F.col("pv").isNotNull() & F.col("nv").isNotNull()).agg(
        F.count("*").cast("bigint").alias("n_interior"),
        F.sum(
            F.when(
                ((F.col("v") > F.col("pv")) & (F.col("v") > F.col("nv")))
                | ((F.col("v") < F.col("pv")) & (F.col("v") < F.col("nv"))),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_turning"),
    )
    return runs.crossJoin(F.broadcast(tp)).select(
        "n_pos",
        "n_neg",
        "n_runs",
        F.expr(
            "CAST(FLOOR((CAST(n_runs AS DOUBLE)"
            " - (1.0 + 2.0 * CAST(n_pos * n_neg AS DOUBLE)"
            "    / CAST(n_signs AS DOUBLE)))"
            " / SQRT(2.0 * CAST(n_pos * n_neg AS DOUBLE)"
            "   * (2.0 * CAST(n_pos * n_neg AS DOUBLE)"
            "      - CAST(n_signs AS DOUBLE))"
            "   / (CAST(n_signs AS DOUBLE) * CAST(n_signs AS DOUBLE)"
            "      * (CAST(n_signs AS DOUBLE) - 1.0)))"
            " * 1000000) AS BIGINT)"
        ).alias("runs_z_ppm"),
        "n_turning",
        F.expr(
            "CAST(FLOOR((CAST(n_turning AS DOUBLE)"
            " - 2.0 * CAST(n_interior AS DOUBLE) / 3.0)"
            " / SQRT((16.0 * CAST(n_interior + 2 AS DOUBLE) - 29.0)"
            "   / 90.0) * 1000000) AS BIGINT)"
        ).alias("tp_z_ppm"),
    )


# --------------------------------------------------------------------------
# q360: restricted mean survival time from the KM curve
# --------------------------------------------------------------------------


@query(
    "q360_rmst",
    oracle="""
WITH RECURSIVE km0 AS (
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
), curve AS (
  SELECT km.dur, rec.s,
    LAG(rec.s, 1, 1000000) OVER (ORDER BY km.dur) AS s_before
  FROM km JOIN rec ON rec.rn = km.rn
), seg AS (
  SELECT
    CASE WHEN dur > 14 THEN 14 ELSE dur END AS t_end,
    LAG(CASE WHEN dur > 14 THEN 14 ELSE dur END, 1, 0)
      OVER (ORDER BY dur) AS t_start,
    s_before
  FROM curve
), tailseg AS (
  SELECT 14 - MAX(CASE WHEN dur <= 14 THEN dur ELSE 0 END) AS gap
  FROM curve
), lasts AS (
  SELECT s FROM curve WHERE dur <= 14 ORDER BY dur DESC LIMIT 1
)
SELECT CAST(14 AS BIGINT) AS tau_days,
  CAST(SUM(s_before * (t_end - t_start))
    + (SELECT gap FROM tailseg) * (SELECT s FROM lasts) AS BIGINT)
    AS rmst_ppm_days,
  CAST((SUM(s_before * (t_end - t_start))
    + (SELECT gap FROM tailseg) * (SELECT s FROM lasts)) // 1000
    AS BIGINT) AS rmst_milli_days
FROM seg
""",
)
def q360_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at τ = 14 days from the q229
    Kaplan-Meier curve — THE recommended effect summary when hazards
    are non-proportional (where q300's log-rank loses
    interpretability): the area under S(t) up to τ, i.e. the
    expected days-until-first-purchase a user spends 'surviving'
    within the first two weeks. Exact integer close over the
    ppm-quantized KM steps: Σ S(t_{i−1})·(min(t_i,τ) − min(t_{i−1},τ))
    plus the tail segment (τ − last step ≤ τ)·S(last). Columns:
    tau_days, rmst_ppm_days, rmst_milli_days.

    Determinism: rides q229's exact integer product-limit
    recurrence; segment arithmetic is pure integer.

    Scale: q229's two exchanges plus windows on the duration
    dimension.
    """
    km = q229_kaplan_meier_frame(spark, sf_dir)
    w = Window.orderBy("dur_days")
    curve = km.select(
        F.col("dur_days").alias("dur"),
        F.col("s_ppm").alias("s"),
        F.lag("s_ppm", 1, 1000000).over(w).alias("s_before"),
    )
    seg = curve.select(
        "dur",
        "s",
        F.when(F.col("dur") > 14, 14).otherwise(F.col("dur")).alias("t_end"),
        F.lag(
            F.when(F.col("dur") > 14, 14).otherwise(F.col("dur")), 1, 0
        )
        .over(Window.orderBy("dur"))
        .alias("t_start"),
        "s_before",
    )
    area = seg.agg(
        F.sum(F.col("s_before") * (F.col("t_end") - F.col("t_start")))
        .cast("bigint")
        .alias("a")
    )
    tail = (
        curve.filter(F.col("dur") <= 14)
        .orderBy(F.col("dur").desc())
        .limit(1)
        .select(
            (14 - F.col("dur")).alias("gap"), F.col("s").alias("s_last")
        )
    )
    return area.crossJoin(F.broadcast(tail)).select(
        F.lit(14).cast("bigint").alias("tau_days"),
        F.expr("CAST(a + gap * s_last AS BIGINT)").alias("rmst_ppm_days"),
        F.expr("CAST((a + gap * s_last) DIV 1000 AS BIGINT)").alias(
            "rmst_milli_days"
        ),
    )


def q229_kaplan_meier_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q229 KM table, re-exported for downstream survival
    summaries (q360 RMST)."""
    from car_insurance_data_pipeline_spark_spark.plans.statsops import (
        q229_kaplan_meier,
    )

    return q229_kaplan_meier(spark, sf_dir)


# --------------------------------------------------------------------------
# q361: Goodman-Kruskal lambda (proportional reduction in error)
# --------------------------------------------------------------------------


@query(
    "q361_goodman_kruskal_lambda",
    oracle="""
WITH o AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
    CASE WHEN o_totalprice < 50000 THEN 1
         WHEN o_totalprice < 150000 THEN 2
         WHEN o_totalprice < 300000 THEN 3 ELSE 4 END AS y
  FROM orders
), cells AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS h FROM o GROUP BY 1, 2
), rowmax AS (
  SELECT CAST(SUM(mx) AS BIGINT) AS sum_rowmax FROM
    (SELECT x, MAX(h) AS mx FROM cells GROUP BY x)
), colmarg AS (
  SELECT CAST(MAX(t) AS BIGINT) AS max_col FROM
    (SELECT y, SUM(h) AS t FROM cells GROUP BY y)
), n AS (SELECT CAST(SUM(h) AS BIGINT) AS n FROM cells)
SELECT n.n, rowmax.sum_rowmax, colmarg.max_col,
  CAST((rowmax.sum_rowmax - colmarg.max_col) * 1000000
    // (n.n - colmarg.max_col) AS BIGINT) AS lambda_ppm
FROM n, rowmax, colmarg
""",
)
def q361_goodman_kruskal_lambda(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Goodman-Kruskal lambda for predicting price band from order
    priority — the PROPORTIONAL-REDUCTION-IN-ERROR measure for
    nominal variables: "by what fraction do prediction errors drop
    if you guess each row's modal band GIVEN its priority instead
    of the global modal band". λ = (Σ_x max_y n_xy − max_y n_·y) /
    (n − max_y n_·y), exactly the quantity a feature-selection pass
    over categorical features ranks by (and, unlike q209's
    chi-square, it is 0 exactly when the feature never changes the
    best guess — statistical significance without predictive use
    scores zero). Columns: n, sum_rowmax, max_col, lambda_ppm.

    Determinism: integer cell counts and maxima; λ ≥ 0 by
    construction (row maxima dominate the unconditional maximum),
    so one non-negative floor ppm.

    Scale: one hash-agg to ≤20 cells; arithmetic on the cell table.
    """
    o = table(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("x"),
        F.when(F.col("o_totalprice") < 50000, 1)
        .when(F.col("o_totalprice") < 150000, 2)
        .when(F.col("o_totalprice") < 300000, 3)
        .otherwise(4)
        .alias("y"),
    )
    cells = o.groupBy("x", "y").agg(
        F.count("*").cast("bigint").alias("h")
    )
    rowmax = (
        cells.groupBy("x")
        .agg(F.max("h").alias("mx"))
        .agg(F.sum("mx").cast("bigint").alias("sum_rowmax"))
    )
    colmarg = (
        cells.groupBy("y")
        .agg(F.sum("h").alias("t"))
        .agg(F.max("t").cast("bigint").alias("max_col"))
    )
    n = cells.agg(F.sum("h").cast("bigint").alias("n"))
    return (
        n.crossJoin(F.broadcast(rowmax))
        .crossJoin(F.broadcast(colmarg))
        .select(
            "n",
            "sum_rowmax",
            "max_col",
            F.expr(
                "CAST((sum_rowmax - max_col) * 1000000"
                " DIV (n - max_col) AS BIGINT)"
            ).alias("lambda_ppm"),
        )
    )


# --------------------------------------------------------------------------
# q362: Stuart-Maxwell marginal-homogeneity test (3x3 paired nominal)
# --------------------------------------------------------------------------


@query(
    "q362_stuart_maxwell",
    oracle="""
WITH ranked AS (
  SELECT o_custkey,
    CASE WHEN substr(o_orderpriority, 1, 1) <= '2' THEN 1
         WHEN substr(o_orderpriority, 1, 1) = '3' THEN 2
         ELSE 3 END AS band,
    CASE WHEN year(o_orderdate) < 1998 THEN 0 ELSE 1 END AS half
  FROM orders
), modal AS (
  SELECT o_custkey, half, band FROM (
    SELECT o_custkey, half, band,
      ROW_NUMBER() OVER (PARTITION BY o_custkey, half
        ORDER BY COUNT(*) DESC, band) AS r
    FROM ranked GROUP BY o_custkey, half, band
  ) WHERE r = 1
), paired AS (
  SELECT a.band AS b0, b.band AS b1
  FROM modal a JOIN modal b
    ON a.o_custkey = b.o_custkey AND a.half = 0 AND b.half = 1
), cells AS (
  SELECT b0, b1, CAST(COUNT(*) AS BIGINT) AS h
  FROM paired GROUP BY 1, 2
), m AS (
  SELECT
    CAST(SUM(h) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN b0 = 1 THEN h ELSE 0 END)
       - SUM(CASE WHEN b1 = 1 THEN h ELSE 0 END) AS BIGINT) AS d1,
    CAST(SUM(CASE WHEN b0 = 2 THEN h ELSE 0 END)
       - SUM(CASE WHEN b1 = 2 THEN h ELSE 0 END) AS BIGINT) AS d2,
    CAST(SUM(CASE WHEN (b0 = 1 AND b1 = 2) OR (b0 = 2 AND b1 = 1)
      THEN h ELSE 0 END) AS BIGINT) AS s12,
    CAST(SUM(CASE WHEN (b0 = 1 AND b1 = 3) OR (b0 = 3 AND b1 = 1)
      THEN h ELSE 0 END) AS BIGINT) AS s13,
    CAST(SUM(CASE WHEN (b0 = 2 AND b1 = 3) OR (b0 = 3 AND b1 = 2)
      THEN h ELSE 0 END) AS BIGINT) AS s23
  FROM cells
), v AS (
  -- 2x2 covariance of (d1, d2): V11 = s12 + s13, V22 = s12 + s23,
  -- V12 = -s12 (the Stuart-Maxwell closed form for k = 3)
  SELECT n, d1, d2, s12 + s13 AS v11, s12 + s23 AS v22,
    -s12 AS v12
  FROM m
)
SELECT n, d1, d2,
  CAST(v11 AS BIGINT) AS v11, CAST(v22 AS BIGINT) AS v22,
  CAST(v12 AS BIGINT) AS v12,
  CAST(FLOOR(
    (CAST(d1 AS DOUBLE) * CAST(d1 AS DOUBLE) * CAST(v22 AS DOUBLE)
     + CAST(d2 AS DOUBLE) * CAST(d2 AS DOUBLE) * CAST(v11 AS DOUBLE)
     - 2.0 * CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)
       * CAST(v12 AS DOUBLE))
    / (CAST(v11 AS DOUBLE) * CAST(v22 AS DOUBLE)
       - CAST(v12 AS DOUBLE) * CAST(v12 AS DOUBLE))
    * 1000000) AS BIGINT) AS chi2_ppm
FROM v
""",
)
def q362_stuart_maxwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stuart-Maxwell marginal-homogeneity test on each customer's
    MODAL priority band (urgent 1-2 / mid 3 / low 4-5) in the early
    half vs late half of the order history — the k-category McNemar
    (q340 answers the binary case; this is the 3×3 one): did the
    priority-mix marginals SHIFT between periods, accounting for the
    pairing. Closed form for k = 3: χ² = d'V⁻¹d with
    d = marginal differences and V the 2×2 discordant-cell
    covariance (V11 = s12+s13, V22 = s12+s23, V12 = −s12), closed
    with one fixed IEEE tree over exact integers (quadratic form /
    determinant). Modal band per (customer, half) uses the
    (count DESC, band) tie-break. Columns: n, d1, d2, v11, v22,
    v12, chi2_ppm.

    Determinism: integer cells; unique modal tie-break; one
    FLOOR-ppm close (the quadratic form is ≥ 0 — V is positive
    semidefinite).

    Scale: two hash-aggs to per-(customer, half) modal bands, one
    self-join on the customer dimension, then a 9-cell table.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.when(F.substring("o_orderpriority", 1, 1) <= "2", 1)
        .when(F.substring("o_orderpriority", 1, 1) == "3", 2)
        .otherwise(3)
        .alias("band"),
        F.when(F.year("o_orderdate") < 1998, 0).otherwise(1).alias("half"),
    )
    counts = o.groupBy("o_custkey", "half", "band").agg(
        F.count("*").alias("cnt")
    )
    wmod = Window.partitionBy("o_custkey", "half").orderBy(
        F.col("cnt").desc(), F.col("band")
    )
    modal = (
        counts.withColumn("r", F.row_number().over(wmod))
        .filter(F.col("r") == 1)
        .select("o_custkey", "half", "band")
    )
    a = modal.filter(F.col("half") == 0).select(
        "o_custkey", F.col("band").alias("b0")
    )
    b = modal.filter(F.col("half") == 1).select(
        F.col("o_custkey").alias("ck1"), F.col("band").alias("b1")
    )
    paired = a.join(b, a.o_custkey == b.ck1).select("b0", "b1")
    cells = paired.groupBy("b0", "b1").agg(
        F.count("*").cast("bigint").alias("h")
    )
    m = cells.agg(
        F.sum("h").cast("bigint").alias("n"),
        (
            F.sum(F.when(F.col("b0") == 1, F.col("h")).otherwise(0))
            - F.sum(F.when(F.col("b1") == 1, F.col("h")).otherwise(0))
        )
        .cast("bigint")
        .alias("d1"),
        (
            F.sum(F.when(F.col("b0") == 2, F.col("h")).otherwise(0))
            - F.sum(F.when(F.col("b1") == 2, F.col("h")).otherwise(0))
        )
        .cast("bigint")
        .alias("d2"),
        F.sum(
            F.when(
                ((F.col("b0") == 1) & (F.col("b1") == 2))
                | ((F.col("b0") == 2) & (F.col("b1") == 1)),
                F.col("h"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("s12"),
        F.sum(
            F.when(
                ((F.col("b0") == 1) & (F.col("b1") == 3))
                | ((F.col("b0") == 3) & (F.col("b1") == 1)),
                F.col("h"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("s13"),
        F.sum(
            F.when(
                ((F.col("b0") == 2) & (F.col("b1") == 3))
                | ((F.col("b0") == 3) & (F.col("b1") == 2)),
                F.col("h"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("s23"),
    )
    return m.select(
        "n",
        "d1",
        "d2",
        (F.col("s12") + F.col("s13")).cast("bigint").alias("v11"),
        (F.col("s12") + F.col("s23")).cast("bigint").alias("v22"),
        (-F.col("s12")).cast("bigint").alias("v12"),
        F.expr(
            "CAST(FLOOR((CAST(d1 AS DOUBLE) * CAST(d1 AS DOUBLE)"
            " * CAST(s12 + s23 AS DOUBLE)"
            " + CAST(d2 AS DOUBLE) * CAST(d2 AS DOUBLE)"
            " * CAST(s12 + s13 AS DOUBLE)"
            " - 2.0 * CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)"
            " * CAST(-s12 AS DOUBLE))"
            " / (CAST(s12 + s13 AS DOUBLE) * CAST(s12 + s23 AS DOUBLE)"
            " - CAST(-s12 AS DOUBLE) * CAST(-s12 AS DOUBLE))"
            " * 1000000) AS BIGINT)"
        ).alias("chi2_ppm"),
    )


# --------------------------------------------------------------------------
# q363: heavy-tail index (Hill + Pickands estimators)
# --------------------------------------------------------------------------


@query(
    "q363_tail_index",
    oracle="""
WITH cust AS (
  SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
    AS BIGINT) AS x
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x DESC) AS r
  FROM cust WHERE x > 0
), hill AS (
  SELECT CAST(SUM(CAST(FLOOR(ln(CAST(a.x AS DOUBLE)
      / CAST(b.x AS DOUBLE)) * 1000000000000) AS BIGINT)) AS BIGINT)
      AS hill_sum_pico
  FROM ranked a, ranked b
  WHERE a.r <= 100 AND b.r = 101
), pick AS (
  SELECT CAST(FLOOR(ln(
      (CAST(x25.x AS DOUBLE) - CAST(x50.x AS DOUBLE))
      / (CAST(x50.x AS DOUBLE) - CAST(x100.x AS DOUBLE)))
    / ln(2.0) * 1000000) AS BIGINT) AS pickands_ppm
  FROM (SELECT x FROM ranked WHERE r = 25) x25,
       (SELECT x FROM ranked WHERE r = 50) x50,
       (SELECT x FROM ranked WHERE r = 100) x100
)
SELECT CAST(100 AS BIGINT) AS k,
  hill.hill_sum_pico,
  CAST(hill.hill_sum_pico // 100 AS BIGINT) AS hill_gamma_pico,
  pick.pickands_ppm
FROM hill, pick
""",
)
def q363_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-tail index of per-customer revenue by the two classical
    extreme-value estimators — the diagnostic that decides whether
    'whale' customers make moments unreliable (a Hill γ near or
    above 1 means the MEAN is dominated by the tail and q177's
    bootstrap CIs need a tail-aware scheme): Hill's estimator
    γ̂ = (1/k)·Σ_{i≤k} ln(x_(i)/x_(k+1)) over the top k = 100 order
    statistics, and Pickands' γ̂ = ln((x_25 − x_50)/(x_50 −
    x_100))/ln 2 (valid for ANY tail regime, not just Fréchet).
    Per-term ln values are pico-quantized THEN summed (the q356
    discipline); order statistics ride one rank window. Columns: k,
    hill_sum_pico, hill_gamma_pico, pickands_ppm.

    Determinism: exact integer revenue; unique descending rank
    (ties broken by the stable value ordering — equal values give
    identical ln ratios either way); quantize-then-sum; one IEEE
    tree for Pickands.

    Scale: per-customer rollup is the only corpus exchange; the
    rank window orders the customer dimension and the estimators
    read 201 rows of it.
    """
    cust = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("x")
        )
        .filter(F.col("x") > 0)
    )
    ranked = cust.select(
        "x", F.row_number().over(Window.orderBy(F.col("x").desc())).alias("r")
    ).filter(F.col("r") <= 201)
    xk1 = ranked.filter(F.col("r") == 101).select(
        F.col("x").alias("xk1")
    )
    hill = (
        ranked.filter(F.col("r") <= 100)
        .crossJoin(F.broadcast(xk1))
        .agg(
            F.sum(
                F.expr(
                    "CAST(FLOOR(ln(CAST(x AS DOUBLE)"
                    " / CAST(xk1 AS DOUBLE)) * 1000000000000) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("hill_sum_pico")
        )
    )
    picks = (
        ranked.filter(F.col("r").isin(25, 50, 100))
        .groupBy()
        .pivot("r", [25, 50, 100])
        .agg(F.max("x"))
    )
    pick = picks.select(
        F.expr(
            "CAST(FLOOR(ln((CAST(`25` AS DOUBLE) - CAST(`50` AS DOUBLE))"
            " / (CAST(`50` AS DOUBLE) - CAST(`100` AS DOUBLE)))"
            " / ln(2.0) * 1000000) AS BIGINT)"
        ).alias("pickands_ppm")
    )
    return hill.crossJoin(F.broadcast(pick)).select(
        F.lit(100).cast("bigint").alias("k"),
        "hill_sum_pico",
        F.expr("CAST(hill_sum_pico DIV 100 AS BIGINT)").alias(
            "hill_gamma_pico"
        ),
        "pickands_ppm",
    )


# --------------------------------------------------------------------------
# q366: Fleiss' kappa (three raters, binary categories)
# --------------------------------------------------------------------------


@query(
    "q366_fleiss_kappa",
    oracle="""
WITH flags AS (
  SELECT c.c_custkey,
    MAX(CASE WHEN o.o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END)
      AS b1,
    MAX(CASE WHEN o.o_totalprice >= 200000 THEN 1 ELSE 0 END) AS b2,
    CASE WHEN COUNT(o.o_orderkey) >= 5 THEN 1 ELSE 0 END AS b3
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
), units AS (
  SELECT b1 + b2 + b3 AS ones FROM flags
), m AS (
  -- per-unit agreement P_i = [o(o-1) + z(z-1)]/(m(m-1)) with m=3:
  -- numerator x6 summed exactly; chance P_e from the pooled
  -- marginals, closed by cross-multiplication
  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
    CAST(SUM(ones) AS BIGINT) AS n_ones,
    CAST(SUM(ones * (ones - 1) + (3 - ones) * (2 - ones)) AS BIGINT)
      AS agree_x6
  FROM units
)
SELECT n_units, n_ones, agree_x6,
  CAST(CASE WHEN CAST(agree_x6 AS HUGEINT) * 9 * n_units * n_units
      - CAST(6 AS HUGEINT) * n_units * (n_ones * n_ones
        + (3 * n_units - n_ones) * (3 * n_units - n_ones)) >= 0
    THEN (CAST(agree_x6 AS HUGEINT) * 9 * n_units * n_units
      - CAST(6 AS HUGEINT) * n_units * (n_ones * n_ones
        + (3 * n_units - n_ones) * (3 * n_units - n_ones)))
      * 1000000
      // (CAST(54 AS HUGEINT) * n_units * n_units * n_units
        - CAST(6 AS HUGEINT) * n_units * (n_ones * n_ones
          + (3 * n_units - n_ones) * (3 * n_units - n_ones)))
    ELSE -(((CAST(6 AS HUGEINT) * n_units * (n_ones * n_ones
        + (3 * n_units - n_ones) * (3 * n_units - n_ones))
        - CAST(agree_x6 AS HUGEINT) * 9 * n_units * n_units) * 1000000
      + (CAST(54 AS HUGEINT) * n_units * n_units * n_units
        - CAST(6 AS HUGEINT) * n_units * (n_ones * n_ones
          + (3 * n_units - n_ones) * (3 * n_units - n_ones))) - 1)
      // (CAST(54 AS HUGEINT) * n_units * n_units * n_units
        - CAST(6 AS HUGEINT) * n_units * (n_ones * n_ones
          + (3 * n_units - n_ones) * (3 * n_units - n_ones))))
    END AS BIGINT) AS kappa_ppm
FROM m
""",
)
def q366_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over the three binary raters of q344/q354 —
    the third member of the multi-rater agreement family, with the
    CHANCE MODEL that distinguishes it from Krippendorff's alpha
    (Fleiss: raters draw from the pooled marginal; alpha: a
    permutation model — reporting both is how annotation-quality
    audits detect prevalence artifacts, the 'kappa paradox').
    κ = (P̄ − P̄e)/(1 − P̄e) with P̄ from per-unit agreeing pairs
    [o(o−1) + z(z−1)]/6 and P̄e = (p₁² + p₀²) from pooled marginals —
    the whole statistic closes as ONE exact integer fraction:
    κ_ppm = [6·Σagree·9n² ... ] cross-multiplied (see oracle; the
    ×6/×9n² scalings clear every denominator). Columns: n_units,
    n_ones, agree_x6, kappa_ppm.

    Determinism: integer flags and marginals; portable signed floor
    (kappa can be negative).

    Scale: the q344 collapse — one broadcastable join, two
    hash-aggs, a one-row close.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    flags = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority").like("1-%"), 1).otherwise(0)
            ).alias("b1"),
            F.max(
                F.when(F.col("o_totalprice") >= 200000, 1).otherwise(0)
            ).alias("b2"),
            F.when(F.count("o_orderkey") >= 5, 1).otherwise(0).alias("b3"),
        )
    )
    units = flags.select(
        (F.col("b1") + F.col("b2") + F.col("b3")).alias("ones")
    )
    m = units.agg(
        F.count("*").cast("bigint").alias("n_units"),
        F.sum("ones").cast("bigint").alias("n_ones"),
        F.sum(
            F.col("ones") * (F.col("ones") - 1)
            + (3 - F.col("ones")) * (2 - F.col("ones"))
        )
        .cast("bigint")
        .alias("agree_x6"),
    )
    num = (
        "CAST(agree_x6 AS DECIMAL(38,0)) * 9 * n_units * n_units"
        " - CAST(6 AS DECIMAL(38,0)) * n_units * (n_ones * n_ones"
        " + (3 * n_units - n_ones) * (3 * n_units - n_ones))"
    )
    den = (
        "CAST(54 AS DECIMAL(38,0)) * n_units * n_units * n_units"
        " - CAST(6 AS DECIMAL(38,0)) * n_units * (n_ones * n_ones"
        " + (3 * n_units - n_ones) * (3 * n_units - n_ones))"
    )
    return m.select(
        "n_units",
        "n_ones",
        "agree_x6",
        F.expr(
            f"CAST(CASE WHEN {num} >= 0"
            f" THEN ({num}) * 1000000 DIV ({den})"
            f" ELSE -((-({num})) * 1000000 + ({den}) - 1) DIV ({den})"
            f" END AS BIGINT)"
        ).alias("kappa_ppm"),
    )


# --------------------------------------------------------------------------
# q367: Cronbach's alpha (internal-consistency reliability)
# --------------------------------------------------------------------------


@query(
    "q367_cronbach_alpha",
    oracle="""
WITH items AS (
  -- the fixture is TPC-H-ish: (orderkey, linenumber) is NOT unique,
  -- so item score = SUM per slot and completeness = 4 DISTINCT slots
  SELECT l_orderkey,
    COUNT(DISTINCT l_linenumber) AS k_items,
    CAST(SUM(CASE WHEN l_linenumber = 1 THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS x1,
    CAST(SUM(CASE WHEN l_linenumber = 2 THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS x2,
    CAST(SUM(CASE WHEN l_linenumber = 3 THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS x3,
    CAST(SUM(CASE WHEN l_linenumber = 4 THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS x4,
    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS t
  FROM lineitem WHERE l_linenumber <= 4
  GROUP BY l_orderkey HAVING COUNT(DISTINCT l_linenumber) = 4
), m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
    CAST(SUM(x1) AS HUGEINT) AS s1, CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS q1,
    CAST(SUM(x2) AS HUGEINT) AS s2, CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS q2,
    CAST(SUM(x3) AS HUGEINT) AS s3, CAST(SUM(CAST(x3 AS HUGEINT) * x3) AS HUGEINT) AS q3,
    CAST(SUM(x4) AS HUGEINT) AS s4, CAST(SUM(CAST(x4 AS HUGEINT) * x4) AS HUGEINT) AS q4,
    CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS qt,
    CAST(SUM(t) AS HUGEINT) AS st
  FROM items
), v AS (
  SELECT n,
    (n * q1 - s1 * s1) + (n * q2 - s2 * s2)
      + (n * q3 - s3 * s3) + (n * q4 - s4 * s4) AS sv,
    n * qt - st * st AS vt
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_subjects,
  CAST(4 AS BIGINT) AS k_items,
  CAST(sv AS BIGINT) AS sv,
  CAST(vt AS BIGINT) AS vt,
  CAST(CASE WHEN 4 * (vt - sv) >= 0
    THEN 4 * (vt - sv) * 1000000 // (3 * vt)
    ELSE -((-(4 * (vt - sv)) * 1000000 + (3 * vt) - 1) // (3 * vt))
  END AS BIGINT) AS alpha_ppm
FROM v
""",
)
def q367_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over a 4-item instrument: orders filling
    all four of line slots 1-4 are the subjects, item i's score is
    slot i's summed quantity — the internal-consistency reliability statistic
    every annotation/questionnaire pipeline reports next to the
    agreement family (q344/q354/q366). alpha =
    k/(k-1) * (1 - SUM_i var_i / var_total); with population
    variances scaled by n^2 (V_i = n*Q_i - S_i^2) every denominator
    clears and the whole statistic is ONE exact integer fraction:
    alpha_ppm = floor(4*(Vt - SUM Vi)*1e6 / (3*Vt)). Columns:
    n_subjects, k_items, sv, vt, alpha_ppm.

    Determinism: quantities are integral (fixture-verified); exact
    integer moments in DECIMAL(38,0); portable signed floor (alpha
    is negative when items anti-correlate).

    Scale: one exchange on l_orderkey (map-side combinable
    conditional sums), then a one-row close — the q310 ANOVA cost
    family. The k=4 item pivot is a fixed-width conditional
    aggregate, never a per-item shuffle.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_linenumber") <= 4
    )
    q = F.col("l_quantity").cast("bigint")
    # fixture is TPC-H-ish: (orderkey, linenumber) is NOT unique —
    # item score sums its slot's rows; completeness = 4 distinct slots
    items = (
        li.groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_linenumber").alias("k_items"),
            *[
                F.sum(F.when(F.col("l_linenumber") == i, q))
                .cast("bigint")
                .alias(f"x{i}")
                for i in (1, 2, 3, 4)
            ],
            F.sum(q).cast("bigint").alias("t"),
        )
        .filter(F.col("k_items") == 4)
    )
    d = "DECIMAL(38,0)"
    m = items.agg(
        F.count("*").cast("bigint").alias("n"),
        *[
            c
            for i in (1, 2, 3, 4)
            for c in (
                F.sum(f"x{i}").cast("bigint").alias(f"s{i}"),
                F.sum(F.expr(f"CAST(x{i} AS {d}) * x{i}"))
                .cast(d)
                .alias(f"q{i}"),
            )
        ],
        F.sum(F.expr(f"CAST(t AS {d}) * t")).cast(d).alias("qt"),
        F.sum("t").cast("bigint").alias("st"),
    )
    sv = (
        f"((CAST(n AS {d}) * q1 - CAST(s1 AS {d}) * s1)"
        f" + (CAST(n AS {d}) * q2 - CAST(s2 AS {d}) * s2)"
        f" + (CAST(n AS {d}) * q3 - CAST(s3 AS {d}) * s3)"
        f" + (CAST(n AS {d}) * q4 - CAST(s4 AS {d}) * s4))"
    )
    vt = f"(CAST(n AS {d}) * qt - CAST(st AS {d}) * st)"
    return m.select(
        F.col("n").alias("n_subjects"),
        F.lit(4).cast("bigint").alias("k_items"),
        F.expr(f"CAST({sv} AS BIGINT)").alias("sv"),
        F.expr(f"CAST({vt} AS BIGINT)").alias("vt"),
        F.expr(
            _signed_ppm_div(f"(4 * ({vt} - {sv}))", f"(3 * {vt})")
        ).alias("alpha_ppm"),
    )


# --------------------------------------------------------------------------
# q368: Moran's I spatial autocorrelation on the (day, hour) lattice
# --------------------------------------------------------------------------


@query(
    "q368_morans_i",
    oracle="""
WITH cells AS (
  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
    CAST(extract(hour FROM ts) AS INTEGER) AS h,
    CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), tot AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS s
  FROM cells
), cent AS (
  SELECT d, h, CAST(tot.n * x - tot.s AS HUGEINT) AS c
  FROM cells, tot
), den AS (
  SELECT CAST(SUM(c * c) AS HUGEINT) AS scc FROM cent
), pairs AS (
  SELECT a.c * b.c AS p
  FROM cent a JOIN cent b ON a.d = b.d AND a.h + 1 = b.h
  UNION ALL
  SELECT a.c * b.c AS p
  FROM cent a JOIN cent b ON a.d + 1 = b.d AND a.h = b.h
), sp AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS w_pairs,
    CAST(SUM(p) AS HUGEINT) AS spair
  FROM pairs
)
SELECT CAST(tot.n AS BIGINT) AS n_cells,
  CAST(sp.w_pairs AS BIGINT) AS w_pairs,
  CAST(CASE WHEN tot.n * sp.spair >= 0
    THEN tot.n * sp.spair * 1000000 // (sp.w_pairs * den.scc)
    ELSE -((-(tot.n * sp.spair) * 1000000 + (sp.w_pairs * den.scc) - 1)
           // (sp.w_pairs * den.scc))
  END AS BIGINT) AS i_ppm
FROM tot, sp, den
""",
)
def q368_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I spatial autocorrelation of event volume-value over
    the regular (day, hour-of-day) lattice with rook adjacency — the
    canonical "is activity clustered in time-space or random"
    diagnostic; the same operator runs unchanged over any integer
    grid (geohash cells, tile ids). x_cell = SUM(round(1000*value));
    with centered values scaled by n (c_i = n*x_i - S) the n^2
    denominators cancel and I = (n * SUM_adjacent c_i*c_j) /
    (W * SUM c_i^2) closes as one exact integer fraction. W here is
    the UNDIRECTED pair count: the two shift joins (day+1, hour+1)
    each emit every rook edge of their direction family exactly
    once, so the UNION ALL contains each undirected edge once, not
    twice. The convention is harmless either way — numerator and W
    are computed over the SAME pair set, so doubling both (the
    directed convention) leaves I unchanged. Columns: n_cells,
    w_pairs, i_ppm.

    Determinism: value*1000 is integral in the fixture (verified —
    the q313 quantization idiom); all moments exact DECIMAL(38,0);
    portable signed floor (I < 0 = dispersion).

    Scale: the lattice is CALENDAR-bounded (720 cells at both
    fixture SFs — it fills, never grows with the corpus), so the
    neighbor self-joins run on a domain-bounded frame and AQE
    broadcasts them; the only corpus-sized work is the first
    groupBy's exchange, map-side combined. The 1-row total is a
    measured bounded anchor under tools/scale_audit.py.
    """
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.datediff(
                F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01"))
            ).alias("d"),
            F.hour("ts").alias("h"),
            F.round(F.col("value") * 1000).cast("bigint").alias("v"),
        )
    )
    # cells is referenced by tot and cent; cent by den and both
    # shift joins — cut the lineage so the corpus scan runs once
    # (the round-7 exchange-reuse lesson: multi-branch pipelines
    # recompute without a checkpoint)
    cells = (
        ev.groupBy("d", "h")
        .agg(F.sum("v").cast("bigint").alias("x"))
        .transform(checkpoint)
    )
    dd = "DECIMAL(38,0)"
    tot = cells.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    cent = (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "h",
            "n",
            F.expr(f"CAST(CAST(n AS {dd}) * x - s AS {dd})").alias("c"),
        )
        .transform(checkpoint)
    )
    den = cent.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.expr("c * c")).cast(dd).alias("scc"),
    )
    a, b = cent.alias("a"), cent.alias("b")
    horiz = a.join(
        b,
        (F.col("a.d") == F.col("b.d"))
        & (F.col("a.h") + 1 == F.col("b.h")),
    )
    vert = a.join(
        b,
        (F.col("a.d") + 1 == F.col("b.d"))
        & (F.col("a.h") == F.col("b.h")),
    )
    pairs = horiz.select(
        F.expr("a.c * b.c").alias("p")
    ).unionAll(vert.select(F.expr("a.c * b.c").alias("p")))
    sp = pairs.agg(
        F.count("*").cast("bigint").alias("w_pairs"),
        F.sum("p").cast(dd).alias("spair"),
    )
    num = f"(CAST(n AS {dd}) * spair)"
    dnm = f"(CAST(w_pairs AS {dd}) * scc)"
    return (
        den.crossJoin(F.broadcast(sp))
        .select(
            F.col("n").alias("n_cells"),
            "w_pairs",
            F.expr(_signed_ppm_div(num, dnm)).alias("i_ppm"),
        )
    )


# --------------------------------------------------------------------------
# q369: Kendall's W coefficient of concordance
# --------------------------------------------------------------------------


@query(
    "q369_kendalls_w",
    oracle="""
WITH rev AS (
  SELECT r.r_regionkey AS rater, p.p_brand AS obj,
    CAST(SUM(TRY_CAST(l.l_extendedprice * (1 - l.l_discount)
      AS DECIMAL(27,6))) AS DECIMAL(27,6)) AS score
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
), complete AS (
  SELECT obj FROM rev GROUP BY obj
  HAVING COUNT(*) = (SELECT COUNT(DISTINCT rater) FROM rev)
), ranked AS (
  SELECT rater, obj,
    ROW_NUMBER() OVER (PARTITION BY rater ORDER BY score, obj)
      AS rk
  FROM rev WHERE obj IN (SELECT obj FROM complete)
), sums AS (
  SELECT obj, CAST(SUM(rk) AS BIGINT) AS rj FROM ranked GROUP BY obj
), dims AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    (SELECT CAST(COUNT(DISTINCT rater) AS BIGINT) FROM ranked) AS m
  FROM sums
), s AS (
  SELECT dims.m, dims.n,
    CAST(SUM((2 * rj - dims.m * (dims.n + 1))
           * (2 * rj - dims.m * (dims.n + 1))) AS BIGINT) AS s4
  FROM sums, dims
  GROUP BY dims.m, dims.n
)
SELECT m AS m_raters, n AS n_objects, s4,
  CAST(3 * s4 * 1000000 // (m * m * (n * n * n - n)) AS BIGINT)
    AS w_ppm
FROM s
""",
)
def q369_kendalls_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W (coefficient of concordance): do the five region
    markets RANK the 25 part brands the same way by revenue? The
    multi-rater ordinal completion of the agreement family — q332's
    Friedman test asks "do ranks differ"; W measures how strongly m
    complete rankings agree (0 = random, 1 = identical). With the
    deterministic (score, brand) tie-break every rating is a true
    permutation, so W = 12*S / (m^2(n^3-n)) with
    S = SUM_j (R_j - m(n+1)/2)^2 closes exactly over the x4-scaled
    integer S4 = SUM (2R_j - m(n+1))^2 = 4S: w_ppm =
    floor(3*S4*1e6 / (m^2(n^3-n))). Columns: m_raters, n_objects,
    s4, w_ppm.

    Determinism: scores accumulate in DECIMAL(27,6) (the dsum
    discipline — exact and order-independent, so cross-engine ranks
    agree bit-for-bit); brands present in every region (verified at
    all fixture SFs; the completeness filter keeps rankings
    complete if a brand ever goes missing at another SF);
    everything after ranking is integer.

    Scale: the star join reduces to a (region, brand) grid — 125
    rows — before any window runs, so the rank windows are trivial;
    the corpus-sized work is one revenue aggregation riding the
    orders/customer join family (AQE-owned, no hints). The close is
    grid-sized arithmetic.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    rev = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_regionkey").alias("rater"),
            F.col("p_brand").alias("obj"),
        )
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).try_cast("decimal(27,6)")
            )
            .cast("decimal(27,6)")
            .alias("score")
        )
        # the (region, brand) grid is referenced by mrow, complete
        # and ranked — checkpoint so the corpus-scale star join runs
        # once, not four times (35 scans -> 7 in the plan audit)
        .transform(checkpoint)
    )
    # lazy rater count (laziness contract: no job at plan-construction
    # time) — a 1-row frame crossJoined where m is needed
    mrow = rev.agg(F.countDistinct("rater").cast("bigint").alias("m"))
    complete = (
        rev.groupBy("obj")
        .agg(F.count("*").alias("nr"))
        .crossJoin(F.broadcast(mrow))
        .filter(F.col("nr") == F.col("m"))
        .select("obj")
    )
    ranked = rev.join(complete, "obj").select(
        "rater",
        "obj",
        F.row_number()
        .over(
            Window.partitionBy("rater").orderBy("score", "obj")
        )
        .alias("rk"),
    )
    sums = ranked.groupBy("obj").agg(
        F.sum("rk").cast("bigint").alias("rj")
    )
    dims = sums.agg(F.count("*").cast("bigint").alias("n")).crossJoin(
        F.broadcast(mrow)
    )
    s = (
        sums.crossJoin(F.broadcast(dims))
        .groupBy("m", "n")
        .agg(
            F.sum(
                F.expr(
                    "CAST((2 * rj - m * (n + 1)) AS BIGINT)"
                    " * (2 * rj - m * (n + 1))"
                )
            )
            .cast("bigint")
            .alias("s4")
        )
    )
    return s.select(
        F.col("m").alias("m_raters"),
        F.col("n").alias("n_objects"),
        "s4",
        F.expr(
            "CAST(3 * s4 * 1000000 DIV (m * m * (n * n * n - n))"
            " AS BIGINT)"
        ).alias("w_ppm"),
    )
