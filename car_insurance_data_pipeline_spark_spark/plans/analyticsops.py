"""Sequence- and distribution-analytics catalog queries: streak
detection (gaps-and-islands), Benford first-digit audit, Markov
event-transition matrix, first/last-touch attribution, time-weighted
averages, sentence segmentation stats, CUSUM drift detection and
weighted medians.

These extend the reference's analytics surface (its scripts stop at
grouped sums over the star schema — scripts/08_analyze_fact_tables.py
prints plain GROUP BY aggregates) with the sequence/statistical
operators an insurance analytics team layers on the same tables:
fraud screening (Benford), customer-journey analysis (transitions,
attribution, streaks), telematics integration (time-weighted
averages), and monitoring (CUSUM) — all expressed as single
declarative Spark plans, no UDFs.

Cross-engine determinism (the catalog-wide discipline):

- Every ratio is an integer floor division to parts-per-million
  (``x * 1000000 DIV total`` / DuckDB ``//``) — never a raw double
  division that would depend on aggregation order.
- Money goes through ``CAST(ROUND(x * 100) AS BIGINT)`` cents.
- Event ordering is integer epoch-micros with event_id tie-breaks.
- Dates surface as ISO strings or integer epoch days.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from car_insurance_data_pipeline_spark_spark.plans.catalog import query, table
from car_insurance_data_pipeline_spark_spark.plans.relational import (
    events_with_us,
)
from car_insurance_data_pipeline_spark_spark.session import (
    checkpoint,
    driver_frame,
)

# ---------------------------------------------------------------------------
# q162 gaps-and-islands: consecutive-day order streaks
# ---------------------------------------------------------------------------


@query(
    "q162_gaps_islands",
    oracle="""
WITH d AS (
  SELECT DISTINCT o_custkey,
    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_nr
  FROM orders
), g AS (
  SELECT o_custkey, day_nr,
    day_nr - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY day_nr)
      AS grp
  FROM d
), isl AS (
  SELECT o_custkey, grp, COUNT(*) AS len
  FROM g GROUP BY o_custkey, grp
)
SELECT o_custkey,
  CAST(COUNT(*) AS BIGINT) AS n_islands,
  CAST(MAX(len) AS BIGINT) AS max_streak,
  CAST(SUM(len) AS BIGINT) AS active_days
FROM isl
GROUP BY o_custkey
HAVING MAX(len) >= 2
""",
)
def q162_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per customer, find runs of CONSECUTIVE order
    days (the classic streak/tenure pattern — in insurance terms,
    uninterrupted daily activity windows). The island key is
    ``day_nr - row_number()``: constant exactly while days advance by
    1, so one groupBy turns runs into islands. Returns customers with
    at least one ≥2-day streak: island count, longest streak, total
    distinct active days.

    Determinism: day numbers are integer epoch days (Spark
    ``unix_date`` == DuckDB ``date_diff('day', epoch, d)``), the
    window order key ``day_nr`` is unique within a customer after the
    DISTINCT, and every output is an exact integer.

    Scale: one exchange on o_custkey serves the distinct, the window
    and both groupBys (same key — Catalyst reuses the partitioning;
    the dedup and island aggregations are partial before shuffle).
    No joins, no skew risk beyond a single customer's order history.
    """
    d = (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.unix_date(F.col("o_orderdate").cast("date")).alias("day_nr"),
        )
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("day_nr")
    g = d.withColumn("grp", F.col("day_nr") - F.row_number().over(w))
    isl = g.groupBy("o_custkey", "grp").agg(F.count("*").alias("len"))
    return (
        isl.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_islands"),
            F.max("len").alias("max_streak"),
            F.sum("len").alias("active_days"),
        )
        .filter(F.col("max_streak") >= 2)
    )


# ---------------------------------------------------------------------------
# q163 Benford first-digit audit
# ---------------------------------------------------------------------------

# log10(1 + 1/d) in parts-per-million, rounded — inlined as exact
# integer literals so neither engine's libm rounding can differ.
_BENFORD_PPM = {
    1: 301030,
    2: 176091,
    3: 124939,
    4: 96910,
    5: 79181,
    6: 66947,
    7: 57992,
    8: 51153,
    9: 45757,
}

_BENFORD_SQL_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
) + " END"


@query(
    "q163_benford_digits",
    oracle=f"""
WITH t AS (
  SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1
), c AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS observed FROM t GROUP BY digit
), ct AS (
  SELECT digit, observed, SUM(observed) OVER () AS total FROM c
)
SELECT digit, observed,
  CAST(observed * 1000000 // total AS BIGINT) AS obs_ppm,
  CAST({_BENFORD_SQL_CASE} AS BIGINT) AS exp_ppm,
  CAST(observed * 1000000 // total - ({_BENFORD_SQL_CASE}) AS BIGINT)
    AS dev_ppm
FROM ct
""",
)
def q163_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order amounts — the
    classic forensic screen for fabricated monetary data (an
    insurance-fraud staple). Per leading digit: observed count,
    observed parts-per-million, the Benford expectation, and the
    deviation.

    Determinism: the leading digit comes from FLOOR→BIGINT→string
    (CAST of a double to BIGINT would ROUND in DuckDB but TRUNCATE in
    Spark — FLOOR first makes both exact); proportions are integer
    floor divisions to ppm; the Benford expectations are inlined
    integer literals (computing log10 in each engine could differ in
    the last ulp and flip a floor).

    Scale: one 9-group partial aggregate; the total is a window over
    the aggregated 9-row frame (a global-agg branch would duplicate
    the fact scan in the plan). No full shuffle, no skew.
    """
    t = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor(F.col("o_totalprice")).cast("bigint").cast("string"),
                1,
                1,
            )
            .cast("bigint")
            .alias("digit")
        )
    )
    c = t.groupBy("digit").agg(F.count("*").alias("observed"))
    ct = c.withColumn(
        "total", F.sum("observed").over(Window.partitionBy())
    )
    exp_ppm = F.create_map(
        *[F.lit(x) for dp in _BENFORD_PPM.items() for x in dp]
    )[F.col("digit")].cast("bigint")
    obs_ppm = F.expr("observed * 1000000 div total").cast("bigint")
    return ct.select(
        "digit",
        "observed",
        obs_ppm.alias("obs_ppm"),
        exp_ppm.alias("exp_ppm"),
        (obs_ppm - exp_ppm).cast("bigint").alias("dev_ppm"),
    )


# ---------------------------------------------------------------------------
# q164 Markov transition matrix over event sequences
# ---------------------------------------------------------------------------


@query(
    "q164_markov_transitions",
    oracle="""
WITH s AS (
  SELECT event_type,
    LEAD(event_type) OVER (
      PARTITION BY user_id ORDER BY epoch_us(ts), event_id
    ) AS next_type
  FROM events
), p AS (
  SELECT event_type AS from_type, next_type AS to_type,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM s WHERE next_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
    AS ppm
FROM p
""",
)
def q164_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every (from_type → to_type) pair, the transition
    count and row-normalized probability in ppm — the
    customer-journey model behind next-action prediction and
    anomaly scoring on clickstreams.

    Determinism: sequence order is integer epoch-micros with the
    unique event_id tie-break; probabilities are integer floor
    divisions to ppm (never a double ratio).

    Scale: one exchange on user_id for the lag window (sequences
    stay within a partition), then a 25-cell aggregate; row totals
    come from a window over the ALREADY-AGGREGATED 25-row frame —
    not a self-join back to the pair counts, which would duplicate
    the scan+window subtree in the plan and read the events twice.
    """
    ev = events_with_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    s = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    p = s.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    row_n = F.sum("n").over(Window.partitionBy("from_type"))
    return p.withColumn("row_n", row_n).select(
        "from_type",
        "to_type",
        "n",
        F.expr("n * 1000000 div row_n").cast("bigint").alias("ppm"),
    )


# ---------------------------------------------------------------------------
# q165 first-touch / last-touch attribution matrix
# ---------------------------------------------------------------------------


@query(
    "q165_attribution_matrix",
    oracle="""
WITH w AS (
  SELECT user_id, event_type,
    ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY epoch_us(ts), event_id
    ) AS rn_a,
    ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC
    ) AS rn_d
  FROM events
), f AS (
  SELECT user_id,
    MAX(CASE WHEN rn_a = 1 THEN event_type END) AS first_type,
    MAX(CASE WHEN rn_d = 1 THEN event_type END) AS last_type
  FROM w GROUP BY user_id
)
SELECT first_type, last_type, CAST(COUNT(*) AS BIGINT) AS n_users
FROM f GROUP BY first_type, last_type
""",
)
def q165_attribution_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch × last-touch attribution matrix: for every user,
    the entry event type and the exit event type of their whole
    journey, aggregated into a |types|² matrix — the marketing-
    attribution shape ("which acquisition channel ends in purchase").

    Determinism: both endpoints are picked by row_number over
    (epoch-micros, event_id) — a total order, so first/last are
    unique; counts are exact integers.

    Scale: ONE exchange on user_id feeds both window passes (same
    partitioning, opposite sort — Spark sorts within partitions
    without a second shuffle), the per-user collapse pre-aggregates
    map-side, and the final matrix is ≤ |types|² rows.
    """
    ev = events_with_us(spark, sf_dir)
    wa = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wd = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    w = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    f = w.groupBy("user_id").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("event_type"))).alias(
            "first_type"
        ),
        F.max(F.when(F.col("rn_d") == 1, F.col("event_type"))).alias(
            "last_type"
        ),
    )
    return f.groupBy("first_type", "last_type").agg(
        F.count("*").alias("n_users")
    )


# ---------------------------------------------------------------------------
# q166 time-weighted average (telematics-style)
# ---------------------------------------------------------------------------


@query(
    "q166_time_weighted_avg",
    oracle="""
WITH s AS (
  SELECT user_id,
    CAST(ROUND(value * 100) AS BIGINT) AS cents,
    epoch_us(ts) AS us,
    LEAD(epoch_us(ts)) OVER (
      PARTITION BY user_id ORDER BY epoch_us(ts), event_id
    ) AS next_us
  FROM events WHERE value IS NOT NULL
), seg AS (
  SELECT user_id, cents, (next_us - us) // 1000000 AS dt_s
  FROM s WHERE next_us IS NOT NULL
), agg AS (
  SELECT user_id,
    CAST(SUM(cents * dt_s) AS BIGINT) AS wsum_cent_s,
    CAST(SUM(dt_s) AS BIGINT) AS total_s
  FROM seg GROUP BY user_id
)
SELECT user_id, wsum_cent_s, total_s,
  CAST(wsum_cent_s // total_s AS BIGINT) AS twa_cents
FROM agg WHERE total_s > 0
""",
)
def q166_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of the event ``value`` per user: each
    reading is held until the next one (step interpolation), weighted
    by its holding duration in whole seconds — the correct average
    for irregularly-sampled telemetry (a plain AVG over-weights burst
    periods; the reference's telematics table has exactly this
    sampling pattern).

    Determinism: readings quantize to cents, durations to whole
    seconds (floored integer division of an epoch-micros difference
    — both engines floor here since durations are non-negative), so
    the weighted sum is an exact integer sum — order-independent —
    and the final average is an integer floor division.

    Scale: one exchange on user_id for the lead window; the
    aggregation reuses that partitioning and pre-aggregates map-side.
    int64 headroom: cents ≤ ~5e4, dt_s bounded by the fixture's time
    span (< 1e8 s), per-user sums < 1e13 · rows — far under 2^63.
    """
    ev = events_with_us(spark, sf_dir).filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    s = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.col("ts_us").alias("us"),
        F.lead("ts_us").over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    seg = s.select(
        "user_id",
        "cents",
        F.expr("(next_us - us) div 1000000").alias("dt_s"),
    )
    agg = seg.groupBy("user_id").agg(
        F.sum(F.col("cents") * F.col("dt_s")).alias("wsum_cent_s"),
        F.sum("dt_s").alias("total_s"),
    )
    return agg.filter(F.col("total_s") > 0).select(
        "user_id",
        "wsum_cent_s",
        "total_s",
        F.expr("wsum_cent_s div total_s").cast("bigint").alias("twa_cents"),
    )


# ---------------------------------------------------------------------------
# q167 sentence segmentation stats
# ---------------------------------------------------------------------------


@query(
    "q167_sentence_stats",
    oracle="""
WITH s AS (
  SELECT doc_id, TRIM(seg) AS sent
  FROM documents,
    UNNEST(regexp_split_to_array(text, '[.!?]+')) AS u(seg)
  WHERE text IS NOT NULL
), k AS (
  SELECT doc_id, LENGTH(sent) AS n_chars
  FROM s WHERE LENGTH(sent) > 0
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_sentences,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS avg_chars,
  CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM k GROUP BY doc_id
""",
)
def q167_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation + per-document sentence statistics:
    split on terminal-punctuation runs, trim, drop empties, report
    sentence count and char-length stats — the text-quality signal
    LLM-corpus filters key on (degenerate docs have 1 huge "sentence"
    or hundreds of fragments). Complements q31's token metrics at the
    sentence granularity.

    Determinism: the split pattern ``[.!?]+`` is a character class —
    identical under Java regex and RE2 (no lookbehind, which RE2
    lacks); lengths are codepoint counts in both engines; the mean is
    an integer floor division.

    Scale: pure narrow pipeline — split/filter/explode then a
    partial-aggregated groupBy on doc_id; the explode multiplies rows
    before the exchange, but Spark's partial aggregation collapses
    per-doc stats map-side, so the shuffle carries one row per doc.
    """
    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    s = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), r"[.!?]+")).alias("seg"),
    ).select("doc_id", F.length(F.trim(F.col("seg"))).alias("n_chars"))
    k = s.filter(F.col("n_chars") > 0)
    return k.groupBy("doc_id").agg(
        F.count("*").alias("n_sentences"),
        F.sum("n_chars").alias("total_chars"),
        F.expr("sum(n_chars) div count(*)").cast("bigint").alias(
            "avg_chars"
        ),
        F.max("n_chars").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# q168 CUSUM drift detection on daily revenue
# ---------------------------------------------------------------------------


@query(
    "q168_cusum_drift",
    oracle="""
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS cents
  FROM orders GROUP BY 1
), dm AS (
  SELECT day, cents,
    SUM(cents) OVER () // COUNT(*) OVER () AS mean_cents
  FROM daily
), c AS (
  SELECT day, cents,
    CAST(SUM(cents - mean_cents) OVER (ORDER BY day) AS BIGINT)
      AS cusum_cents,
    mean_cents
  FROM dm
)
SELECT day, cents, cusum_cents,
  CASE WHEN ABS(cusum_cents) > 20 * mean_cents THEN 1 ELSE 0 END
    AS drift_flag
FROM c
""",
)
def q168_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM (cumulative-sum) drift detector over daily revenue: the
    running sum of deviations from the global daily mean, flagged
    when it exceeds 20× the mean — the change-point monitor that
    catches a sustained level shift EWMA (q153) smooths over and the
    chi-square snapshot test (q157) can't see at all. Together the
    three form the monitoring triad.

    Determinism: daily revenue is an exact integer cents sum, the
    mean is an integer floor division, the running sum is an integer
    window sum ordered by the unique day string (ISO dates sort
    lexicographically = chronologically), and the flag is integer
    arithmetic.

    Scale: the daily rollup partial-aggregates map-side (one exchange,
    |days| rows out); the running sum is a single-partition window
    over |days| rows — bounded by the calendar, not the data (≈3.6k
    rows for a 10-year fixture), which is the standard and correct
    shape for a global time-ordered scan statistic.
    """
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderdate").cast("date").cast("string").alias("day")
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("cents")
        )
    )
    # mean via a window over the aggregated |days|-row frame — a
    # global-agg branch + cross join would duplicate the orders scan
    dm = daily.select(
        "day",
        "cents",
        F.expr("sum(cents) over () div count(*) over ()").alias(
            "mean_cents"
        ),
    )
    c = dm.withColumn(
        "cusum_cents",
        F.sum(F.col("cents") - F.col("mean_cents")).over(
            Window.orderBy("day")
        ),
    )
    return c.select(
        "day",
        "cents",
        F.col("cusum_cents").cast("bigint").alias("cusum_cents"),
        F.when(
            F.abs(F.col("cusum_cents")) > 20 * F.col("mean_cents"), 1
        )
        .otherwise(0)
        .alias("drift_flag"),
    )


# ---------------------------------------------------------------------------
# q169 weighted median
# ---------------------------------------------------------------------------


@query(
    "q169_weighted_median",
    oracle="""
WITH li AS (
  SELECT l_returnflag AS flag,
    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents,
    CAST(l_quantity AS BIGINT) AS w,
    l_orderkey, l_linenumber
  FROM lineitem
), c AS (
  SELECT flag, price_cents,
    SUM(w) OVER (
      PARTITION BY flag
      ORDER BY price_cents, l_orderkey, l_linenumber
    ) AS cw,
    SUM(w) OVER (PARTITION BY flag) AS tw
  FROM li
)
SELECT flag,
  CAST(MIN(price_cents) AS BIGINT) AS wmedian_cents,
  CAST(MIN(tw) AS BIGINT) AS total_weight
FROM c WHERE 2 * cw >= tw
GROUP BY flag
""",
)
def q169_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the smallest
    price at which the running quantity weight reaches half the
    total — the robust "typical traded price" a plain median (row-
    weighted) misstates when line sizes vary. Extends the exact-
    percentile family (q46, q149) to weighted quantiles.

    Determinism: prices quantize to cents, weights are exact
    integers (fixture quantities are whole numbers), the cumulative
    window orders by (price, orderkey, linenumber) — a total order —
    and the crossing row is picked by MIN, so ties are immaterial.

    Scale: one exchange on flag feeds both windows and the final
    aggregate. The per-flag sort is the inherent cost of an EXACT
    weighted quantile (same contract as q46); q92's sketch is the
    documented approximate scale path when per-group cardinality
    explodes.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("price_cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    wc = (
        Window.partitionBy("flag")
        .orderBy("price_cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("flag")
    c = li.select(
        "flag",
        "price_cents",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    return (
        c.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("price_cents").alias("wmedian_cents"),
            F.min("tw").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# q170 revenue concentration (Lorenz deciles)
# ---------------------------------------------------------------------------


@query(
    "q170_revenue_concentration",
    oracle="""
WITH pc AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey,
    CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), d AS (
  SELECT segment, cents,
    NTILE(10) OVER (
      PARTITION BY segment ORDER BY cents, o_custkey
    ) AS decile
  FROM pc
), agg AS (
  SELECT segment, decile,
    CAST(COUNT(*) AS BIGINT) AS n_cust,
    CAST(SUM(cents) AS BIGINT) AS dec_cents
  FROM d GROUP BY segment, decile
), cum AS (
  SELECT segment, decile, n_cust, dec_cents,
    CAST(SUM(dec_cents) OVER (
      PARTITION BY segment ORDER BY decile
    ) AS BIGINT) AS cum_cents,
    CAST(SUM(dec_cents) OVER (PARTITION BY segment) AS BIGINT)
      AS tot_cents
  FROM agg
)
SELECT segment, decile, n_cust, dec_cents,
  CAST(FLOOR(CAST(dec_cents AS DOUBLE) / CAST(tot_cents AS DOUBLE)
             * 1000000) AS BIGINT) AS share_ppm,
  CAST(FLOOR(CAST(cum_cents AS DOUBLE) / CAST(tot_cents AS DOUBLE)
             * 1000000) AS BIGINT) AS cum_share_ppm
FROM cum
""",
)
def q170_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration audit (Lorenz curve by deciles): rank
    each segment's customers into revenue deciles and report each
    decile's share and cumulative share of segment revenue — the
    concentration profile behind Gini/Pareto ("top decile carries
    X% of premium volume") that portfolio risk reviews start from.

    Determinism: per-customer revenue is an exact integer cents sum;
    NTILE runs over the total order (cents, custkey); shares are
    FLOOR of a double division of two exact int64s — int64→double
    conversion and IEEE divide/multiply are correctly rounded and
    identical in both engines, and the expression tree is written
    identically in both dialects.

    Scale: one exchange on custkey for the rollup (the
    customer-side join broadcasts), one on segment for the decile
    window — the per-segment sort is the inherent cost of exact
    quantile ranks (same contract as q46's exact percentiles; q92's
    sketch is the approximate scale path). Decile aggregates are 10
    rows per segment.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    pc = (
        o.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
                "cents"
            ),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
        .join(c, "o_custkey")
    )
    d = pc.withColumn(
        "decile",
        F.ntile(10).over(
            Window.partitionBy("segment").orderBy("cents", "o_custkey")
        ),
    )
    agg = d.groupBy("segment", "decile").agg(
        F.count("*").alias("n_cust"),
        F.sum("cents").alias("dec_cents"),
    )
    wcum = Window.partitionBy("segment").orderBy("decile")
    wtot = Window.partitionBy("segment")
    cum = agg.select(
        "segment",
        "decile",
        "n_cust",
        "dec_cents",
        F.sum("dec_cents").over(wcum).alias("cum_cents"),
        F.sum("dec_cents").over(wtot).alias("tot_cents"),
    )
    share = F.floor(
        F.col("dec_cents").cast("double")
        / F.col("tot_cents").cast("double")
        * 1000000
    ).cast("bigint")
    cshare = F.floor(
        F.col("cum_cents").cast("double")
        / F.col("tot_cents").cast("double")
        * 1000000
    ).cast("bigint")
    return cum.select(
        "segment",
        "decile",
        "n_cust",
        "dec_cents",
        share.alias("share_ppm"),
        cshare.alias("cum_share_ppm"),
    )


# ---------------------------------------------------------------------------
# q171 association rules (market-basket support/confidence/lift)
# ---------------------------------------------------------------------------


@query(
    "q171_association_rules",
    oracle="""
WITH it AS (
  SELECT DISTINCT user_id,
    epoch_us(ts) // 86400000000 AS day_nr,
    event_type
  FROM events
), nb AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets
  FROM (SELECT DISTINCT user_id, day_nr FROM it)
), sing AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM it GROUP BY event_type
), pr AS (
  SELECT a.event_type AS item_a, b.event_type AS item_b,
    CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM it a JOIN it b
    ON a.user_id = b.user_id AND a.day_nr = b.day_nr
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT item_a, item_b, n_ab,
  CAST(FLOOR(CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE)
             * 1000000) AS BIGINT) AS support_ppm,
  CAST(FLOOR(CAST(n_ab AS DOUBLE) / CAST(sa.n AS DOUBLE)
             * 1000000) AS BIGINT) AS confidence_ppm,
  CAST(FLOOR(CAST(n_ab AS DOUBLE) * CAST(n_baskets AS DOUBLE)
             / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE))
             * 1000000) AS BIGINT) AS lift_ppm
FROM pr
JOIN sing sa ON pr.item_a = sa.event_type
JOIN sing sb ON pr.item_b = sb.event_type
CROSS JOIN nb
""",
)
def q171_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over daily event baskets: for every
    unordered event-type pair co-occurring in one (user, day) basket,
    the support, confidence (a→b) and lift in ppm — the
    market-basket analysis behind cross-sell ("users who file a
    claim same-day also call support") and feature co-occurrence
    audits.

    Determinism: baskets and counts are exact integers (day number =
    floored epoch-micros division); the three ratios are FLOOR over
    doubles built from exact int64s with identical expression trees
    in both dialects (IEEE divide/multiply are correctly rounded, so
    bit-identical cross-engine).

    Scale: the distinct item set is one exchange on (user, day); the
    pair self-join keys on the SAME (user, day) hash partitioning
    (co-located, no second shuffle of the big side) and each
    basket's pairs are bounded by |event types|² — never a cross
    join across baskets. Singles and the basket count are tiny
    broadcast sides. The item frame feeds FOUR plan consumers (both
    self-join sides, singles, basket count), so it is lazily
    localCheckpoint'ed: the events scan + distinct runs once and the
    three small aggregates read the materialized blocks instead of
    re-deriving the subtree (the classic multi-branch recompute).
    """
    ev = events_with_us(spark, sf_dir)
    it = ev.select(
        "user_id",
        F.expr("ts_us div 86400000000").alias("day_nr"),
        "event_type",
    ).distinct()
    it = checkpoint(it)
    nb = (
        it.select("user_id", "day_nr")
        .distinct()
        .agg(F.count("*").alias("n_baskets"))
    )
    sing = it.groupBy("event_type").agg(F.count("*").alias("n"))
    a = it.alias("a")
    b = it.alias("b")
    pr = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day_nr") == F.col("b.day_nr"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("item_a"),
            F.col("b.event_type").alias("item_b"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    sa = sing.select(F.col("event_type").alias("item_a"), F.col("n").alias("na"))
    sb = sing.select(F.col("event_type").alias("item_b"), F.col("n").alias("nb"))
    j = (
        pr.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .join(F.broadcast(nb))
    )
    ppm = lambda expr: F.floor(expr * 1000000).cast("bigint")  # noqa: E731
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return j.select(
        "item_a",
        "item_b",
        "n_ab",
        ppm(dbl("n_ab") / dbl("n_baskets")).alias("support_ppm"),
        ppm(dbl("n_ab") / dbl("na")).alias("confidence_ppm"),
        F.floor(
            dbl("n_ab") * dbl("n_baskets") / (dbl("na") * dbl("nb")) * 1000000
        )
        .cast("bigint")
        .alias("lift_ppm"),
    )


# ---------------------------------------------------------------------------
# q172 RFM segmentation
# ---------------------------------------------------------------------------


@query(
    "q172_rfm_segments",
    oracle="""
WITH pc AS (
  SELECT o_custkey,
    MAX(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
      AS last_day,
    CAST(COUNT(*) AS BIGINT) AS freq,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS cents
  FROM orders GROUP BY o_custkey
), pg AS (
  SELECT o_custkey, freq, cents,
    MAX(last_day) OVER () - last_day AS recency_days
  FROM pc
), s AS (
  SELECT o_custkey, recency_days, freq, cents,
    NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
    NTILE(5) OVER (ORDER BY freq, o_custkey) AS f_score,
    NTILE(5) OVER (ORDER BY cents, o_custkey) AS m_score
  FROM pg
)
SELECT r_score, f_score, m_score,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(cents) AS BIGINT) AS segment_cents
FROM s GROUP BY r_score, f_score, m_score
""",
)
def q172_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation: score every
    customer 1-5 on each dimension by exact quintile rank and report
    the segment grid with customer counts and revenue — the standard
    customer-value stratification (score 555 = recent, frequent,
    high-spend).

    Determinism: recency is integer epoch-day arithmetic against the
    in-data global max (no wall clock — Date.now would break
    cross-engine and re-run stability); every NTILE orders by a
    total order with the custkey tie-break; outputs are exact
    integers.

    Scale: one exchange on custkey for the rollup. The three
    unpartitioned NTILE windows are the inherent single-sort cost of
    EXACT global quantile ranks (the q46 contract — at billions of
    customers swap in q92's sketch-based buckets); all three windows
    share one sort-free exchange since Spark plans them as
    consecutive window operators over the same single partition.
    """
    pc = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.unix_date(F.col("o_orderdate").cast("date"))
            ).alias("last_day"),
            F.count("*").alias("freq"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("cents"),
        )
    )
    # the recency anchor rides the SAME single-partition window pass
    # the NTILEs need anyway — a global-agg branch + broadcast join
    # would duplicate the orders scan+rollup subtree in the plan
    s = pc.withColumn(
        "recency_days",
        F.max("last_day").over(Window.partitionBy()) - F.col("last_day"),
    )
    s = (
        s.withColumn(
            "r_score",
            F.ntile(5).over(
                Window.orderBy(
                    F.col("recency_days").desc(), F.col("o_custkey")
                )
            ),
        )
        .withColumn(
            "f_score",
            F.ntile(5).over(Window.orderBy("freq", "o_custkey")),
        )
        .withColumn(
            "m_score",
            F.ntile(5).over(Window.orderBy("cents", "o_custkey")),
        )
    )
    return s.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").alias("segment_cents"),
    )


# ---------------------------------------------------------------------------
# q173 contamination scoring (ratio variant of q81's membership scrub)
# ---------------------------------------------------------------------------


@query(
    "q173_contamination_score",
    oracle="""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS s
  FROM arr, unnest(range(1, len(a) - 1)) AS r(i)
), bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id < 20
), sc AS (
  SELECT sh.doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_shingles,
    CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS n_shared
  FROM sh LEFT JOIN bench b ON sh.s = b.s
  WHERE sh.doc_id >= 20
  GROUP BY sh.doc_id
)
SELECT doc_id, n_shingles, n_shared,
  CAST(n_shared * 1000000 // n_shingles AS BIGINT) AS score_ppm
FROM sc
""",
)
def q173_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination SCORING: per training document, the fraction of
    its distinct 3-gram shingles that appear anywhere in the held-out
    benchmark set (docs 0-19 as the fixture stand-in), in ppm.
    Extends q81's binary membership scrub to the graded overlap
    ratio LLM pipelines use for soft thresholds and contamination
    dashboards — and unlike q81, zero-overlap docs appear with
    score 0 (left join, so the clean set needs no anti-join).

    Determinism: shingles are the shared audited string builder's
    output on both engines; counts are exact integers and the score
    is an integer floor division (per-doc shingle counts are bounded
    by document length, so ``n * 1e6`` can't overflow int64).

    Scale: the benchmark shingle set broadcasts (tiny by contract —
    same shape as q81); the corpus streams through one broadcast
    LEFT probe and one partial-agg'd groupBy on doc_id. No corpus
    self-join anywhere.
    """
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        positioned_shingles,
    )

    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") >= 20)
    benchmark = d.filter(F.col("doc_id") < 20)
    bench = (
        positioned_shingles(benchmark, "doc_id", "text", 3)
        .select("s")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    sh = positioned_shingles(corpus, "doc_id", "text", 3).dropDuplicates(
        ["doc_id", "s"]
    )
    sc = (
        sh.join(F.broadcast(bench), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_shared"),
        )
    )
    return sc.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        F.expr("n_shared * 1000000 div n_shingles")
        .cast("bigint")
        .alias("score_ppm"),
    )


# ---------------------------------------------------------------------------
# q174 Count-Min sketch (exactly reproducible: md5-derived buckets)
# ---------------------------------------------------------------------------


@query(
    "q174_countmin_sketch",
    oracle="""
WITH li AS (
  SELECT CAST(l_partkey AS VARCHAR) AS pk FROM lineitem
), sk AS (
  SELECT s.seed, substring(md5(s.seed || ':' || li.pk), 1, 2) AS bucket,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM li CROSS JOIN (VALUES ('a'), ('b'), ('c')) s(seed)
  GROUP BY 1, 2
), exact AS (
  SELECT pk, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM li GROUP BY pk
), top AS (
  SELECT pk, exact_n FROM exact
  ORDER BY exact_n DESC, CAST(pk AS BIGINT) LIMIT 20
), est AS (
  SELECT t.pk, t.exact_n, CAST(MIN(sk.n) AS BIGINT) AS cm_est
  FROM top t JOIN sk
    ON sk.bucket = substring(md5(sk.seed || ':' || t.pk), 1, 2)
  GROUP BY t.pk, t.exact_n
)
SELECT CAST(pk AS BIGINT) AS partkey, exact_n, cm_est,
  CAST(cm_est - exact_n AS BIGINT) AS overcount
FROM est
""",
)
def q174_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation, exactly reproducible
    cross-engine: 3 hash rows × 256 buckets keyed by
    ``substring(md5(seed:item),1,2)`` (md5 hex is identical in both
    engines — the catalog's md5-routing discipline, so even the
    sketch's collision pattern is deterministic). Reports the true
    top-20 part keys with exact count, CM estimate and the
    overcount — demonstrating the sketch's one-sided error
    (cm_est ≥ exact always).

    Complements the sketch family: q47 (HLL distinct), q92 (quantile
    sketch), q138 (Misra-Gries heavy hitters) — CM is the
    mergeable point-frequency sketch a 1000-executor pipeline uses
    when the key space is too big for exact counting.

    Scale: the sketch build is one partial-agg'd exchange collapsing
    to 768 cells regardless of input size (each task pre-aggregates
    its 768-cell sketch map-side — this IS the sketch's merge
    property); the probe joins the broadcast 768-row sketch to the
    top-k rows. The exact top-20 here is fixture-verifiable ground
    truth (TakeOrdered, no global sort); production uses q138 to
    find candidates and CM to score them.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("string").alias("pk")
    )
    seeds = F.array(F.lit("a"), F.lit("b"), F.lit("c"))
    sk = (
        li.select(F.explode(seeds).alias("seed"), "pk")
        .select(
            "seed",
            F.substring(
                F.md5(F.concat(F.col("seed"), F.lit(":"), F.col("pk"))), 1, 2
            ).alias("bucket"),
        )
        .groupBy("seed", "bucket")
        .agg(F.count("*").alias("n"))
    )
    exact = li.groupBy("pk").agg(F.count("*").alias("exact_n"))
    top = exact.orderBy(
        F.col("exact_n").desc(), F.col("pk").cast("bigint")
    ).limit(20)
    # explode the seeds on the 20-row probe side too, so the probe
    # is an EQUI join on (seed, bucket) — a BroadcastHashJoin — not
    # a nested-loop on a mixed-side bucket expression
    probe = top.select(
        "pk", "exact_n", F.explode(seeds).alias("seed")
    ).withColumn(
        "bucket",
        F.substring(
            F.md5(F.concat(F.col("seed"), F.lit(":"), F.col("pk"))), 1, 2
        ),
    )
    est = (
        probe.join(F.broadcast(sk), ["seed", "bucket"])
        .groupBy("pk", "exact_n")
        .agg(F.min("n").alias("cm_est"))
    )
    return est.select(
        F.col("pk").cast("bigint").alias("partkey"),
        "exact_n",
        "cm_est",
        (F.col("cm_est") - F.col("exact_n")).cast("bigint").alias(
            "overcount"
        ),
    )


# ---------------------------------------------------------------------------
# q175 readability scoring (Flesch reading ease, micro-quantized)
# ---------------------------------------------------------------------------


@query(
    "q175_readability",
    oracle="""
WITH m AS (
  SELECT doc_id,
    CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+'))
      AS BIGINT) AS n_words,
    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
      AS BIGINT) AS n_sents,
    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      AS BIGINT) AS n_vgroups
  FROM documents WHERE text IS NOT NULL AND trim(text) != ''
)
SELECT doc_id, n_words, n_sents, n_vgroups,
  CAST(FLOOR((CAST(206.835 AS DOUBLE)
    - CAST(1.015 AS DOUBLE)
      * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
    - CAST(84.6 AS DOUBLE)
      * (CAST(n_vgroups AS DOUBLE) / CAST(n_words AS DOUBLE))
  ) * 1000000) AS BIGINT) AS flesch_micro
FROM m WHERE n_words > 0
""",
)
def q175_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring per document, with vowel-group
    runs as the syllable proxy (the standard dictionary-free
    approximation) — the readability axis of LLM corpus quality
    filtering, complementing q31's surface metrics, q86/q96's LM
    scores and q175's sibling q167 at the sentence granularity.

    Determinism: word/sentence/vowel-group counts are exact integers
    from character-class regexes (identical under Java regex and
    RE2 — no lookaround); the Flesch formula is evaluated over
    doubles derived from those integers with an identically-written
    expression tree — IEEE divide/multiply/subtract are correctly
    rounded so both engines produce the same double — then floored
    to integer micro-units. The constants are written as explicit
    DOUBLE casts in the oracle because DuckDB parses bare decimal
    literals as DECIMAL (1-ulp parity trap, see q153's note).

    Scale: pure narrow map — three regex counters per row, no
    shuffle at all (the profile every quality-filter pass wants:
    score inline during the scan, filter immediately, never
    materialize).
    """
    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    m = docs.select(
        "doc_id",
        F.size(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).cast("bigint").alias("n_words"),
        F.greatest(
            F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)),
            F.lit(1),
        ).cast("bigint").alias("n_sents"),
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
        ).cast("bigint").alias("n_vgroups"),
    ).filter(F.col("n_words") > 0)
    score = F.floor(
        (
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words").cast("double") / F.col("n_sents").cast("double"))
            - F.lit(84.6)
            * (
                F.col("n_vgroups").cast("double")
                / F.col("n_words").cast("double")
            )
        )
        * 1000000
    ).cast("bigint")
    return m.select(
        "doc_id", "n_words", "n_sents", "n_vgroups",
        score.alias("flesch_micro"),
    )


# ---------------------------------------------------------------------------
# q177 Poisson-bootstrap confidence interval
# ---------------------------------------------------------------------------

# Poisson(1) CDF cut points scaled to 2^32, as 8-hex-digit strings:
# an md5 prefix compared LEXICOGRAPHICALLY against these equals a
# numeric uniform draw compared against the CDF (lowercase hex
# orders like its value; both engines emit lowercase md5).
_POIS_CUTS = ["5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797", "ff1025f5"]

_POIS_CASE = (
    "CASE "
    + " ".join(
        f"WHEN h < '{c}' THEN {i}" for i, c in enumerate(_POIS_CUTS)
    )
    + " ELSE 5 END"
)


@query(
    "q177_bootstrap_ci",
    oracle=f"""
WITH d AS (
  SELECT o_orderkey,
    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), w AS (
  SELECT r.i AS replicate, cents,
    {_POIS_CASE.replace("h", "substring(md5('b:' || CAST(r.i AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)), 1, 8)")} AS wgt
  FROM d, UNNEST(range(0, 32)) AS r(i)
)
SELECT replicate,
  CAST(SUM(wgt) AS BIGINT) AS n_eff,
  CAST(SUM(wgt * cents) AS BIGINT) AS sum_cents,
  CAST(SUM(wgt * cents) // SUM(wgt) AS BIGINT) AS mean_cents
FROM w GROUP BY replicate
""",
)
def q177_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap over order values: 32 resampling replicates
    of the mean, computed WITHOUT materializing resamples —
    replicate r weights each row by a Poisson(1) draw derived from
    md5(r, orderkey) (the distributed-bootstrap construction: with-
    replacement multiplicity converges to Poisson(1) at scale, so
    per-row independent weights replace the impossible global
    sampling-with-replacement shuffle). The spread of the 32
    replicate means IS the sampling-error estimate every
    "mean ± what?" dashboard needs.

    Determinism: the Poisson draw is an md5 hex prefix compared
    lexicographically against fixed CDF cut-point literals
    (lowercase hex compares like its numeric value — the md5-routing
    discipline); weights are small exact integers so every replicate
    sum is exact and order-independent, and means are integer floor
    divisions.

    Scale: the 32× row expansion happens map-side and collapses
    IMMEDIATELY into per-replicate partial sums (32 cells per task)
    — the only exchange carries 32 rows per task, regardless of
    input size. No resample is ever materialized, nothing skews.
    """
    d = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    w = d.select(
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("replicate"),
        "cents",
        "o_orderkey",
    ).withColumn(
        "h",
        F.substring(
            F.md5(
                F.concat(
                    F.lit("b:"),
                    F.col("replicate").cast("string"),
                    F.lit(":"),
                    F.col("o_orderkey").cast("string"),
                )
            ),
            1,
            8,
        ),
    )
    wgt = F.when(F.col("h") < _POIS_CUTS[0], 0)
    for i, c in enumerate(_POIS_CUTS[1:], start=1):
        wgt = wgt.when(F.col("h") < c, i)
    wgt = wgt.otherwise(5)
    agg = (
        w.withColumn("wgt", wgt)
        .groupBy("replicate")
        .agg(
            F.sum("wgt").alias("n_eff"),
            F.sum(F.col("wgt") * F.col("cents")).alias("sum_cents"),
        )
    )
    return agg.select(
        "replicate",
        "n_eff",
        "sum_cents",
        F.expr("sum_cents div n_eff").cast("bigint").alias("mean_cents"),
    )


# ---------------------------------------------------------------------------
# q179 quantile normalization across sources
# ---------------------------------------------------------------------------


@query(
    "q179_quantile_normalize",
    oracle="""
WITH d AS (
  -- NULL features are excluded BEFORE ranking: a missing value has
  -- no rank, and the engines disagree on NULL sort position (Spark
  -- ASC = NULLS FIRST, DuckDB ASC = NULLS LAST) so leaving them in
  -- would silently shift every rank
  SELECT doc_id, source, n_chars FROM documents
  WHERE n_chars IS NOT NULL
), s AS (
  SELECT doc_id, source, n_chars,
    ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY n_chars, doc_id
    ) AS rnk,
    COUNT(*) OVER (PARTITION BY source) AS n_s,
    COUNT(*) OVER () AS n_all
  FROM d
), m AS (
  SELECT doc_id, source, n_chars,
    ((rnk - 1) * n_all) // n_s + 1 AS idx
  FROM s
), pooled AS (
  SELECT n_chars AS norm_chars,
    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS prank
  FROM d
)
SELECT m.doc_id, m.source, m.n_chars,
  CAST(p.norm_chars AS BIGINT) AS norm_chars
FROM m JOIN pooled p ON m.idx = p.prank
""",
)
def q179_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a per-document feature ACROSS
    sources: each document's within-source rank maps onto the pooled
    distribution's value at the same relative position, so every
    source ends up with the same marginal distribution — the
    batch-effect correction ML preprocessing applies before mixing
    heterogeneous sources (a length-quality threshold tuned on one
    source then holds for all).

    Determinism: ranks are row_numbers over total orders (doc_id
    tie-breaks); the pooled index is exact integer arithmetic
    (monotone map of 1..n_s into 1..N, lower-quantile pick); outputs
    are the pooled frame's exact integers.

    Scale: one exchange on source for the within-source ranks; the
    pooled ranking is the exact-global-quantile single-sort contract
    (q46/q172 — swap in q92's sketch at extreme cardinality); the
    final step is an equi join on the pooled index, shuffled by an
    integer key with perfectly uniform distribution.
    """
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .filter(F.col("n_chars").isNotNull())
    )
    s = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("rnk"),
        F.count("*").over(Window.partitionBy("source")).alias("n_s"),
        F.count("*").over(Window.partitionBy()).alias("n_all"),
    )
    m = s.select(
        "doc_id",
        "source",
        "n_chars",
        F.expr("((rnk - 1) * n_all) div n_s + 1").alias("idx"),
    )
    pooled = d.select(
        F.col("n_chars").alias("norm_chars"),
        F.row_number()
        .over(Window.orderBy("n_chars", "doc_id"))
        .alias("prank"),
    )
    return (
        m.join(pooled, m["idx"] == pooled["prank"])
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.col("norm_chars").cast("bigint").alias("norm_chars"),
        )
    )


# ---------------------------------------------------------------------------
# q180 HITS hubs & authorities (bipartite customer -> part graph)
# ---------------------------------------------------------------------------


def _hits_oracle_sql(n_iter: int = 6) -> str:
    """Unrolled HITS power iteration (Kleinberg 1999 — public
    literature), L1-normalized, ppm-quantized output. Same
    cross-engine argument as q113's PageRank oracle: the only
    engine difference is float sum order inside each aggregate
    (~1 ulp per iteration), invisible after ROUND(score*1e6) except
    on a measure-zero .5 boundary."""
    parts = [
        """WITH edges AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), h0 AS MATERIALIZED (
  -- CAST: DuckDB parses bare 1.0 as DECIMAL (the q153 trap)
  SELECT c, CAST(1.0 AS DOUBLE) / COUNT(*) OVER () AS h
  FROM (SELECT DISTINCT c FROM edges)
)"""
    ]
    prev_h = "h0"
    for i in range(1, n_iter + 1):
        parts.append(
            f""",
a{i}r AS MATERIALIZED (
  SELECT p, SUM(h) AS s FROM edges JOIN {prev_h} USING (c) GROUP BY p
), a{i} AS MATERIALIZED (
  SELECT p, s / SUM(s) OVER () AS a FROM a{i}r
), h{i}r AS MATERIALIZED (
  SELECT c, SUM(a) AS s FROM edges JOIN a{i} USING (p) GROUP BY c
), h{i} AS MATERIALIZED (
  SELECT c, s / SUM(s) OVER () AS h FROM h{i}r
)"""
        )
        prev_h = f"h{i}"
    parts.append(
        f"""
SELECT 'hub' AS kind, c AS node,
  CAST(ROUND(h * 1000000) AS BIGINT) AS score_ppm
FROM h{n_iter}
UNION ALL
SELECT 'authority' AS kind, p AS node,
  CAST(ROUND(a * 1000000) AS BIGINT) AS score_ppm
FROM a{n_iter}"""
    )
    return "".join(parts)


@query("q180_hits_scores", oracle=_hits_oracle_sql(6))
def q180_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the bipartite customer→part
    purchase graph (6 L1-normalized power iterations): hub scores
    rank broad-basket buyers, authority scores rank parts bought by
    those buyers — the mutually-recursive dual of q113's PageRank
    (one score per node) and the classic bipartite
    recommender/importance primitive.

    Determinism: the q113 discipline — per-iteration float sums
    differ cross-engine only in add order (~1 ulp), L1 normalization
    divides by a 1-value window total over the ALREADY-AGGREGATED
    score frame, and the final ROUND(score·1e6) absorbs the wobble
    (a .5-boundary hit is measure-zero for non-dyadic scores).

    Scale (operators/graph.hits, the pagerank-style dispatch —
    optimization round r11): at or under 2M distinct edges the graph
    is driver-bounded by contract and a vectorized numpy power
    iteration replaces the unrolled distributed plan (whose 6
    iterations × 2 branches built a 363-node tree: 71 exchanges /
    46 SMJ sorts at fixture scale, ~6 s of stage-barrier latency for
    ~35k output rows). Past the threshold the distributed loop runs:
    per iteration, two equi joins on the edge keys + two partial-
    agg'd groupBys — each carries the edge set once (the linear-in-E
    per-round cost of every iterative graph op here: q113/q137/q144/
    q145); normalization windows run over the aggregated |parts|- /
    |customers|-row frames, never the edges. Route equality on the
    quantized output is pinned at all fixture SFs in
    tests/test_graph.py.
    """
    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        hits,
    )

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
    )
    return hits(edges, src="c", dst="p", n_iter=6).select(
        "kind",
        "node",
        F.round(F.col("score") * 1000000).cast("bigint").alias("score_ppm"),
    )


@query(
    "q319_markov_stationary",
    oracle="""
WITH RECURSIVE s AS (
  SELECT event_type,
    LEAD(event_type) OVER (
      PARTITION BY user_id ORDER BY epoch_us(ts), event_id
    ) AS next_type
  FROM events
), m0 AS (
  SELECT event_type AS f, next_type AS t,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM s WHERE next_type IS NOT NULL
  GROUP BY 1, 2
), states AS (
  SELECT DISTINCT f AS st FROM m0
), m AS (
  SELECT m0.f, m0.t, m0.n FROM m0
  JOIN states ON states.st = m0.t
), tot AS (
  SELECT f, CAST(SUM(n) AS BIGINT) AS n_out FROM m GROUP BY f
), k AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states
), rec AS (
  SELECT 0 AS it, st, CAST(1000000 // k.k AS BIGINT) AS pi
  FROM states, k
  UNION ALL
  SELECT it + 1, m.t,
    CAST(SUM(rec.pi * m.n // tot.n_out) AS BIGINT)
  FROM rec
  JOIN m ON m.f = rec.st
  JOIN tot ON tot.f = rec.st
  WHERE rec.it < 24
  GROUP BY it + 1, m.t
), fin AS (
  SELECT states.st,
    COALESCE(MAX(CASE WHEN rec.it = 24 THEN rec.pi END), 0) AS pi,
    COALESCE(MAX(CASE WHEN rec.it = 23 THEN rec.pi END), 0)
      AS pi_prev
  FROM states LEFT JOIN rec ON rec.st = states.st
    AND rec.it IN (23, 24)
  GROUP BY states.st
)
SELECT fin.st AS state, tot.n_out,
  CAST(fin.pi AS BIGINT) AS pi_micro,
  CAST(SUM(ABS(fin.pi - fin.pi_prev)) OVER () AS BIGINT)
    AS l1_delta_micro
FROM fin JOIN tot ON tot.f = fin.st
""",
)
def q319_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the q164 clickstream Markov chain
    via integer power iteration — the 'where does a user journey
    spend its time' summary that turns the transition matrix into a
    single importance vector (the PageRank idea on the behavior
    chain, teleport-free). The state space is the event-type
    dimension, so the ENGINE collapses the fact to the |types|²
    transition counts and the 24 fixed-point steps run as a bounded
    DRIVER recurrence over exact integers (the q278 Holt pattern —
    a recursive-CTE UnionLoop would pay ~100 ms/round for
    microseconds of arithmetic; the ORACLE, which has no driver,
    uses WITH RECURSIVE with the identical per-step quantization
    π'(j) = Σᵢ (πᵢ·n_ij) DIV n_i). Transitions into types that
    never transition OUT are dropped (the chain is restricted to
    the recurrent candidate set) so row normalization stays exact.
    Columns: state, n_out, pi_micro, l1_delta_micro (the final
    step's movement — convergence evidence).

    Determinism: exact counts; per-term integer DIV on
    non-negative operands, quantize-then-sum each step; fixed 24
    iterations; no floats anywhere.

    Scale: one window pass + one exchange to the |types|² matrix;
    nothing corpus-sized reaches the driver. At 100 TB the chain
    solve costs the same 25 rows of arithmetic.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    ev = events_with_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("f"),
            F.lead("event_type").over(w).alias("t"),
        )
        .filter(F.col("t").isNotNull())
        .groupBy("f", "t")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    rows = pairs.collect()  # |event types|^2 — bounded by contract
    states = sorted({r.f for r in rows})
    sset = set(states)
    mat = {(r.f, r.t): r.n for r in rows if r.t in sset}
    tot = {s: sum(n for (f, t), n in mat.items() if f == s) for s in states}
    k = len(states)
    pi = {s: 1_000_000 // k for s in states}
    prev = dict(pi)
    for _ in range(24):
        prev = pi
        pi = {
            j: sum(
                prev[i] * mat.get((i, j), 0) // tot[i] for i in states
            )
            for j in states
        }
    l1 = sum(abs(pi[s] - prev[s]) for s in states)
    out = [(s, tot[s], pi[s], l1) for s in states]
    schema = StructType(
        [
            StructField("state", StringType()),
            StructField("n_out", LongType()),
            StructField("pi_micro", LongType()),
            StructField("l1_delta_micro", LongType()),
        ]
    )
    return driver_frame(ev.sparkSession, out, schema)


@query(
    "q320_shapley_attribution",
    oracle="""
WITH per_user AS (
  SELECT user_id,
    CAST(BIT_OR(CASE event_type WHEN 'click' THEN 1
      WHEN 'error' THEN 2 WHEN 'signup' THEN 4
      WHEN 'view' THEN 8 ELSE 0 END) AS BIGINT) AS mask,
    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      AS BIGINT) AS conv
  FROM events WHERE user_id IS NOT NULL
  GROUP BY user_id
), mtab AS (
  SELECT mask, CAST(SUM(conv) AS BIGINT) AS n_conv
  FROM per_user GROUP BY mask
), coal AS (
  SELECT CAST(s AS BIGINT) AS s FROM unnest(range(16)) AS r(s)
), v AS (
  SELECT coal.s,
    CAST(COALESCE(SUM(CASE WHEN (mtab.mask & coal.s) = mtab.mask
      THEN mtab.n_conv END), 0) AS BIGINT) AS val
  FROM coal LEFT JOIN mtab ON (mtab.mask & coal.s) = mtab.mask
  GROUP BY coal.s
), ch AS (
  SELECT * FROM (VALUES ('click', CAST(1 AS BIGINT)),
    ('error', CAST(2 AS BIGINT)), ('signup', CAST(4 AS BIGINT)),
    ('view', CAST(8 AS BIGINT))) AS t(channel, bit)
), phi AS (
  SELECT ch.channel,
    CAST(SUM(
      (CASE bit_count(v0.s) WHEN 0 THEN 6 WHEN 1 THEN 2
        WHEN 2 THEN 2 ELSE 6 END) * (v1.val - v0.val)
    ) AS BIGINT) AS phi_x24
  FROM ch
  JOIN v v0 ON (v0.s & ch.bit) = 0
  JOIN v v1 ON v1.s = (v0.s | ch.bit)
  GROUP BY ch.channel
)
SELECT channel, phi_x24,
  CAST(phi_x24 * 1000000 // SUM(phi_x24) OVER () AS BIGINT)
    AS share_ppm
FROM phi
""",
)
def q320_shapley_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT Shapley-value marketing attribution over the four
    non-purchase channels (Shapley '53 applied to conversion
    credit — the principled alternative to q165's first/last-touch
    heuristics; public literature). The coalition game is
    dimension-sized by construction: each user's journey collapses
    to a 4-bit channel mask + converted flag, v(S) = converters
    whose channel set ⊆ S (subset-sum over the 16-row mask
    table), and each channel's Shapley value is the weighted sum of
    its 8 marginal contributions with the k=4 weights |S|!(3−|S|)!
    ∈ {6,2,2,6} — every quantity an exact integer when scaled by
    4! = 24 (phi_x24). share_ppm divides by the total, which the
    efficiency axiom makes v(full) − v(∅) exactly (pinned in
    pytest). Columns: channel, phi_x24, share_ppm.

    Determinism: pure counts; fixed bit assignment (alphabetical
    channels); integer weights; DIV on non-negative operands
    (v is monotone under ⊆ so every marginal is ≥ 0).

    Scale: ONE exchange collapses the fact to per-user masks, a
    second to the ≤16-row mask table; the coalition algebra is a
    16×16 dimension join. Shapley attribution at 100 TB costs the
    per-user rollup the funnel family already pays — the
    exponential blowup lives in |channels|, not rows.
    """
    per_user = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.expr(
                "CAST(BIT_OR(CASE event_type WHEN 'click' THEN 1"
                " WHEN 'error' THEN 2 WHEN 'signup' THEN 4"
                " WHEN 'view' THEN 8 ELSE 0 END) AS BIGINT)"
            ).alias("mask"),
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            )
            .cast("bigint")
            .alias("conv"),
        )
    )
    mtab = per_user.groupBy("mask").agg(
        F.sum("conv").cast("bigint").alias("n_conv")
    )
    coal = spark.range(16).select(F.col("id").cast("bigint").alias("s"))
    v = (
        coal.join(
            F.broadcast(mtab),
            F.expr("(mask & s) = mask"),
            "left",
        )
        .groupBy("s")
        .agg(
            F.coalesce(F.sum("n_conv"), F.lit(0))
            .cast("bigint")
            .alias("val")
        )
        .transform(checkpoint)
    )
    ch = driver_frame(
        spark,
        [("click", 1), ("error", 2), ("signup", 4), ("view", 8)],
        "channel string, bit long",
    )
    phi = (
        ch.join(F.broadcast(v.alias("v0")), F.expr("(v0.s & bit) = 0"))
        .join(
            F.broadcast(v.alias("v1")),
            F.expr("v1.s = (v0.s | bit)"),
        )
        .groupBy("channel")
        .agg(
            F.sum(
                F.expr(
                    "(CASE bit_count(v0.s) WHEN 0 THEN 6 WHEN 1 THEN 2"
                    " WHEN 2 THEN 2 ELSE 6 END) * (v1.val - v0.val)"
                )
            )
            .cast("bigint")
            .alias("phi_x24")
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return phi.select(
        "channel",
        "phi_x24",
        F.expr("phi_x24 * 1000000")
        .alias("_num"),
        F.sum("phi_x24").over(wall).alias("_den"),
    ).select(
        "channel",
        "phi_x24",
        F.expr("CAST(_num DIV _den AS BIGINT)").alias("share_ppm"),
    )
