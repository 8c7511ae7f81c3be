"""Relational-core catalog queries (SURVEY.md §2.2-§2.7, §2.11).

Each query maps one (or a composition) of the reference's operators
onto the driver's TPC-H-ish fixture tables, with a DuckDB oracle.
Scale notes are attached per query: at 100 TB the same plan shape
holds because aggregations are partial-before-shuffle, small sides
are broadcast, and windows partition on high-cardinality keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from car_insurance_data_pipeline_spark_spark.functions.dates import (
    date_dimension,
    yyyymmdd_key,
)
from car_insurance_data_pipeline_spark_spark.functions.geo import haversine_km
from car_insurance_data_pipeline_spark_spark.plans.catalog import query, table


def dsum(col: Column, scale: int = 6) -> Column:
    """Order-independent money sum: exact decimal accumulate, double out."""
    return F.sum(col.try_cast(f"decimal(27,{scale})")).cast("double")


def ts_us_expr(ts_dtype: str) -> F.Column:
    """Epoch-microsecond Column for an event-time field of the given
    Spark dtype string, matching DuckDB's ``epoch_us(ts)`` bit for bit.

    - ``bigint``: int64 nanosecond parquet read under ``nanosAsLong``;
      integer division by 1000 is exactly DuckDB's ns→µs truncation.
    - ``timestamp`` (instant): ``unix_micros`` reads the stored epoch
      micros directly — timezone-independent on instants (a
      CAST(... AS TIMESTAMP_NTZ) here would route through the session
      timezone and shift under a non-UTC external session).
    - ``timestamp_ntz``: pure wall-clock ``timestampdiff`` from the
      NTZ epoch — never touches the session timezone.
    """
    if ts_dtype == "bigint":
        return F.expr("ts div 1000")
    if ts_dtype == "timestamp":
        return F.unix_micros(F.col("ts"))
    return F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        " CAST(ts AS TIMESTAMP_NTZ))"
    )


def events_with_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with an integer-microsecond event time ``ts_us``.

    Fixture generations have shipped ``ts`` as either int64
    nanosecond parquet (read as bigint under ``nanosAsLong``) or
    µs-precision timestamp parquet (read as timestamp_ntz) — the
    conversion branches on the observed dtype so both produce the
    identical bigint ts_us.

    NOTE: the ``nanosAsLong`` conf is session-wide — it cannot be
    scoped to one plan (it takes effect at scan execution). Sessions
    built by ``get_session`` set it at construction; this runtime set
    covers externally created sessions (the verification driver's).
    It is a no-op for µs-timestamp fixtures.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = table(spark, sf_dir, "events")
    return e.withColumn("ts_us", ts_us_expr(dict(e.dtypes)["ts"]))


# --------------------------------------------------------------------------
# Aggregations (A1-A6) + scans
# --------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(TRY_CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty,
  CAST(SUM(TRY_CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(TRY_CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(TRY_CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(27,6))) AS DOUBLE) AS sum_charge,
  CAST(SUM(TRY_CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(TRY_CAST(l_discount AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary (A2 multi-agg groupBy).

    Scale: partial hash agg map-side → shuffle only 6 groups; the
    scan prunes to 7 columns and pushes the shipdate filter down.
    """
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            (dsum(F.col("l_quantity")) / F.count("*")).alias("avg_qty"),
            (dsum(F.col("l_discount")) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q02_market_segment_revenue",
    oracle="""
SELECT c.c_mktsegment,
  COUNT(*) AS n_orders,
  COUNT(DISTINCT o.o_custkey) AS n_customers,
  CAST(SUM(TRY_CAST(o.o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total_revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def q02_market_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: customer-segment analytics (J6 fact⋈dim join + A2 agg
    + O2 sort) — the shape of the reference's
    10_analyze_customer_segments.py:61-76.

    Scale: dim side is explicitly broadcast (no shuffle of the fact);
    agg is partial+final hash on 5 segments.
    """
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    return (
        orders.join(
            customer,
            orders.o_custkey == customer.c_custkey,
            "inner",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            dsum(F.col("o_totalprice")).alias("total_revenue"),
        )
        .orderBy(F.col("total_revenue").desc())
    )


@query(
    "q03_global_stats",
    oracle="""
SELECT COUNT(*) AS n_orders,
  CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total_premium,
  CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_premium,
  MIN(o_totalprice) AS min_premium,
  MAX(o_totalprice) AS max_premium
FROM orders
""",
)
def q03_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global aggregate (A1) — the DQ sanity-stats shape of
    06_validate_data_quality.py:79-84 on the orders fact.
    """
    return table(spark, sf_dir, "orders").agg(
        F.count("*").alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("total_premium"),
        (dsum(F.col("o_totalprice")) / F.count("*")).alias("avg_premium"),
        F.min("o_totalprice").alias("min_premium"),
        F.max("o_totalprice").alias("max_premium"),
    )


@query(
    "q04_case_when_banding",
    oracle="""
SELECT CASE WHEN l_quantity < 10 THEN 'low'
            WHEN l_quantity < 30 THEN 'mid'
            ELSE 'high' END AS qty_band,
  COUNT(*) AS n_items,
  CAST(SUM(TRY_CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS band_value
FROM lineitem
GROUP BY 1
""",
)
def q04_case_when_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN banding (P9) + grouped agg — the risk-category
    banding shape of 08_load_driver_risk_scores.py:270-284.
    """
    li = table(spark, sf_dir, "lineitem")
    band = (
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 30, "mid")
        .otherwise("high")
    )
    return (
        li.withColumn("qty_band", band)
        .groupBy("qty_band")
        .agg(
            F.count("*").alias("n_items"),
            dsum(F.col("l_extendedprice")).alias("band_value"),
        )
    )


@query(
    "q05_filter_dateparts",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice,
  CAST(year(o_orderdate) AS INT) AS order_year,
  CAST(month(o_orderdate) AS INT) AS order_month,
  CAST(quarter(o_orderdate) AS INT) AS order_quarter,
  monthname(o_orderdate) AS month_name,
  dayname(o_orderdate) AS day_name,
  CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS date_key
FROM orders
WHERE o_orderpriority LIKE '_-URGENT'
  AND o_totalprice BETWEEN 50000 AND 400000
""",
)
def q05_filter_dateparts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filters + date-part projection in one pass over orders (merged
    r01 q05_filter_like_range + q06_date_parts so both stay inside
    the driver's checked-query window).

    LIKE `_` wildcards (P8/F4) + range predicate (P6) — the
    format-sniffing predicate shape of 02_clean_contracts_data.py:60;
    both predicates push down to the parquet scan. Date parts +
    yyyyMMdd surrogate keys (F8-F10, J3 prep) —
    04_load_dimension_tables.py:172-180, 05_load_fact_tables.py:112;
    a pure narrow projection, codegen, no shuffle at any scale.
    """
    o = table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderpriority").like("_-URGENT")
        & F.col("o_totalprice").between(50000, 400000)
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        "o_totalprice",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_format("o_orderdate", "MMMM").alias("month_name"),
        F.date_format("o_orderdate", "EEEE").alias("day_name"),
        yyyymmdd_key(F.col("o_orderdate")).alias("date_key"),
    )


# --------------------------------------------------------------------------
# Date/time (F8-F11) + date-dimension generator
# --------------------------------------------------------------------------


@query(
    "q07_date_dimension",
    oracle="""
SELECT strftime(d, '%Y-%m-%d') AS date_key,
  CAST(year(d) AS INT) AS year,
  CAST(month(d) AS INT) AS month,
  CAST(day(d) AS INT) AS day,
  dayname(d) AS day_of_week,
  monthname(d) AS month_name,
  CAST(quarter(d) AS INT) AS quarter,
  dayname(d) IN ('Saturday', 'Sunday') AS is_weekend,
  CAST(strftime(d, '%Y%m%d') AS INT) AS date_key_int
FROM generate_series(DATE '2020-01-01', DATE '2021-12-31', INTERVAL 1 DAY) AS t(d)
""",
)
def q07_date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension generator (F11 sequence+explode) —
    04_load_dimension_tables.py:166-180. Output is O(days) regardless
    of data scale; always broadcast in date-key joins.
    """
    dd = date_dimension(spark, "2020-01-01", "2021-12-31")
    # DATE values surface differently in pandas across engines (date
    # objects vs midnight timestamps); ISO strings hash identically.
    return dd.withColumn("date_key", F.date_format("date_key", "yyyy-MM-dd"))


# --------------------------------------------------------------------------
# Joins (J1-J6 + outer/semi/anti parity-plus)
# --------------------------------------------------------------------------


@query(
    "q08_nation_revenue",
    oracle="""
SELECT n.n_name,
  COUNT(*) AS n_orders,
  CAST(SUM(TRY_CAST(o.o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def q08_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mapping-chain join (J5: fact → mapping → dim, the
    device→customer→dim_customer shape of
    08_load_driver_risk_scores.py:120-126) with using-column form (J1).

    Scale: both dims broadcast; the 100 TB fact never shuffles.
    """
    o = table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey")
    c = (
        table(spark, sf_dir, "customer")
        .withColumnRenamed("c_custkey", "custkey")
        .withColumnRenamed("c_nationkey", "nationkey")
    )
    n = table(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "nationkey")
    return (
        o.join(c, ["custkey"], "inner")
        .join(F.broadcast(n), ["nationkey"], "inner")
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
    )


@query(
    "q09_datekey_join",
    oracle="""
WITH dim_date AS (
  SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_key_int,
         CAST(year(d) AS INT) AS year,
         CAST(quarter(d) AS INT) AS quarter
  FROM generate_series(DATE '1995-01-01', DATE '2001-12-31', INTERVAL 1 DAY) AS t(d)
)
SELECT dd.year, dd.quarter,
  COUNT(*) AS n_orders,
  CAST(SUM(TRY_CAST(o.o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue
FROM orders o
JOIN dim_date dd
  ON CAST(strftime(o.o_orderdate, '%Y%m%d') AS INT) = dd.date_key_int
GROUP BY dd.year, dd.quarter
""",
)
def q09_datekey_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-key lookup join (J3): derive int yyyyMMdd on the fact,
    join the generated calendar dim — 05_load_fact_tables.py:110-126.
    The dim is O(days) → broadcast; fact stays unshuffled.
    """
    o = table(spark, sf_dir, "orders").withColumn(
        "date_key_int", yyyymmdd_key(F.col("o_orderdate"))
    )
    dd = date_dimension(spark, "1995-01-01", "2001-12-31").select(
        "date_key_int", "year", "quarter"
    )
    return (
        o.join(F.broadcast(dd), ["date_key_int"], "inner")
        .groupBy("year", "quarter")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
    )


@query(
    "q10_left_join_coverage",
    oracle="""
SELECT c.c_custkey,
  COUNT(o.o_orderkey) AS n_orders,
  COALESCE(CAST(SUM(TRY_CAST(o.o_totalprice AS DECIMAL(27,6))) AS DOUBLE), 0.0) AS spend
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey
""",
)
def q10_left_join_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + null-preserving agg (parity-plus per SURVEY
    §2.3: outer joins are free in Spark; the reference has none).
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum(F.col("o_totalprice")), F.lit(0.0)).alias("spend"),
        )
    )


@query(
    "q11_set_membership",
    oracle="""
SELECT c_custkey AS custkey, c_name AS detail, 'anti' AS kind
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT c_custkey, c_mktsegment, 'semi' FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
UNION ALL
SELECT custkey, NULL, 'set' FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION
  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
)
""",
)
def q11_set_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti joins + set ops, tagged into one result (merged r01
    q11_anti_join + q12_semi_join + q19_union_distinct so all three
    stay inside the driver's checked-query window).

    - kind='anti': left-anti join (NOT EXISTS) — customers with no
      orders; detail = c_name.
    - kind='semi': left-semi join (EXISTS) — customers with ≥1
      urgent order; detail = c_mktsegment.
    - kind='set': unionByName + distinct (§2.7 set ops) — custkeys
      that are urgent OR big-spend; detail = NULL.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("detail"),
            F.lit("anti").alias("kind"),
        )
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    semi = (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_mktsegment").alias("detail"),
            F.lit("semi").alias("kind"),
        )
    )
    set_members = (
        urgent.select(F.col("o_custkey").alias("custkey"))
        .unionByName(
            o.filter(F.col("o_totalprice") > 400000).select(
                F.col("o_custkey").alias("custkey")
            )
        )
        .distinct()
        .select(
            "custkey",
            F.lit(None).cast("string").alias("detail"),
            F.lit("set").alias("kind"),
        )
    )
    return anti.unionByName(semi).unionByName(set_members)


# --------------------------------------------------------------------------
# Windows (W1/W2 + ranking/frames parity-plus)
# --------------------------------------------------------------------------


@query(
    "q13_dedup_deterministic",
    oracle="""
SELECT o_custkey, o_orderstatus, o_orderkey AS first_orderkey
FROM orders
QUALIFY row_number() OVER (
  PARTITION BY o_custkey, o_orderstatus ORDER BY o_orderkey) = 1
""",
)
def q13_dedup_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dropDuplicates (A5): the reference's
    dropDuplicates(keys) (04_load_dimension_tables.py:69) keeps an
    arbitrary survivor; this engine's default keeps the min-key row
    via a partitioned row_number — same semantics, reproducible.

    Scale: single shuffle on the dedup keys, in-partition sort.
    """
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderstatus").orderBy("o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey", "o_orderstatus", F.col("o_orderkey").alias("first_orderkey")
        )
    )


@query(
    "q14_trip_stats",
    oracle="""
WITH pts AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
    value / 10.0 - 24.5 AS lat, value / 3.0 + 1.0 AS lon
  FROM events
), hops AS (
  SELECT user_id,
    ts_us - lag(ts_us) OVER w AS gap_us,
    lag(lat) OVER w AS lat1, lag(lon) OVER w AS lon1,
    lat AS lat2, lon AS lon2
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), dist AS (
  SELECT user_id, gap_us,
    ROUND(2 * 6371.0 * atan2(
      sqrt(pow(sin(radians(lat2 - lat1) / 2), 2)
           + cos(radians(lat1)) * cos(radians(lat2))
             * pow(sin(radians(lon2 - lon1) / 2), 2)),
      sqrt(1 - (pow(sin(radians(lat2 - lat1) / 2), 2)
           + cos(radians(lat1)) * cos(radians(lat2))
             * pow(sin(radians(lon2 - lon1) / 2), 2)))), 3) AS hop_km
  FROM hops WHERE lat1 IS NOT NULL
)
SELECT user_id,
  CAST(COUNT(CASE WHEN gap_us > 0 THEN 1 END) AS BIGINT) AS n_gaps,
  CASE WHEN COUNT(CASE WHEN gap_us > 0 THEN 1 END) > 0
       THEN CAST(SUM(CASE WHEN gap_us > 0 THEN gap_us END) AS DOUBLE)
            / COUNT(CASE WHEN gap_us > 0 THEN 1 END) END AS avg_gap_us,
  MAX(CASE WHEN gap_us > 0 THEN gap_us END) AS max_gap_us,
  COUNT(*) AS n_hops,
  CAST(SUM(TRY_CAST(hop_km AS DECIMAL(27,3))) AS DOUBLE) AS total_km
FROM dist
GROUP BY user_id
""",
)
def q14_trip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-device trip statistics from ONE lag-window pass (merged
    r01 q14_event_gaps + q23_haversine_trips so both stay inside the
    driver's checked-query window): time gaps (W2, the telematics
    time-diff pipeline of 08_load_driver_risk_scores.py:208-221, on
    integer epoch micros) and haversine hop distances (F13-F17,
    native Column math, NOT a UDF — 08:55-80; hop distances rounded
    to 3 decimals before the exact decimal sum so cross-engine trig
    ulp differences can't surface).

    Scale: one shuffle on user_id; per-partition sort; no Python.
    """
    e = events_with_us(spark, sf_dir)
    pts = e.select(
        "user_id",
        "ts_us",
        "event_id",
        (F.col("value") / 10.0 - 24.5).alias("lat"),
        (F.col("value") / 3.0 + 1.0).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    hops = pts.select(
        "user_id",
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us"),
        F.lag("lat").over(w).alias("lat1"),
        F.lag("lon").over(w).alias("lon1"),
        F.col("lat").alias("lat2"),
        F.col("lon").alias("lon2"),
    ).filter(F.col("lat1").isNotNull())
    dist = hops.select(
        "user_id",
        "gap_us",
        F.round(
            haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")),
            3,
        ).alias("hop_km"),
    )
    pos_gap = F.when(F.col("gap_us") > 0, F.col("gap_us"))
    n_gaps = F.count(pos_gap)
    return dist.groupBy("user_id").agg(
        n_gaps.alias("n_gaps"),
        F.when(n_gaps > 0, F.sum(pos_gap).cast("double") / n_gaps).alias(
            "avg_gap_us"
        ),
        F.max(pos_gap).alias("max_gap_us"),
        F.count("*").alias("n_hops"),
        dsum(F.col("hop_km"), 3).alias("total_km"),
    )


@query(
    "q15_window_suite",
    oracle="""
SELECT o_custkey, o_orderkey,
  CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(27,6))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spend,
  CAST(rank() OVER ws AS INT) AS rnk,
  CAST(dense_rank() OVER ws AS INT) AS drnk,
  CAST(ntile(4) OVER wg AS INT) AS quartile,
  percent_rank() OVER wg AS pct_rank,
  cume_dist() OVER wg AS cume
FROM orders
WINDOW ws AS (PARTITION BY o_orderstatus ORDER BY o_orderdate),
       wg AS (ORDER BY o_totalprice, o_orderkey)
""",
)
def q15_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function suite in one per-row pass over orders (merged
    r01 q15_running_total + q17_rank_dense_rank +
    q56_rank_distribution so all three stay inside the driver's
    checked-query window).

    - cum_spend: running aggregate with an explicit frame (decimal
      accumulation keeps it exact cross-engine);
    - rnk/drnk: rank/dense_rank with genuine ties (per-status date
      order);
    - quartile/pct_rank/cume: ntile/percent_rank/cume_dist over a
      global unique ordering. NOTE: the global window is a deliberate
      single-partition case (15k rows); the per-group form (q16) is
      the scale path.
    """
    o = table(spark, sf_dir, "orders")
    w_cum = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_status = Window.partitionBy("o_orderstatus").orderBy("o_orderdate")
    w_global = Window.orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").try_cast("decimal(27,6)"))
        .over(w_cum)
        .cast("double")
        .alias("cum_spend"),
        F.rank().over(w_status).alias("rnk"),
        F.dense_rank().over(w_status).alias("drnk"),
        F.ntile(4).over(w_global).alias("quartile"),
        F.percent_rank().over(w_global).alias("pct_rank"),
        F.cume_dist().over(w_global).alias("cume"),
    )


# --------------------------------------------------------------------------
# Sorts / limits / set ops (O1-O3, §2.7)
# --------------------------------------------------------------------------


@query(
    "q16_topk",
    oracle="""
SELECT 'group' AS scope, o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    CAST(row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
  FROM orders
) WHERE rn <= 3
UNION ALL
SELECT 'global', NULL, o_orderkey, o_totalprice, NULL FROM (
  SELECT o_orderkey, o_totalprice FROM orders
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 20
)
""",
)
def q16_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K both ways, tagged into one result (merged r01
    q16_topk_per_group + q18_global_topk so both stay inside the
    driver's checked-query window).

    - scope='group': top-3 per customer via partitioned row_number
      (W1 made scalable — never a global single-task sort);
    - scope='global': global top-20 via sort+limit, which compiles to
      TakeOrderedAndProject — a per-partition heap + driver merge
      (plan-asserted in tests/test_scale_plans.py).

    """
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    per_group = (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.lit("group").alias("scope"),
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            "rn",
        )
    )
    global_topk = (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
        .select(
            F.lit("global").alias("scope"),
            F.lit(None).cast("long").alias("o_custkey"),
            "o_orderkey",
            "o_totalprice",
            F.lit(None).cast("int").alias("rn"),
        )
    )
    return per_group.unionByName(global_topk)


# --------------------------------------------------------------------------
# Telematics-shaped analytics on events (A3/A4, F13-F17, sessionization)
# --------------------------------------------------------------------------


@query(
    "q21_driver_risk_scores",
    oracle="""
WITH stats AS (
  SELECT user_id,
    COUNT(*) AS total_events,
    CAST(COUNT(CASE WHEN value > 300 THEN 1 END) AS BIGINT) AS speeding,
    CAST(SUM(TRY_CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_value,
    MAX(value) AS max_value
  FROM events GROUP BY user_id
), scored AS (
  SELECT user_id, total_events, speeding, avg_value, max_value,
    CASE WHEN speeding > 0
         THEN GREATEST(100.0 - 5.0 * speeding - avg_value / 20.0, 0.0)
         ELSE 100.0 END AS risk_score
  FROM stats
)
SELECT user_id, total_events, speeding, avg_value, max_value, risk_score,
  CASE WHEN risk_score >= 80 THEN 'SAFE'
       WHEN risk_score >= 60 THEN 'MODERATE'
       WHEN risk_score >= 40 THEN 'RISKY'
       ELSE 'VERY_RISKY' END AS risk_category
FROM scored
""",
)
def q21_driver_risk_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-risk scoring end to end (merged r01 q20_risk_stats +
    q21 so both A3/A4 stats and scoring stay inside the driver's
    checked-query window) — the 08_load_driver_risk_scores.py:261-284
    shape: conditional counts + grouped multi-metric (08:261-266) →
    linear score clamped at 0 → CASE banding. Reference parity
    (08:270-284): the penalty applies only when speeding > 0,
    otherwise a flat 100. Deterministic: score arithmetic is on
    exact decimal-derived doubles.
    """
    e = events_with_us(spark, sf_dir)
    stats = e.groupBy("user_id").agg(
        F.count("*").alias("total_events"),
        F.count(F.when(F.col("value") > 300, 1)).alias("speeding"),
        (dsum(F.col("value")) / F.count("*")).alias("avg_value"),
        F.max("value").alias("max_value"),
    )
    score = F.when(
        F.col("speeding") > 0,
        F.greatest(
            F.lit(100.0) - 5.0 * F.col("speeding") - F.col("avg_value") / 20.0,
            F.lit(0.0),
        ),
    ).otherwise(F.lit(100.0))
    scored = stats.withColumn("risk_score", score)
    band = (
        F.when(F.col("risk_score") >= 80, "SAFE")
        .when(F.col("risk_score") >= 60, "MODERATE")
        .when(F.col("risk_score") >= 40, "RISKY")
        .otherwise("VERY_RISKY")
    )
    return scored.select(
        "user_id", "total_events", "speeding", "avg_value", "max_value",
        "risk_score", band.alias("risk_category"),
    )


@query(
    "q22_json_props",
    oracle="""
SELECT event_type,
  COUNT(*) AS n_events,
  CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
  MIN(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
  MAX(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events
GROUP BY event_type
""",
)
def q22_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (engine extension; SURVEY §2.8 notes the
    reference has no JSON functions). get_json_object is JVM-side.
    """
    e = events_with_us(spark, sf_dir)
    k = F.get_json_object("props", "$.k").try_cast("int")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "q24_sessionization",
    oracle="""
WITH flagged AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
         OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
), sessions AS (
  SELECT user_id, ts_us,
    CAST(SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts_us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
  COUNT(*) AS n_events,
  MAX(ts_us) - MIN(ts_us) AS duration_us
FROM sessions
GROUP BY user_id, session_id
""",
)
def q24_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (lag + cumulative-sum session ids) — the
    scalable generalization of the reference's telematics event-time
    logic (SURVEY §2.9), 30-min gap, all integer arithmetic.
    """
    e = events_with_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = e.select(
        "user_id",
        "ts_us",
        "event_id",
        F.when(
            (F.col("ts_us") - F.lag("ts_us").over(w) > 1_800_000_000)
            | F.lag("ts_us").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    cum = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = flagged.select(
        "user_id",
        "ts_us",
        F.sum("new_session").over(cum).alias("session_id"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )
