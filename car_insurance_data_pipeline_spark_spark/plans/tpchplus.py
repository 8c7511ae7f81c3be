"""TPC-H decision-support shapes beyond the earlier Q1/Q3/Q5/Q17
ports, plus series autocorrelation.

- q211 large-volume orders (TPC-H Q18's HAVING-on-aggregate
  semi-join shape: orders whose total quantity exceeds a threshold,
  joined back to customer),
- q212 sole-late-supplier (TPC-H Q21's EXISTS / NOT EXISTS shape,
  decorrelated into per-order counts — the reference fixture has no
  receipt/commit dates, so "late" is shipdate > orderdate + 100
  days; the SHAPE — multi-supplier order, exactly one late supplier
  — is Q21's),
- q213 idle rich customers (TPC-H Q22's scalar-average filter +
  anti-join shape: above-average balance, no recent orders),
- q214 hourly-series autocorrelation at lags 1/2/3/24 (the
  seasonality diagnostic behind q204's hour-of-day model, computed
  the moment-sum way over the hourly-total series).

Determinism discipline: thresholds are integer cross-multiplies
(never float averages), money is cents, series values are exact
integer milli-sums, moment sums accumulate in DECIMAL before one
fixed IEEE closed form, FLOOR-ppm quantization, identical aliases
in both dialects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from car_insurance_data_pipeline_spark_spark.plans.catalog import query, table
from car_insurance_data_pipeline_spark_spark.plans.relational import events_with_us
from car_insurance_data_pipeline_spark_spark.session import checkpoint


@query(
    "q211_large_volume_orders",
    oracle="""
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
    AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
)
SELECT c.c_name AS cust_name,
  o.o_orderkey AS orderkey,
  strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
  CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS total_price_cents,
  b.sum_qty
FROM orders o
JOIN big b ON b.l_orderkey = o.o_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
)
def q211_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18's large-volume-customer shape: orders whose summed
    line quantity exceeds 250 units, with the owning customer — the
    classic HAVING-filtered aggregate used as a semi-join key set
    back into the fact it came from.
    Columns: cust_name, orderkey, order_date, total_price_cents,
    sum_qty.

    Determinism: quantities are integral in the fixtures (exact
    BIGINT sums), money is cents, dates are ISO strings.

    Scale: the qty rollup is one orderkey-hash exchange with
    map-side combine; the surviving key set is tiny (threshold
    cuts >98% of orders), so AQE converts the orders join to a
    broadcast of the AGGREGATED side — the fact is never shuffled
    twice. The customer dimension joins via the orders side's
    custkey; at dimension scale it broadcasts.
    """
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_name").alias("cust_name"),
            F.col("o_orderkey").alias("orderkey"),
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
                "order_date"
            ),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
                "total_price_cents"
            ),
            "sum_qty",
        )
    )


@query(
    "q212_sole_late_supplier",
    oracle="""
WITH l AS (
  SELECT l_orderkey AS ok, l_suppkey AS sk,
    CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE)) > 100
         THEN 1 ELSE 0 END AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
), os AS (
  SELECT ok, sk, MAX(late) AS late FROM l GROUP BY ok, sk
), agg AS (
  SELECT ok, CAST(COUNT(*) AS BIGINT) AS nsupp,
    CAST(SUM(late) AS BIGINT) AS nlate
  FROM os GROUP BY ok
)
SELECT s.s_name AS supp_name,
  CAST(COUNT(*) AS BIGINT) AS numwait
FROM os JOIN agg USING (ok)
JOIN supplier s ON s.s_suppkey = os.sk
WHERE os.late = 1 AND agg.nsupp >= 2 AND agg.nlate = 1
GROUP BY s.s_name
""",
)
def q212_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's suppliers-who-kept-orders-waiting shape: count,
    per supplier, the multi-supplier orders on which THIS supplier
    shipped late (shipdate > orderdate + 100 days — the fixture has
    no receipt/commit dates) and no other supplier did. Q21 states
    this as EXISTS (another supplier) AND NOT EXISTS (another late
    supplier); both correlated subqueries decorrelate into one
    per-order (supplier-count, late-count) aggregate — the form a
    1000-executor plan wants anyway, since it replaces two
    correlated self-joins of the fact with one orderkey-partitioned
    rollup. Columns: supp_name, numwait.

    Determinism: lateness is an integer day difference; all
    outputs are exact counts.

    Scale: ONE fact-wide exchange. The joined fact repartitions on
    ok once; the (ok, sk) collapse runs on that distribution
    (HashPartitioning(ok) satisfies the (ok, sk) clustering), and
    the per-order (nsupp, nlate) totals ride a WINDOW over the same
    distribution rather than a groupBy+self-join — the branch form
    would recompute the whole fact⋈orders subtree twice (the round-5
    q164 lesson; plan-asserted at 3 scans / 1 fact exchange).
    Supplier joins broadcast at dimension size; state never exceeds
    distinct (order, supplier) pairs.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_suppkey").alias("sk"),
        F.when(
            F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
            > 100,
            1,
        )
        .otherwise(0)
        .alias("late"),
    )
    os_ = (
        l.repartition("ok")
        .groupBy("ok", "sk")
        .agg(F.max("late").alias("late"))
    )
    w = Window.partitionBy("ok")
    flagged = os_.select(
        "ok",
        "sk",
        "late",
        F.count("*").over(w).cast("bigint").alias("nsupp"),
        F.sum("late").over(w).cast("bigint").alias("nlate"),
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        flagged.filter(
            (F.col("late") == 1) & (F.col("nsupp") >= 2) & (F.col("nlate") == 1)
        )
        .join(s, flagged["sk"] == s["s_suppkey"])
        .groupBy(F.col("s_name").alias("supp_name"))
        .agg(F.count("*").cast("bigint").alias("numwait"))
    )


@query(
    "q213_idle_rich_customers",
    oracle="""
WITH pos AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s
  FROM customer WHERE c_acctbal > 0.0
), recent AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '2000-01-01'
)
SELECT CAST(c.c_nationkey AS INT) AS nation,
  CAST(COUNT(*) AS BIGINT) AS n_cust,
  CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
    AS total_bal_cents
FROM customer c, pos
WHERE CAST(ROUND(c.c_acctbal * 100) AS BIGINT) * pos.n > pos.s
  AND c.c_custkey NOT IN (SELECT o_custkey FROM recent)
GROUP BY c.c_nationkey
""",
)
def q213_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22's global-relationship-opportunity shape: customers
    whose balance beats the average positive balance but who placed
    no order since 2000-01-01, rolled up by nation. The scalar
    average arrives as a 1-row (count, sum) broadcast and the
    comparison is the integer cross-multiply bal·n > Σbal (no float
    average); the NOT EXISTS is a left-anti join against the
    recent-order key set. Columns: nation, n_cust, total_bal_cents.

    Scale: the anti-join shuffles both sides on custkey (the recent
    key set is NOT broadcastable at fact scale); the positive-
    balance anchor is a 1-row broadcast cross join — the sanctioned
    pattern for scalar anchors over a DIFFERENT filter of the same
    scan (a window can't express it without keeping unfiltered rows
    in the frame).
    """
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
        "c_acctbal",
    )
    pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("bal_cents").cast("bigint").alias("s"),
    )
    recent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").cast("date") >= F.lit("2000-01-01").cast("date"))
        .select("o_custkey")
        .distinct()
    )
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(F.col("bal_cents") * F.col("n") > F.col("s"))
        .join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").cast("int").alias("nation"))
        .agg(
            F.count("*").cast("bigint").alias("n_cust"),
            F.sum("bal_cents").cast("bigint").alias("total_bal_cents"),
        )
    )


@query(
    "q214_hourly_acf",
    oracle="""
WITH h AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
    CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS tot
  FROM events GROUP BY 1, 2
), lagged AS (
  SELECT event_type, tot AS x,
    LAG(tot, 1) OVER w AS y1,
    LAG(tot, 2) OVER w AS y2,
    LAG(tot, 3) OVER w AS y3,
    LAG(tot, 24) OVER w AS y24
  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr)
), pairs AS (
  SELECT event_type, 1 AS lag_h, x, y1 AS y FROM lagged WHERE y1 IS NOT NULL
  UNION ALL
  SELECT event_type, 2, x, y2 FROM lagged WHERE y2 IS NOT NULL
  UNION ALL
  SELECT event_type, 3, x, y3 FROM lagged WHERE y3 IS NOT NULL
  UNION ALL
  SELECT event_type, 24, x, y24 FROM lagged WHERE y24 IS NOT NULL
), m AS (
  SELECT event_type, lag_h, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(x AS DECIMAL(18, 0))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(18, 0))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x AS DECIMAL(18, 0)) * CAST(x AS DECIMAL(18, 0)))
      AS DOUBLE) AS sxx,
    CAST(SUM(CAST(y AS DECIMAL(18, 0)) * CAST(y AS DECIMAL(18, 0)))
      AS DOUBLE) AS syy,
    CAST(SUM(CAST(x AS DECIMAL(18, 0)) * CAST(y AS DECIMAL(18, 0)))
      AS DOUBLE) AS sxy
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, lag_h, n AS n_pairs,
  CAST(FLOOR(
    (CAST(n AS DOUBLE) * sxy - sx * sy)
    / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
         * (CAST(n AS DOUBLE) * syy - sy * sy)) * 1000000
  ) AS BIGINT) AS acf_ppm
FROM m
WHERE (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
  AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0
""",
)
def q214_hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series autocorrelation: per event type, the sample Pearson
    autocorrelation of the hourly-total series at lags 1, 2, 3 and
    24 hours — the seasonality screen run before fitting q204's
    hour-of-day model (a strong lag-24 ACF says "daily cycle").
    Pairs come from LAG over the hourly frame (observed hours only);
    each lag's correlation uses the moment-sum closed form.
    Columns: event_type, lag_h, n_pairs, acf_ppm.

    Determinism: series values are exact integer milli-sums; hour
    buckets are integer epoch-µs DIV; moments accumulate in
    DECIMAL(18,0); one fixed IEEE closed form, FLOOR-ppm quantized;
    degenerate (zero-variance) slices are filtered identically in
    both engines.

    Scale: the hourly pre-aggregation is the whole trick — the fact
    collapses in ONE parallel hash-agg exchange to |types|·|hours|
    rows, and the LAG window then sorts only that tiny frame (the
    per-type window partition count is small, but its input is the
    aggregate, never the fact). The same shape holds at 100 TB:
    series analytics run over pre-bucketed totals, not raw events.
    """
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
    w = Window.partitionBy("event_type").orderBy("hr")
    lagged = h.select(
        "event_type",
        F.col("tot").alias("x"),
        F.lag("tot", 1).over(w).alias("y1"),
        F.lag("tot", 2).over(w).alias("y2"),
        F.lag("tot", 3).over(w).alias("y3"),
        F.lag("tot", 24).over(w).alias("y24"),
    )
    pairs = lagged.selectExpr(
        "event_type",
        "stack(4, 1, x, y1, 2, x, y2, 3, x, y3, 24, x, y24)"
        " AS (lag_h, x, y)",
    ).filter(F.col("y").isNotNull())
    xd = F.col("x").cast("decimal(18,0)")
    yd = F.col("y").cast("decimal(18,0)")
    m = pairs.groupBy("event_type", "lag_h").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    varx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = nd * F.col("syy") - F.col("sy") * F.col("sy")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        m.filter((varx > 0) & (vary > 0))
        .select(
            "event_type",
            "lag_h",
            F.col("n").alias("n_pairs"),
            F.floor(num / F.sqrt(varx * vary) * 1000000).cast("bigint").alias(
                "acf_ppm"
            ),
        )
    )


@query(
    "q215_custdist",
    oracle="""
WITH per_cust AS (
  SELECT c.c_custkey,
    CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority NOT LIKE '1-%'
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
""",
)
def q215_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13's customer-distribution shape: how many customers
    placed exactly N qualifying orders, INCLUDING the zero bucket —
    the filter lives INSIDE the outer-join condition (a WHERE would
    silently delete the no-order customers Q13 exists to count).
    Q13 excludes "special requests" comments; the fixture has no
    comment column, so the qualifying filter is o_orderpriority NOT
    LIKE '1-%' — same join-conditioned-predicate shape.
    Columns: c_count, custdist.

    Determinism: pure counts.

    Scale: the outer join shuffles both sides on custkey; the
    per-customer count reuses that distribution (no extra
    exchange), and the histogram rollup exchanges only
    |distinct counts| rows. NULL-priority orders fail the LIKE in
    both engines (three-valued logic → not joined).
    """
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (~F.col("o_orderpriority").like("1-%")),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("bigint").alias("custdist")
    )


@query(
    "q216_market_share",
    oracle="""
WITH sales AS (
  SELECT CAST(EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) AS INT)
      AS o_year,
    CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
      AS rev_cents,
    CASE WHEN sn.n_name = 'NATION_3' THEN 1 ELSE 0 END AS is_target
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = cn.n_regionkey
    AND r.r_name = 'AMERICA'
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
)
SELECT o_year,
  CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
  CAST(SUM(CASE WHEN is_target = 1 THEN rev_cents ELSE 0 END)
    AS BIGINT) AS nation_cents,
  CAST(SUM(CASE WHEN is_target = 1 THEN rev_cents ELSE 0 END)
    * 1000000 // SUM(rev_cents) AS BIGINT) AS share_ppm
FROM sales GROUP BY o_year
HAVING SUM(rev_cents) > 0
""",
)
def q216_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8's national-market-share shape: within the AMERICA
    region's PROMO-part market, what fraction of yearly revenue did
    NATION_3's suppliers capture. The numerator is a conditional sum
    in the SAME aggregate as the denominator — one pass, no
    share-vs-total self-join. Columns: o_year, total_cents,
    nation_cents, share_ppm.

    Determinism: revenue is cents (identical double expression tree
    then one ROUND — IEEE multiply is bit-identical cross-engine);
    the share is an integer cross-multiply floor-division
    (nation_cents·10⁶ DIV total_cents), never a float ratio.

    Scale: part/customer-side dims chain-broadcast after their
    filters; the fact shuffles only for the orderkey join; the
    year rollup is a tiny final exchange. The region filter prunes
    before the fact join (Catalyst pushes the dim filters below the
    join), so the shuffled fact subset is the market, not the
    corpus.
    """
    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation")
    r = (
        table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "AMERICA")
        .select("r_regionkey")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_nationkey"),
        F.col("n_regionkey").alias("cn_regionkey"),
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_nationkey"), F.col("n_name").alias("sn_name")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sales = (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c.join(F.broadcast(cn), c["c_nationkey"] == cn["cn_nationkey"]).join(F.broadcast(r), cn["cn_regionkey"] == r["r_regionkey"]).select("c_custkey"), o["o_custkey"] == F.col("c_custkey"))
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), s["s_nationkey"] == sn["sn_nationkey"])
        .select(
            F.year(F.col("o_orderdate").cast("date")).cast("int").alias("o_year"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("bigint")
            .alias("rev_cents"),
            F.when(F.col("sn_name") == "NATION_3", 1).otherwise(0).alias("is_target"),
        )
    )
    tgt = F.sum(F.when(F.col("is_target") == 1, F.col("rev_cents")).otherwise(0))
    agg = sales.groupBy("o_year").agg(
        F.sum("rev_cents").cast("bigint").alias("total_cents"),
        tgt.cast("bigint").alias("nation_cents"),
        F.expr(
            "CAST(SUM(CASE WHEN is_target = 1 THEN rev_cents ELSE 0 END)"
            " * 1000000 DIV SUM(rev_cents) AS BIGINT)"
        ).alias("share_ppm"),
    )
    return agg.filter(F.col("total_cents") > 0)


@query(
    "q217_top_revenue_suppliers",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
    CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
      AS BIGINT)) AS BIGINT) AS rev_cents
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
  GROUP BY l_suppkey
), ranked AS (
  SELECT l_suppkey, rev_cents,
    MAX(rev_cents) OVER () AS max_rev
  FROM rev
)
SELECT s.s_suppkey AS suppkey, s.s_name AS supp_name,
  r.rev_cents
FROM ranked r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.rev_cents = r.max_rev
""",
)
def q217_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15's top-supplier shape: suppliers whose quarterly
    revenue EQUALS the maximum (Q15 phrases it as a view joined to
    its own scalar MAX — here the anchor rides an empty-frame window
    over the aggregated revenue table, never a second scan of the
    fact). Columns: suppkey, supp_name, rev_cents.

    Determinism: per-row cents rounding inside the sum (exact BIGINT
    accumulation); ties all surface (Q15 semantics), no arbitrary
    pick needed.

    Scale: ONE fact exchange (the suppkey rollup, shipdate filter
    pushed to the scan); the MAX-anchor window runs over the
    |suppliers|-row aggregate — its single-partition collapse is
    bounded by the supplier dimension, not the fact (documented
    single-reducer-on-dim trade, same as q129's rank profile).
    Supplier names broadcast.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1996-04-01").cast("date"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("rev_cents")
    )
    ranked = rev.select(
        "l_suppkey",
        "rev_cents",
        F.max("rev_cents").over(Window.partitionBy()).alias("max_rev"),
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        ranked.filter(F.col("rev_cents") == F.col("max_rev"))
        .join(s, ranked["l_suppkey"] == s["s_suppkey"])
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supp_name"),
            "rev_cents",
        )
    )


@query(
    "q237_order_priority_check",
    oracle="""
SELECT o.o_orderpriority AS priority,
  CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND CAST(l.l_shipdate AS DATE)
          > CAST(o.o_orderdate AS DATE) + INTERVAL 90 DAY
  )
GROUP BY o.o_orderpriority
""",
)
def q237_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4's order-priority-checking shape: count Q1-1996
    orders, per priority, having AT LEAST ONE line shipped more
    than 90 days after ordering (Q4's commit<receipt lateness
    becomes ship>order+90 — the fixture has no commit/receipt
    dates; the EXISTS-semi-join shape is Q4's). Columns: priority,
    order_count.

    Determinism: pure counts; the lateness predicate is an integer
    day comparison.

    Scale: the EXISTS compiles to a LEFT SEMI join on orderkey —
    the fact is probed, never expanded (an inner join would
    duplicate multi-late-line orders and need a distinct); the
    date filter pushes to the orders scan, so the semi join's
    build side is one quarter of orders.
    """
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1996-04-01").cast("date"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (
            li["l_shipdate"].cast("date")
            > F.date_add(o["o_orderdate"].cast("date"), 90)
        ),
        "left_semi",
    )
    return late.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").cast("bigint").alias("order_count")
    )


@query(
    "q238_forecast_revenue",
    oracle="""
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100)
  AS BIGINT)) AS BIGINT) AS revenue_cents,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
)
def q238_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6's forecasting-revenue-change shape: the pure
    scan-filter-aggregate — revenue that would be gained by
    eliminating small discounts on low-quantity lines in one year.
    Columns: revenue_cents, n_lines.

    Determinism: per-row cents rounding inside the sum (identical
    double expression tree both engines).

    Scale: THE pushdown benchmark — every predicate reaches the
    parquet scan (plan-asserted), the aggregate is map-side
    partial + a single-row exchange; no shuffle carries data. At
    100 TB this is I/O-bound by construction, and min/max row-group
    statistics prune whole files on the shipdate range.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("revenue_cents"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
    )


@query(
    "q239_shipping_volume",
    oracle="""
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
  CAST(EXTRACT(year FROM CAST(l.l_shipdate AS DATE)) AS INT)
    AS l_year,
  CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
    AS BIGINT)) AS BIGINT) AS volume_cents
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
WHERE ((cn.n_name = 'NATION_1' AND sn.n_name = 'NATION_2')
    OR (cn.n_name = 'NATION_2' AND sn.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
""",
)
def q239_shipping_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7's volume-shipping shape: trade volume between two
    nations (the fixture's synthetic NATION_1/NATION_2) by direction and year — the disjunctive NATION-PAIR
    predicate that must prune at the dimension level, not post-join.
    Columns: cust_nation, supp_nation, l_year, volume_cents.

    Determinism: cents rounding inside exact sums; year as integer.

    Scale: Catalyst cannot push the pair-disjunction below the join
    by itself, but each side's IN (nation pair) implication
    DOES prune the broadcast dimensions, so the fact rows surviving
    the two broadcast probes are only pair-touching lines; the
    residual pair filter runs on that reduced stream and the
    (nation, nation, year) rollup is a tiny exchange.
    """
    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(cn), c["c_nationkey"] == cn["cn_key"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), s["s_nationkey"] == sn["sn_key"])
        .filter(
            (
                (F.col("cust_nation") == "NATION_1")
                & (F.col("supp_nation") == "NATION_2")
            )
            | (
                (F.col("cust_nation") == "NATION_2")
                & (F.col("supp_nation") == "NATION_1")
            )
        )
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year(F.col("l_shipdate").cast("date")).cast("int").alias("l_year"),
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("volume_cents")
        )
    )


@query(
    "q240_product_profit",
    oracle="""
SELECT sn.n_name AS supp_nation,
  CAST(EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) AS INT)
    AS o_year,
  CAST(SUM(CAST(ROUND((l.l_extendedprice * (1 - l.l_discount)
    - 0.6 * p.p_retailprice * l.l_quantity) * 100) AS BIGINT))
    AS BIGINT) AS profit_cents
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
  AND p.p_name LIKE '%steel%'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2
""",
)
def q240_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9's product-type-profit shape: profit on a part-name
    family by supplier nation and order year. The fixture has no
    partsupp.ps_supplycost, so cost is modeled as 60% of the part's
    retail price per unit — the SHAPE (name-filtered part dim, four
    joins, nation×year profit rollup with a negative-capable
    measure) is Q9's. Columns: supp_nation, o_year, profit_cents.

    Determinism: one per-row cents rounding over an identical
    double tree, exact BIGINT sums (profit can be negative — sums,
    not DIVs, so engine floor semantics never enter).

    Scale: part (name-filtered), supplier, nation broadcast; the
    only fact shuffle is the orderkey join against orders; the
    rollup key space is |nations|·|years|.
    """
    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%steel%"))
        .select("p_partkey", "p_retailprice")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == F.col("sn_key"))
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            "supp_nation",
            F.year(F.col("o_orderdate").cast("date")).cast("int").alias("o_year"),
        )
        .agg(
            F.sum(F.round(profit * 100).cast("bigint"))
            .cast("bigint")
            .alias("profit_cents")
        )
    )


@query(
    "q241_returned_item_report",
    oracle="""
SELECT c.c_custkey AS custkey, c.c_name AS cust_name,
  n.n_name AS nation,
  CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
    AS BIGINT)) AS BIGINT) AS lost_revenue_cents
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1996-07-01'
GROUP BY 1, 2, 3
ORDER BY lost_revenue_cents DESC, custkey
LIMIT 20
""",
)
def q241_returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10's returned-item-reporting shape: the 20 customers
    who returned the most revenue in a half-year window — the
    churn-risk escalation list. Columns: custkey, cust_name,
    nation, lost_revenue_cents.

    Determinism: cents sums; the top-20 tie-breaks on custkey.

    Scale: the returnflag + date filters push to the scans, the
    custkey rollup is the one fact exchange, and the final top-20
    compiles to TakeOrderedAndProject (per-partition heaps + driver
    merge, plan-asserted) — never a global sort.
    """
    l = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1996-07-01").cast("date"))
    ).select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("cust_name"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("lost_revenue_cents")
        )
        .orderBy(F.col("lost_revenue_cents").desc(), "custkey")
        .limit(20)
    )


@query(
    "q242_shipping_priority_split",
    oracle="""
SELECT l.l_linestatus AS linestatus,
  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE CAST(l.l_shipdate AS DATE)
      > CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY
  AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l.l_shipdate AS DATE) < DATE '1997-01-01'
GROUP BY 1
""",
)
def q242_shipping_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12's shipping-modes-and-priority shape: among lines
    shipped late (>60 days after ordering — the fixture has no
    commit/receipt dates or ship modes, so lateness adapts and
    l_linestatus stands in for the mode dimension), count
    critical- vs normal-priority lines per group. The point of Q12
    is the join-predicate + double conditional count; both survive
    the adaptation. Columns: linestatus, high_line_count,
    low_line_count.

    Determinism: exact counts; NULL priorities fall into neither
    IN-list in both engines (three-valued logic → 0 both CASEs) —
    matching conditional-count semantics exactly.

    Scale: date filters push to the lineitem scan; the orderkey
    join is the one fact exchange; the rollup is 2 rows.
    """
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01").cast("date"))
    ).select("l_orderkey", "l_shipdate", "l_linestatus")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(
            o,
            (l["l_orderkey"] == o["o_orderkey"])
            & (
                l["l_shipdate"].cast("date")
                > F.date_add(o["o_orderdate"].cast("date"), 60)
            ),
        )
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
    )


@query(
    "q243_promo_revenue_share",
    oracle="""
SELECT
  CAST(SUM(CASE WHEN p.p_type = 'PROMO'
    THEN CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
      AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_cents,
  CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
    AS BIGINT)) AS BIGINT) AS total_cents,
  CAST(SUM(CASE WHEN p.p_type = 'PROMO'
    THEN CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
      AS BIGINT) ELSE 0 END) * 1000000
    // SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
      AS BIGINT)) AS BIGINT) AS promo_share_ppm
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-09-01'
  AND CAST(l.l_shipdate AS DATE) < DATE '1996-10-01'
""",
)
def q243_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14's promotion-effect shape: the share of one month's
    revenue that came from promotional parts — numerator and
    denominator in ONE conditional aggregate (Q14's CASE-sum /
    sum), share as an integer cross-multiply floor-division.
    Columns: promo_cents, total_cents, promo_share_ppm.

    Determinism: cents inside exact sums; integer DIV on
    non-negative operands.

    Scale: the month filter prunes the fact scan, part broadcasts,
    one global aggregate — no second pass for the denominator.
    """
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-09-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1996-10-01").cast("date"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    joined = l.join(p, l["l_partkey"] == p["p_partkey"]).select(
        rev.alias("rev"),
        F.when(F.col("p_type") == "PROMO", 1).otherwise(0).alias("is_promo"),
    )
    return joined.agg(
        F.sum(F.when(F.col("is_promo") == 1, F.col("rev")).otherwise(0))
        .cast("bigint")
        .alias("promo_cents"),
        F.sum("rev").cast("bigint").alias("total_cents"),
        F.expr(
            "CAST(SUM(CASE WHEN is_promo = 1 THEN rev ELSE 0 END) * 1000000"
            " DIV SUM(rev) AS BIGINT)"
        ).alias("promo_share_ppm"),
    )


@query(
    "q244_disjunctive_revenue",
    oracle="""
SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
  * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity >= 1 AND l.l_quantity <= 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 20
       AND l.l_quantity >= 10 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 30
       AND l.l_quantity >= 20 AND l.l_quantity <= 30)
""",
)
def q244_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19's discounted-revenue shape: an OR of three
    conjunctive (brand, size, quantity) branches spanning BOTH join
    sides — the classic test that the optimizer (a) keeps the
    disjunction as a join residual instead of a cartesian and
    (b) derives the implied single-side prefilters (brand IN (...),
    size ≤ 30, quantity ≤ 30) that CAN push below the join.
    Columns: revenue_cents, n_lines.

    Determinism: cents inside exact sums, integral quantities.

    Scale: part broadcasts after the derived brand/size prefilter;
    the quantity bounds push to the fact scan; the residual OR
    evaluates on the probe stream. One global aggregate.
    """
    l = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 30)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("revenue_cents"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
    )


_PSEUDO_PARTSUPP_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS availqty,
    CAST(MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
      // CAST(l_quantity AS BIGINT)) AS BIGINT) AS cost_cents
  FROM lineitem GROUP BY 1, 2
"""


def _pseudo_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partsupp surrogate (the fixture ships no partsupp table):
    per (part, supplier), available quantity = total lined quantity
    and supply cost = the cheapest observed unit price (integer
    cents DIV on non-negative operands). One (part, supp) exchange
    with map-side combine; used by the Q2/Q11/Q16/Q20 adaptations.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias(
                "availqty"
            ),
            F.min(
                F.expr(
                    "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
                    " DIV CAST(l_quantity AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("cost_cents"),
        )
    )


@query(
    "q245_min_cost_supplier",
    oracle=f"""
WITH ps AS ({_PSEUDO_PARTSUPP_SQL}
), eu AS (
  SELECT s.s_suppkey, s.s_name,
    CAST(ROUND(s.s_acctbal * 100) AS BIGINT) AS acctbal_cents,
    n.n_name AS nation
  FROM supplier s
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
    AND r.r_name = 'EUROPE'
), cand AS (
  SELECT p.p_partkey, eu.s_suppkey, eu.s_name, eu.acctbal_cents,
    eu.nation, ps.cost_cents,
    MIN(ps.cost_cents) OVER (PARTITION BY p.p_partkey) AS min_cost
  FROM ps
  JOIN eu ON eu.s_suppkey = ps.ps_suppkey
  JOIN part p ON p.p_partkey = ps.ps_partkey AND p.p_size = 15
)
SELECT acctbal_cents, s_name AS supp_name, nation,
  p_partkey AS partkey, cost_cents
FROM cand WHERE cost_cents = min_cost
ORDER BY acctbal_cents DESC, nation, supp_name, partkey
LIMIT 100
""",
)
def q245_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's minimum-cost-supplier shape: for every size-15
    part, the EUROPE supplier(s) quoting the part's minimum supply
    cost — Q2's correlated MIN subquery decorrelated into a window
    over the region-filtered supply table, then the classic
    acctbal-ranked top-100. Columns: acctbal_cents, supp_name,
    nation, partkey, cost_cents.

    Determinism: costs are integer cents (DIV on non-negative);
    ties all kept by the = min predicate; the final top-100 is
    fully tie-broken (acctbal, nation, name, partkey).

    Scale: the supply table builds in one (part, supp) exchange;
    the EUROPE supplier dim broadcasts and PRUNES it before the
    per-part MIN window (region-first is Q2's planning trick);
    part filters broadcast; TakeOrdered caps the answer.
    """
    ps = _pseudo_partsupp(spark, sf_dir)
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("s_acctbal") * 100).cast("bigint").alias(
                "acctbal_cents"
            ),
            F.col("n_name").alias("nation"),
        )
    )
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 15)
        .select("p_partkey")
    )
    cand = (
        ps.join(eu, ps["ps_suppkey"] == eu["s_suppkey"])
        .join(p, ps["ps_partkey"] == p["p_partkey"])
        .withColumn(
            "min_cost",
            F.min("cost_cents").over(Window.partitionBy("p_partkey")),
        )
    )
    return (
        cand.filter(F.col("cost_cents") == F.col("min_cost"))
        .select(
            "acctbal_cents",
            F.col("s_name").alias("supp_name"),
            "nation",
            F.col("p_partkey").alias("partkey"),
            "cost_cents",
        )
        .orderBy(
            F.col("acctbal_cents").desc(), "nation", "supp_name", "partkey"
        )
        .limit(100)
    )


@query(
    "q246_important_stock",
    oracle=f"""
WITH ps AS ({_PSEUDO_PARTSUPP_SQL}
), de AS (
  SELECT ps.ps_partkey, ps.availqty * ps.cost_cents AS value_cents
  FROM ps
  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
    AND n.n_name = 'NATION_9'
), per_part AS (
  SELECT ps_partkey AS partkey,
    CAST(SUM(value_cents) AS BIGINT) AS value_cents
  FROM de GROUP BY 1
), tot AS (
  SELECT CAST(SUM(value_cents) AS BIGINT) AS total FROM per_part
)
SELECT partkey, value_cents
FROM per_part, tot
WHERE value_cents * 10000 > total
""",
)
def q246_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11's important-stock-identification shape: parts
    whose NATION_9-supplied inventory value exceeds 1/10000 of the
    nation's total — the HAVING-against-a-scalar-fraction pattern,
    with the fraction as the integer cross-multiply
    value·10⁴ > total (no float share). Columns: partkey,
    value_cents.

    Determinism: integer values and counts throughout.

    Scale: the nation-filtered supply rows collapse per part (one
    exchange of the filtered subset); the scalar total is a 1-row
    broadcast onto the per-part frame — the same sanctioned anchor
    pattern as q213 (a window can't express it without holding the
    unfiltered frame).
    """
    ps = _pseudo_partsupp(spark, sf_dir)
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")
    de = (
        ps.join(s, ps["ps_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(
            "ps_partkey",
            (F.col("availqty") * F.col("cost_cents")).alias("value_cents"),
        )
    )
    per_part = de.groupBy(F.col("ps_partkey").alias("partkey")).agg(
        F.sum("value_cents").cast("bigint").alias("value_cents")
    ).transform(checkpoint)
    tot = per_part.agg(F.sum("value_cents").cast("bigint").alias("total"))
    return (
        per_part.crossJoin(F.broadcast(tot))
        .filter(F.col("value_cents") * 10000 > F.col("total"))
        .select("partkey", "value_cents")
    )


@query(
    "q247_supplier_relationship_count",
    oracle=f"""
WITH ps AS ({_PSEUDO_PARTSUPP_SQL}
)
SELECT p.p_brand AS brand, CAST(p.p_size AS INT) AS size,
  CAST(COUNT(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
FROM ps
JOIN part p ON p.p_partkey = ps.ps_partkey
  AND p.p_brand <> 'Brand#1' AND p.p_size IN (1, 5, 10, 15, 20)
WHERE ps.ps_suppkey NOT IN (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
)
GROUP BY 1, 2
""",
)
def q247_supplier_relationship_count(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16's parts/supplier-relationship shape: how many
    DISTINCT suppliers can furnish each (brand, size) family,
    excluding one brand and a supplier blacklist (Q16 excludes
    complaint suppliers by comment; the fixture adaptation
    blacklists negative account balances — the NOT IN anti-join
    shape is the point). Columns: brand, size, supplier_cnt.

    Determinism: distinct counts; the blacklist has no NULL keys so
    NOT IN never collapses to empty (the classic NOT-IN-NULL trap
    does not arise — s_suppkey is a key).

    Scale: the part filter broadcasts and prunes the supply table;
    the blacklist broadcasts as a left-anti probe; COUNT(DISTINCT)
    runs the two-phase Expand aggregate bounded by
    |groups|·|suppliers|.
    """
    ps = _pseudo_partsupp(spark, sf_dir)
    p = (
        table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 5, 10, 15, 20)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    bad = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    return (
        ps.join(p, ps["ps_partkey"] == p["p_partkey"])
        .join(bad, ps["ps_suppkey"] == bad["s_suppkey"], "left_anti")
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_size").cast("int").alias("size"),
        )
        .agg(
            F.countDistinct("ps_suppkey").cast("bigint").alias("supplier_cnt")
        )
    )


@query(
    "q248_excess_stock_suppliers",
    oracle=f"""
WITH ps AS ({_PSEUDO_PARTSUPP_SQL}
), shipped AS (
  SELECT l_partkey, l_suppkey,
    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_1996
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
    AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
  GROUP BY 1, 2
), excess AS (
  SELECT DISTINCT ps.ps_suppkey
  FROM ps
  JOIN part p ON p.p_partkey = ps.ps_partkey
    AND p.p_name LIKE 'c%'
  JOIN shipped sh ON sh.l_partkey = ps.ps_partkey
    AND sh.l_suppkey = ps.ps_suppkey
  WHERE ps.availqty > 2 * sh.qty_1996
)
SELECT s.s_suppkey AS suppkey, s.s_name AS supp_name
FROM supplier s
JOIN excess e ON e.ps_suppkey = s.s_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
  AND n.n_name = 'NATION_6'
""",
)
def q248_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20's potential-part-promotion shape: NATION_6's suppliers
    holding EXCESS stock of a part-name family — stock above twice
    what they shipped of it in 1996 (Q20's availqty > ½·shipped,
    inverted to the integer cross-multiply availqty > 2·qty). Q20's
    doubly-nested IN subqueries decorrelate into a (part, supp)
    join chain + DISTINCT — the scalable form. Columns: suppkey,
    supp_name.

    Determinism: integer quantity comparisons; DISTINCT on a key.

    Scale: the name-filtered part dim broadcasts and prunes both
    the supply table and the 1996 shipment rollup; the (part, supp)
    equi-join co-partitions; the DISTINCT is supplier-bounded and
    the nation filter broadcasts at the end.
    """
    ps = _pseudo_partsupp(spark, sf_dir)
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("c%"))
        .select("p_partkey")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias(
            "qty_1996"
        )
    )
    excess = (
        ps.join(p, ps["ps_partkey"] == p["p_partkey"])
        .join(
            shipped,
            (ps["ps_partkey"] == shipped["l_partkey"])
            & (ps["ps_suppkey"] == shipped["l_suppkey"]),
        )
        .filter(F.col("availqty") > 2 * F.col("qty_1996"))
        .select("ps_suppkey")
        .distinct()
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_6")
    return (
        s.join(excess, s["s_suppkey"] == excess["ps_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supp_name"),
        )
    )
