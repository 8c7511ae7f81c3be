"""Round-6 additions: sketch/dedup/graph/clustering operators and
SQL-surface queries.

- q182 KMV cardinality sketch, q183 winnowing fingerprints,
  q184 adjacency-Jaccard link prediction, q185/q186 DBSCAN density
  labels + flood fill, q187 reciprocal-rank fusion — each pairs a
  reusable operator (operators/sketches.py, dedup.py, graph.py,
  clustering.py, topn.py) with a closed-form or brute-force DuckDB
  oracle.
- q188 TPC-H Q17-shape correlated threshold, q189 PIVOT,
  q190 UNPIVOT, q191 LISTAGG, q192 SCD2 point-in-time join,
  q193 native session_window — the relational/SQL surfaces a
  warehouse user expects, each under a portable-SQL oracle.

The catalog-wide make-it-exact discipline throughout: md5-hex
order as the uniform draw (KMV, winnowing tie-breaks), integer ppm
floor division (Jaccard, RRF), integer squared distances (DBSCAN),
integer cross-multiplication for thresholds (q188), cents for
money, epoch-µs for time."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from car_insurance_data_pipeline_spark_spark.plans.catalog import query, table
from car_insurance_data_pipeline_spark_spark.session import checkpoint


@query(
    "q182_kmv_distinct",
    oracle="""
WITH h AS (
  SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS h
  FROM lineitem WHERE l_partkey IS NOT NULL
), topk AS (
  SELECT h FROM h ORDER BY h LIMIT 256
), s AS (
  SELECT COUNT(*) AS cnt, MAX(h) AS mh FROM topk
)
SELECT CAST(256 AS INT) AS k,
  CAST(CASE WHEN cnt < 256 THEN cnt
    ELSE (255 * 281474976710656)
         // CAST('0x' || substr(mh, 1, 12) AS BIGINT)
  END AS BIGINT) AS est_distinct
FROM s
""",
)
def q182_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) cardinality sketch of distinct part
    keys in lineitem, k=256 — the bounded-state distinct-count
    primitive (operators/sketches.py). The estimator is exact
    integer arithmetic on the 48-bit prefix of the k-th smallest
    md5 (lowercase hex orders as the underlying integer — the
    md5-uniform-draw discipline), so unlike HLL the sketch value is
    oracle-checkable bit-for-bit: the oracle replays hash → top-k →
    (k-1)·2⁴⁸ DIV prefix. Columns: k, est_distinct.

    Scale: distinct hashes partial-aggregate map-side; ORDER BY h
    LIMIT k is TakeOrdered (per-partition top-k + k-row driver
    merge); sketch state is 32·k bytes at any input size.
    """
    from car_insurance_data_pipeline_spark_spark.operators.sketches import (
        kmv_distinct,
    )

    li = table(spark, sf_dir, "lineitem")
    return kmv_distinct(li, "l_partkey", 256)


@query(
    "q183_winnowing",
    oracle="""
WITH arr AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents
), sh AS (
  SELECT doc_id, i,
    md5(a[i] || ' ' || a[i+1] || ' ' || a[i+2])
      || lpad(CAST(i - 1 AS VARCHAR), 12, '0') AS hk
  FROM arr, unnest(range(1, len(a) - 1)) AS r(i)
), sel AS (
  SELECT doc_id, i,
    substr(MIN(hk) OVER (PARTITION BY doc_id ORDER BY i
                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
           1, 32) AS fp
  FROM sh
), fps AS (
  SELECT DISTINCT doc_id, fp FROM sel WHERE i >= 4
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
       MIN(fp) AS min_fp, MAX(fp) AS max_fp
FROM fps GROUP BY doc_id
""",
)
def q183_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint profile per document (k=3-word
    shingles, window w=4 — operators/dedup.winnowing_fingerprints):
    any w+k-1-word run shared verbatim between two documents is
    guaranteed a common selected fingerprint, at ~2/(w+1) the
    storage of the full shingle index. Selection (window-min with
    earliest-position ties) is one MIN over hash||position sort
    keys, stripped back to the 32-char hash on emission so shared
    runs match across documents regardless of offset; identical in
    both engines — the oracle replays it with DuckDB window
    functions over 1-based array positions mapped to the engine's
    0-based ones. Columns: doc_id, n_fp, min_fp, max_fp.

    Scale: per-doc windows only (no corpus-wide shuffle until the
    final distinct); the doc-id partitioning is reused across the
    lead windows and the selection window.
    """
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    d = table(spark, sf_dir, "documents")
    fp = winnowing_fingerprints(d, "doc_id", "text", k=3, w=4)
    return fp.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_fp"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


@query(
    "q184_node_similarity",
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
  SELECT u, COUNT(*) AS d FROM e GROUP BY u
), common AS (
  SELECT e1.u AS a, e2.u AS b, COUNT(*) AS n_common
  FROM e e1 JOIN e e2 ON e1.v = e2.v AND e1.u < e2.u
  GROUP BY e1.u, e2.u
)
SELECT c.a, c.b, CAST(c.n_common AS BIGINT) AS n_common,
  CAST(c.n_common * 1000000 // (da.d + db.d - c.n_common)
       AS BIGINT) AS ppm
FROM common c
JOIN deg da ON da.u = c.a
JOIN deg db ON db.u = c.b
ORDER BY ppm DESC, a, b LIMIT 50
""",
)
def q184_node_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the sequential co-purchase graph: top-50
    part pairs by neighborhood Jaccard (common neighbors / union of
    neighborhoods, as exact ppm — operators/graph.adjacency_jaccard).
    The pairs most likely to be co-purchased next, by the classic
    common-neighbors score. The oracle is the same wedge expansion
    in plain SQL. Columns: a, b, n_common, ppm (total order by
    (ppm DESC, a, b) keeps the LIMIT deterministic).

    Scale: wedge expansion is Θ(Σ deg(w)²) — the inherent exact
    cost; AQE skew-join splits hub partitions and the pair count is
    map-side combined. The top-50 is TakeOrdered, never a global
    sort. The sketched path for prohibitive Σdeg² is minhash over
    adjacency sets (q35's machinery).
    """
    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        adjacency_jaccard,
    )

    e0 = _copurchase_edges(spark, sf_dir)
    e = (
        e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .transform(checkpoint)
    )
    return (
        adjacency_jaccard(e)
        .orderBy(F.col("ppm").desc(), "a", "b")
        .limit(50)
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed distinct edges of the sequential co-purchase graph
    (consecutive lineitems within an order) — the shared substrate
    of q184's node similarity and q279's modularity.

    Kept as the SELF-JOIN form deliberately (optimization r11): the
    per-order array-transform builder
    (linkops.consecutive_copurchase_pairs) is faster standalone
    (1.10 s vs 1.46 s) and won in q144/q145/q274, but an interleaved
    A/B inside q184's wedge-expansion consumer read join 3.48 s vs
    HOF 4.31 s min-of-3 (and q267 similarly) — the array build's
    output layout interacts badly with the downstream wedge join
    regardless of checkpoint materialization order (measured with
    and without a pre-count). Scoped by measurement, not symmetry.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("b.l_linenumber") == F.col("a.l_linenumber") + 1)
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .distinct()
    )


@query(
    "q277_adjacency_sketch_pairs",
    oracle="""
WITH e AS (
  SELECT DISTINCT l_partkey AS u, l_suppkey AS v FROM lineitem
), d2 AS (
  SELECT u FROM e GROUP BY u HAVING COUNT(*) >= 2
), base AS (
  SELECT e.u, e.v FROM e JOIN d2 USING (u)
), un AS (
  SELECT u, v FROM base
  UNION ALL
  SELECT u + 10000000 AS u, v FROM base WHERE u % 50 = 0
), adj AS (
  SELECT u,
    md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY v)) AS sig,
    COUNT(*) AS deg
  FROM un GROUP BY u
)
SELECT a.u AS a, b.u AS b,
  CAST(a.deg AS BIGINT) AS n_common,
  CAST(1000000 AS BIGINT) AS ppm
FROM adj a JOIN adj b ON a.sig = b.sig AND a.u < b.u
""",
)
def q277_adjacency_sketch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE PATH for q184's wedge-expansion node similarity,
    under the hard oracle gate: adjacency_minhash_pairs (MinHash
    signatures over neighbor sets -> banded LSH candidates -> exact
    verification) on the part->supplier adjacency graph with planted
    CLONED neighborhoods (every 50th part re-inserted under
    partkey + 1e7 with the identical supplier set). Columns: a, b,
    n_common, ppm.

    Oracle-checkable despite LSH being approximate — the q72 trick
    lifted to graphs: at min_ppm = 1,000,000 only Jaccard-1.0
    (identical neighbor set) pairs survive exact verification, and
    identical sets produce identical signatures, so every such pair
    collides in EVERY band — recall is exactly 1 by construction,
    not probabilistically. The emitted set is therefore precisely
    "node pairs with equal neighbor sets" (planted clones plus any
    organic twins), which the oracle computes by grouping nodes on
    their sorted neighbor list. Recall on sub-1.0 Jaccard is pinned
    >=80% separately (tests/test_graph.py). The degree>=2 input cut
    keeps single-supplier parts (whose neighbor sets collide
    trivially and pair quadratically) out of BOTH engines.

    Scale: this is the plan 100 TB runs when q184's exact wedge key
    space (Theta(sum deg^2)) is prohibitive — candidates per LSH
    bucket instead of per wedge, verification restricted to
    candidates, no posting-array state anywhere.
    """
    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        adjacency_minhash_pairs,
    )

    li = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("u"), F.col("l_suppkey").alias("v"))
        .distinct()
    )
    deg2 = li.groupBy("u").agg(F.count("*").alias("d")).filter(F.col("d") >= 2)
    base = li.join(deg2.select("u"), "u")
    clones = base.filter(F.col("u") % 50 == 0).withColumn(
        "u", F.col("u") + F.lit(10_000_000)
    )
    # Lazy checkpoint (optimization round r11): the edge frame feeds
    # FIVE consumers inside adjacency_minhash_pairs (signature agg,
    # both candidate self-join legs, both verification legs), and its
    # sharing boundary is a union-of-joins — NOT an exchange — so
    # ReuseExchange cannot dedup it (the round-7 rule: checkpoint for
    # lineage when the fork point isn't an exchange). Without it the
    # static plan re-derived the build 5×: 48 parquet scans / 118
    # exchanges at sf0.1 → 2 scans + one shared build after.
    edges = base.unionByName(clones).transform(checkpoint)
    # banding tuned to the J=1.0 target: 4 bands x 8 rows admits a
    # random pair with P = 1-(1-J^8)^4 (J=0.5 -> ~1.5%) vs the
    # default 16x2's ~64% at J=0.25 — ~10x fewer candidates into
    # exact verification (measured 1.6M -> 0.2M at sf0.1), while
    # identical neighbor sets still collide in EVERY band (recall
    # stays exactly 1, the property the oracle depends on)
    return adjacency_minhash_pairs(
        edges, num_hashes=32, bands=4, min_ppm=1_000_000
    )


@query(
    "q185_dbscan_labels",
    oracle="""
WITH pts AS (
  SELECT c_custkey AS id,
         (c_custkey * 4999) % 10000 AS x,
         (c_custkey * 9973) % 10000 AS y
  FROM customer
), nb AS (
  SELECT a.id, CAST(COUNT(*) AS BIGINT) AS n_neighbors
  FROM pts a JOIN pts b
    ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 62500
  GROUP BY a.id
), core AS (
  SELECT id FROM nb WHERE n_neighbors >= 4
), near AS (
  SELECT DISTINCT a.id
  FROM pts a JOIN pts b
    ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 62500
  JOIN core c ON c.id = b.id
)
SELECT n.id, n.n_neighbors,
  CASE WHEN n.n_neighbors >= 4 THEN 'core'
       WHEN near.id IS NOT NULL THEN 'border'
       ELSE 'noise' END AS status
FROM nb n LEFT JOIN near ON near.id = n.id
""",
)
def q185_dbscan_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density classification (core / border / noise) of
    customers on deterministic synthetic integer coordinates
    (hash-spread from the key), ε=250, minPts=4 —
    operators/clustering.dbscan_labels. The oracle is the quadratic
    ε-ball count + core-proximity test; the engine never builds it:
    ε-edge grid cells, 3×3-neighborhood probe explode, one equi-join
    on the cell key (the q151 spatial-join shape), all-integer
    squared distances. Columns: id, n_neighbors, status.

    The cluster-id flood fill (connected_components over the
    core-core ε-graph) composes on top; this stage is the density
    model itself, kept as a pure two-join plan.
    """
    from car_insurance_data_pipeline_spark_spark.operators.clustering import (
        dbscan_labels,
    )

    c = table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 4999) % 10000).alias("x"),
        ((F.col("c_custkey") * 9973) % 10000).alias("y"),
    )
    return dbscan_labels(pts, eps=250, min_pts=4)


@query(
    "q186_dbscan_clusters",
    oracle="""
WITH RECURSIVE pts AS (
  SELECT c_custkey AS id,
         (c_custkey * 4999) % 10000 AS x,
         (c_custkey * 9973) % 10000 AS y
  FROM customer
), nb AS (
  SELECT a.id, COUNT(*) AS n
  FROM pts a JOIN pts b
    ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 62500
  GROUP BY a.id
), core AS (
  SELECT id FROM nb WHERE n >= 4
), ce AS (
  SELECT a.id AS u, b.id AS v
  FROM pts a JOIN pts b
    ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 62500
   AND a.id <> b.id
  JOIN core ca ON ca.id = a.id
  JOIN core cb ON cb.id = b.id
), r AS (
  SELECT id AS node, id AS lbl FROM core
  UNION
  SELECT ce.v, r.lbl FROM r JOIN ce ON ce.u = r.node
)
SELECT node AS id, CAST(MIN(lbl) AS BIGINT) AS cluster
FROM r GROUP BY node
""",
)
def q186_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN flood fill on top of q185's density model: cluster id
    per CORE point = the minimum core id reachable through core-core
    ε-links (operators/clustering.dbscan_clusters → the
    connected_components min-reachable-id contract, so the result is
    visit-order independent — border points are excluded exactly
    because textbook DBSCAN makes their assignment order-dependent).
    The oracle replays the flood fill as a recursive label-spread
    CTE closed by MIN(label). Columns: id, cluster.

    Scale: ε-pairs from the grid join; the fill inherits
    connected_components' alternating-star rounds (O(log n)) with
    union-find adaptivity below the driver threshold.
    """
    from car_insurance_data_pipeline_spark_spark.operators.clustering import (
        dbscan_clusters,
    )

    c = table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 4999) % 10000).alias("x"),
        ((F.col("c_custkey") * 9973) % 10000).alias("y"),
    )
    return dbscan_clusters(pts, eps=250, min_pts=4)


@query(
    "q187_rank_fusion",
    oracle="""
WITH rev AS (
  SELECT l_partkey AS part,
    SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cents
  FROM lineitem GROUP BY l_partkey
), rrank AS (
  SELECT part,
    ROW_NUMBER() OVER (ORDER BY cents DESC, part) AS rnk
  FROM rev
), freq AS (
  SELECT l_partkey AS part, COUNT(*) AS n
  FROM lineitem GROUP BY l_partkey
), frank AS (
  SELECT part, ROW_NUMBER() OVER (ORDER BY n DESC, part) AS rnk
  FROM freq
), terms AS (
  SELECT part, 1000000 // (60 + rnk) AS term FROM rrank
  UNION ALL
  SELECT part, 1000000 // (60 + rnk) AS term FROM frank
)
SELECT part, CAST(SUM(term) AS BIGINT) AS rrf_score
FROM terms GROUP BY part
ORDER BY rrf_score DESC, part LIMIT 50
""",
)
def q187_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two part rankings — by revenue
    cents and by order frequency (operators/topn.
    reciprocal_rank_fusion): the standard multi-retriever fusion
    step of a search/RAG pipeline, with each 1/(k+rank) term
    quantized to integer micro-units BEFORE the sum so the fused
    score is exact under any aggregation order. Ranks are
    row_numbers with (metric DESC, part) tie-breaks — total orders,
    so both engines rank identically. Columns: part, rrf_score
    (top-50 by (score DESC, part)).

    Scale: two map-side-combined aggregates + two global
    row_number windows over the AGGREGATED (part-level) frames —
    the windows sort |parts| rows, not |lineitem| — then a k·N-row
    union + hash aggregate; the top-50 is TakeOrdered.
    """
    from car_insurance_data_pipeline_spark_spark.operators.topn import (
        reciprocal_rank_fusion,
    )
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(
            F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")
        ).alias("cents")
    )
    rrank = rev.select(
        "part",
        F.row_number()
        .over(Window.orderBy(F.col("cents").desc(), "part"))
        .alias("rank"),
    )
    freq = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count("*").alias("n")
    )
    frank = freq.select(
        "part",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), "part"))
        .alias("rank"),
    )
    return (
        reciprocal_rank_fusion([rrank, frank], "part")
        .orderBy(F.col("rrf_score").desc(), "part")
        .limit(50)
    )


@query(
    "q188_small_qty_revenue",
    oracle="""
WITH stats AS (
  SELECT l_partkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT p.p_brand AS brand,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
    AS revenue_cents
FROM lineitem l
JOIN stats s ON s.l_partkey = l.l_partkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE CAST(l.l_quantity AS BIGINT) * 5 * s.cnt < s.sq
GROUP BY p.p_brand
""",
)
def q188_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17's correlated-threshold shape: revenue from line
    items whose quantity is below 20% of their part's average, by
    brand. The correlated scalar subquery decorrelates into one
    per-part aggregate joined back (what Catalyst does to the
    subquery form anyway — written join-first so the plan is
    explicit). The 0.2·avg comparison is integer
    cross-multiplication (qty·5·cnt < Σqty — l_quantity is integral
    in the fixtures, asserted by the oracle's exact BIGINT cast),
    so no float threshold wobble exists in either engine.
    Columns: brand, n_rows, revenue_cents.

    Scale: two partkey-hash exchanges (stats + join) that AQE can
    co-plan; part joins in brand via the fact's partkey — broadcast
    at dimension size. Map-side combine on the brand rollup.
    """
    li = table(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sq"),
        F.count("*").alias("cnt"),
    )
    p = table(spark, sf_dir, "part").select(
        F.col("p_partkey"), F.col("p_brand")
    )
    return (
        li.join(stats, "l_partkey")
        .filter(
            F.col("l_quantity").cast("bigint") * 5 * F.col("cnt")
            < F.col("sq")
        )
        .join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(
                F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")
            ).cast("bigint").alias("revenue_cents"),
        )
    )


@query(
    "q189_priority_pivot",
    oracle="""
SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_year,
  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
       AS BIGINT) AS p_urgent,
  CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
       AS BIGINT) AS p_high,
  CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)
       AS BIGINT) AS p_medium,
  CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0
       END) AS BIGINT) AS p_notspec,
  CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
       AS BIGINT) AS p_low
FROM orders GROUP BY order_year
""",
)
def q189_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT surface: yearly order counts pivoted across the five
    order priorities — `df.groupBy().pivot(values).count()` with the
    value list PINNED (an unpinned pivot runs an extra distinct scan
    to discover values, and column order would be data-dependent).
    Pivot cells with no rows surface as NULL and are coalesced to 0
    to match the oracle's CASE-sum formulation exactly.
    Columns: order_year, p_urgent, p_high, p_medium, p_notspec,
    p_low.

    Scale: a pivot with pinned values compiles to a
    count-per-(year, priority) aggregate plus a pivotfirst rollup —
    two keyed exchanges, the second over the already-aggregated
    ~|years|·5-row frame (trivial); the thing the pinning BUYS is
    the absence of a distinct-discovery scan, so the table is read
    once (plan-asserted in tests/test_scale_plans.py).
    """
    o = table(spark, sf_dir, "orders")
    pivoted = (
        o.select(
            F.year(F.col("o_orderdate").cast("date")).cast("int").alias(
                "order_year"
            ),
            "o_orderpriority",
        )
        .groupBy("order_year")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .count()
    )
    return pivoted.select(
        "order_year",
        *[
            F.coalesce(F.col(f"`{v}`"), F.lit(0)).cast("bigint").alias(a)
            for v, a in [
                ("1-URGENT", "p_urgent"),
                ("2-HIGH", "p_high"),
                ("3-MEDIUM", "p_medium"),
                ("4-NOT SPECIFIED", "p_notspec"),
                ("5-LOW", "p_low"),
            ]
        ],
    )


@query(
    "q190_unpivot",
    oracle="""
WITH w AS (
  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_year,
    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
         AS BIGINT) AS p_urgent,
    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
         AS BIGINT) AS p_low
  FROM orders GROUP BY order_year
)
SELECT order_year, 'p_urgent' AS priority, p_urgent AS n FROM w
UNION ALL
SELECT order_year, 'p_low' AS priority, p_low AS n FROM w
""",
)
def q190_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) surface — q189's inverse: the wide
    per-priority count columns fold back to (order_year, priority,
    n) rows via `df.unpivot` (Spark 3.4+ API, compiles to the same
    Expand node as the SQL UNPIVOT clause). The oracle is the
    portable UNION ALL formulation. Columns: order_year, priority,
    n.

    Scale: Expand emits value-count rows per input row of the
    ALREADY-AGGREGATED wide frame (~|years| rows) — the unpivot
    itself is free; the cost is q189's aggregate, unchanged.
    """
    o = table(spark, sf_dir, "orders")
    wide = (
        o.select(
            F.year(F.col("o_orderdate").cast("date")).cast("int").alias(
                "order_year"
            ),
            "o_orderpriority",
        )
        .groupBy("order_year")
        .agg(
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).cast("bigint").alias("p_urgent"),
            F.sum(
                F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0)
            ).cast("bigint").alias("p_low"),
        )
    )
    return wide.unpivot(
        "order_year", ["p_urgent", "p_low"], "priority", "n"
    )


@query(
    "q191_listagg",
    oracle="""
WITH top_parts AS (
  SELECT p_brand, p_partkey,
    ROW_NUMBER() OVER (PARTITION BY p_brand
                       ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part
)
SELECT p_brand AS brand,
  string_agg(CAST(p_partkey AS VARCHAR), ',' ORDER BY p_partkey) AS top_keys
FROM top_parts WHERE rn <= 5
GROUP BY p_brand
""",
)
def q191_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG surface (new in Spark 4): per brand, the five
    priciest parts' keys joined into one ordered CSV string —
    `listagg(...) WITHIN GROUP (ORDER BY ...)` vs DuckDB's
    `string_agg(... ORDER BY ...)`. The WITHIN GROUP ordering plus
    unique keys makes the concatenated string deterministic — an
    unordered listagg would be partition-order dependent and could
    never hash-match. Columns: brand, top_keys.

    Scale: the per-brand top-5 is a ranked window over the (small)
    part dimension; listagg state is bounded by the rn <= 5 cut
    BEFORE aggregation, so no group's string grows with data
    volume.
    """
    from pyspark.sql import Window

    p = table(spark, sf_dir, "part")
    top = (
        p.select(
            "p_brand",
            "p_partkey",
            F.row_number()
            .over(
                Window.partitionBy("p_brand").orderBy(
                    F.col("p_retailprice").desc(), "p_partkey"
                )
            )
            .alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )
    top.createOrReplaceTempView("eng_top_parts")
    return spark.sql(
        """
        SELECT p_brand AS brand,
               listagg(CAST(p_partkey AS STRING), ',')
                 WITHIN GROUP (ORDER BY p_partkey) AS top_keys
        FROM eng_top_parts GROUP BY p_brand
        """
    )


@query(
    "q192_pit_join",
    oracle="""
WITH vers AS (
  SELECT c_custkey, v.ver,
    CASE v.ver WHEN 0 THEN DATE '1992-01-01'
      ELSE CAST(DATE '1992-01-01'
           + INTERVAL ((c_custkey * 97 + v.ver * 571) % 2400) DAY
           AS DATE) END AS valid_from
  FROM customer, unnest(range(3)) AS v(ver)
), bounds AS (
  SELECT c_custkey, ver, valid_from,
    COALESCE(LEAD(valid_from) OVER (PARTITION BY c_custkey
                                    ORDER BY valid_from, ver),
             DATE '9999-12-31') AS valid_to
  FROM vers
)
SELECT b.c_custkey AS custkey,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(b.ver) AS BIGINT) AS ver_sum
FROM orders o
JOIN bounds b ON b.c_custkey = o.o_custkey
 AND CAST(o.o_orderdate AS DATE) >= b.valid_from
 AND CAST(o.o_orderdate AS DATE) < b.valid_to
GROUP BY b.c_custkey
""",
)
def q192_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) join against an SCD2-style versioned
    dimension — the warehouse lookup the reference's star schema
    implies but its scripts never implement: each fact row joins
    the dimension VERSION valid at its date. The dimension's three
    versions per customer are synthesized with key-derived
    valid_from dates (deterministic in both engines; LEAD closes
    each interval half-open, the SCD2 convention q108 uses).
    Returns per-customer order counts and the sum of matched
    version ids — a checksum over exactly WHICH version each order
    hit, so an off-by-one in the interval bounds breaks the hash.
    Columns: custkey, n_orders, ver_sum.

    Scale: the join is EQUI on the customer key with the date range
    as a residual filter — a plain hash/sort-merge join partitioned
    by key, NOT a range-only join (which would need an interval
    index or a broadcast). Versions-per-key is bounded (3), so the
    per-key expansion is constant; LEAD runs over the (small)
    dimension partitioned by key.
    """
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")
    vers = c.select(
        "c_custkey",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("ver"),
    ).select(
        "c_custkey",
        "ver",
        F.when(F.col("ver") == 0, F.lit("1992-01-01").cast("date"))
        .otherwise(
            F.date_add(
                F.lit("1992-01-01").cast("date"),
                ((F.col("c_custkey") * 97 + F.col("ver") * 571) % 2400)
                .cast("int"),
            )
        )
        .alias("valid_from"),
    )
    w = Window.partitionBy("c_custkey").orderBy("valid_from", "ver")
    bounds = vers.select(
        "c_custkey",
        "ver",
        "valid_from",
        F.coalesce(
            F.lead("valid_from").over(w), F.lit("9999-12-31").cast("date")
        ).alias("valid_to"),
    )
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("od")
    )
    return (
        o.join(
            bounds,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("od") >= F.col("valid_from"))
            & (F.col("od") < F.col("valid_to")),
        )
        .groupBy(F.col("c_custkey").alias("custkey"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("ver").cast("bigint").alias("ver_sum"),
        )
    )


@query(
    "q193_session_window",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), g AS (
  SELECT user_id, us,
    CASE WHEN us - LAG(us) OVER (PARTITION BY user_id
                                 ORDER BY us, event_id)
              >= 600000000 THEN 1 ELSE 0 END AS new_s
  FROM e
), s AS (
  SELECT user_id, us,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                     ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id,
  CAST(MIN(us) AS BIGINT) AS start_us,
  CAST(MAX(us) + 600000000 AS BIGINT) AS end_us,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
""",
)
def q193_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native `session_window` aggregation (the built-in dynamic
    session operator, vs q24/q71's hand-rolled islands): 10-minute
    gap sessions per user, emitting (start, end = last event + gap,
    count) as integer epoch-µs. Spark merges an event into a
    session iff it lands strictly inside [start, last+gap) — the
    oracle replays exactly that rule as gaps-and-islands (new
    session when the gap is >= G, half-open boundary included).
    Batch mode here; the same expression drives the streaming
    variant with watermarked state. Columns: user_id, start_us,
    end_us, n_events.

    Scale: session_window is ONE exchange on user_id + an in-
    partition merge sort — the same cost envelope as the window
    formulation, but with streaming-state semantics for free when
    moved onto readStream.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    e = (
        events_with_us(spark, sf_dir)
        .filter(F.col("user_id").isNotNull() & F.col("ts_us").isNotNull())
        .select("user_id", F.timestamp_micros(F.col("ts_us")).alias("t"))
    )
    return (
        e.groupBy(
            "user_id", F.session_window("t", "10 minutes").alias("w")
        )
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            F.unix_micros(F.col("w.end")).alias("end_us"),
            "n_events",
        )
    )


@query(
    "q194_linear_interp",
    oracle="""
WITH pts AS (
  SELECT user_id, epoch_us(ts) AS us,
    MAX(CAST(ROUND(value * 100) AS BIGINT)) AS cents
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id, epoch_us(ts)
), seg AS (
  SELECT user_id, us AS t0, cents AS c0,
    LEAD(us) OVER (PARTITION BY user_id ORDER BY us) AS t1,
    LEAD(cents) OVER (PARTITION BY user_id ORDER BY us) AS c1
  FROM pts
), grid AS (
  SELECT s.user_id, g.h, s.t0, s.c0, s.t1, s.c1
  FROM seg s, unnest(range(s.t0 // 3600000000 + 1,
                           s.t1 // 3600000000 + 1)) AS g(h)
  WHERE s.t1 IS NOT NULL
), on_grid AS (
  SELECT user_id, us // 3600000000 AS h, cents
  FROM pts p
  WHERE us % 3600000000 = 0
    AND us = (SELECT MIN(us) FROM pts q WHERE q.user_id = p.user_id)
)
SELECT user_id, CAST(h AS BIGINT) AS hour_nr,
  CAST((c0 * (t1 - h * 3600000000) + c1 * (h * 3600000000 - t0))
       // (t1 - t0) AS BIGINT) AS cents
FROM grid
UNION ALL
SELECT user_id, CAST(h AS BIGINT) AS hour_nr, CAST(cents AS BIGINT)
FROM on_grid
""",
)
def q194_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with LINEAR interpolation — the
    companion to q166's step-hold TWA and q63's gap-fill: each
    user's irregular (ts, value) points resample onto an hourly
    grid, value at grid hour h = the length-weighted blend of the
    bracketing points, computed as ONE integer floor division of
    non-negative integer products (c0·(t1−h) + c1·(h−t0)) DIV
    (t1−t0) — exact cross-engine, no float interpolation wobble.
    Grid hours attach to their bracketing SEGMENT (consecutive-point
    pairs via LEAD), half-open on the left so every hour lands in
    exactly one segment; a first point sitting exactly on the grid
    is the one row no segment covers and unions in explicitly.
    Columns: user_id, hour_nr, cents.

    Scale: segments are a per-user LEAD window; grid expansion is
    sequence+explode per segment — fan-out equals the OUTPUT size
    (linear), never a grid×points join; everything stays partitioned
    by user_id.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )
    from pyspark.sql import Window

    H = 3_600_000_000
    e = events_with_us(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("ts_us").isNotNull()
    )
    pts = e.groupBy("user_id", F.col("ts_us").alias("us")).agg(
        F.max(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("cents")
    )
    w = Window.partitionBy("user_id").orderBy("us")
    seg = pts.select(
        "user_id",
        F.col("us").alias("t0"),
        F.col("cents").alias("c0"),
        F.lead("us").over(w).alias("t1"),
        F.lead("cents").over(w).alias("c1"),
    ).filter(F.col("t1").isNotNull())
    # guard BEFORE the explode: Spark's sequence(a, b) DESCENDS when
    # b < a (DuckDB's range is empty), so sub-hour segments must be
    # filtered out, not relied on to produce nothing
    grid = seg.filter(
        F.expr(f"t1 DIV {H} >= t0 DIV {H} + 1")
    ).select(
        "user_id",
        "t0",
        "c0",
        "t1",
        "c1",
        F.explode(
            F.sequence(
                F.expr(f"t0 DIV {H} + 1"), F.expr(f"t1 DIV {H}")
            )
        ).alias("h"),
    )
    interp = grid.select(
        "user_id",
        F.col("h").cast("bigint").alias("hour_nr"),
        F.expr(
            f"CAST((c0 * (t1 - h * {H}) + c1 * (h * {H} - t0)) "
            f"DIV (t1 - t0) AS BIGINT)"
        ).alias("cents"),
    )
    first_on_grid = (
        pts.withColumn(
            "rn", F.row_number().over(Window.partitionBy("user_id").orderBy("us"))
        )
        .filter((F.col("rn") == 1) & (F.col("us") % H == 0))
        .select(
            "user_id",
            F.expr(f"CAST(us DIV {H} AS BIGINT)").alias("hour_nr"),
            F.col("cents").cast("bigint").alias("cents"),
        )
    )
    return interp.unionByName(first_on_grid)


@query(
    "q195_sql_scripting",
    oracle="""
WITH c AS (
  SELECT i,
    (SELECT COUNT(*) FROM orders
     WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) >= i * 5000000)
      AS n
  FROM unnest(range(1, 6)) AS r(i)
)
SELECT CAST(5 AS INT) AS n_iters,
  CAST(SUM(n) AS BIGINT) AS total,
  CAST(SUM(i * n) AS BIGINT) AS weighted
FROM c
""",
)
def q195_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting surface (Spark 4 BEGIN…END compound
    statements): a WHILE loop whose body runs a DATA-DEPENDENT
    scalar query per iteration (count of orders above an escalating
    price threshold, in exact cents) and accumulates into declared
    variables — the procedural control-flow surface warehouse users
    migrate from stored procedures. The oracle unrolls the same
    five thresholds declaratively. Columns: n_iters, total,
    weighted.

    Scale: each iteration is one full aggregate (5 scans here —
    scripting trades plan fusion for procedural clarity; the
    declarative unroll the oracle uses IS the scale-preferred form
    and Spark runs it as one scan with 5 conditional sums — this
    query exists to verify the scripting surface, not to recommend
    it for hot paths).
    """
    table(spark, sf_dir, "orders").createOrReplaceTempView("eng_orders")
    return spark.sql(
        """
        BEGIN
          DECLARE i INT DEFAULT 0;
          DECLARE total BIGINT DEFAULT 0;
          DECLARE weighted BIGINT DEFAULT 0;
          WHILE i < 5 DO
            SET i = i + 1;
            SET total = total + (
              SELECT COUNT(*) FROM eng_orders
              WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT)
                    >= i * 5000000);
            SET weighted = weighted + i * (
              SELECT COUNT(*) FROM eng_orders
              WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT)
                    >= i * 5000000);
          END WHILE;
          SELECT CAST(i AS INT) AS n_iters,
                 CAST(total AS BIGINT) AS total,
                 CAST(weighted AS BIGINT) AS weighted;
        END
        """
    )


@query(
    "q196_hash_classifier",
    oracle="""
WITH arr AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents
), uni AS (
  SELECT doc_id, a[i] AS g
  FROM arr, unnest(range(1, len(a) + 1)) AS r(i)
  WHERE len(a) >= 1 AND a[1] <> ''
), bi AS (
  SELECT doc_id, a[i] || ' ' || a[i+1] AS g
  FROM arr, unnest(range(1, len(a))) AS r(i)
  WHERE len(a) >= 1 AND a[1] <> ''
), feats AS (
  SELECT doc_id,
    (CAST('0x' || substr(md5(g), 1, 4) AS INT) % 1024) AS b
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
), scored AS (
  SELECT doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_features,
    CAST(SUM((b * 2654435761) % 2001 - 1000) AS BIGINT) AS score
  FROM feats GROUP BY doc_id
)
SELECT doc_id, n_features, score,
  CASE WHEN score > 0 THEN 'keep' ELSE 'drop' END AS label
FROM scored
""",
)
def q196_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-n-gram linear classifier inference — the fastText-
    style model-based quality filter of an LLM data pipeline
    (hash word uni+bigrams into B=1024 buckets, sum the bucket
    weights, threshold), with the model synthesized in closed form
    so the oracle can replay INFERENCE exactly: bucket =
    16-bit-md5-prefix mod 1024 (the md5-routing discipline), weight
    w(b) = (b·2654435761) mod 2001 − 1000 — a fixed integer lookup
    both engines compute identically. A real trained model swaps in
    as a broadcast (bucket → weight) map; the plan — explode,
    hash-bucket, weight-sum per doc — is byte-for-byte the
    production inference shape, JVM-only (md5/conv/sum built-ins,
    no Python UDF). Columns: doc_id, n_features, score, label.

    Scale: one explode per n-gram order + ONE map-side-combined
    aggregate on doc_id; the weight table (even trained) is
    B-bounded and broadcastable; nothing shuffles but (doc_id,
    partial sums).
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("a"),
    ).filter(
        # try_element_at, not element_at: ANSI mode raises on an
        # out-of-bounds index and filter conjuncts don't short-circuit
        (F.size("a") >= 1)
        & (F.try_element_at("a", F.lit(1)) != "")
    )
    uni = toks.select("doc_id", F.explode("a").alias("g"))
    # bigrams in-row via an indexed HOF over the n-1 prefix (0-based
    # lambda index i → the successor is a[i+1]); this frame is
    # explode-only, so the per-element lambda cost stays off the
    # corpus-shingling hot path the lead-window builders own
    bi = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(a, 1, size(a) - 1),"
                " (x, i) -> concat(x, ' ', a[i + 1]))"
            )
        ).alias("g"),
    )
    feats = uni.unionByName(bi).select(
        "doc_id",
        F.expr(
            "CAST(conv(substr(md5(g), 1, 4), 16, 10) AS INT) % 1024"
        ).alias("b"),
    )
    scored = feats.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_features"),
        F.sum(
            F.expr("(b * 2654435761) % 2001 - 1000")
        ).cast("bigint").alias("score"),
    )
    return scored.select(
        "doc_id",
        "n_features",
        "score",
        F.when(F.col("score") > 0, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
    )


@query(
    "q197_sampled_quantiles",
    oracle="""
WITH s AS (
  SELECT o_orderpriority AS grp,
    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
    o_orderkey
  FROM orders
  WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '40'
), r AS (
  SELECT grp, cents,
    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cents, o_orderkey)
      AS rn,
    COUNT(*) OVER (PARTITION BY grp) AS n
  FROM s
)
SELECT grp,
  CAST(MAX(n) AS BIGINT) AS n_sampled,
  CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS BIGINT)
    AS p50_cents,
  CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END)
       AS BIGINT) AS p90_cents
FROM r GROUP BY grp
""",
)
def q197_sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory quantile estimation by DETERMINISTIC sampling
    — the reproducible alternative to approx_percentile (q92's
    sketch is rows-only because its internals aren't
    SQL-replayable; this path is): an md5-threshold sample
    (lowercase-hex-prefix < '40' ≈ 25% — the md5-uniform-draw
    discipline, so both engines select the IDENTICAL sample) and
    the exact rank-picked median/p90 of that sample, with
    (cents, orderkey) tie-breaks making the picked element unique.
    Sampling error follows the standard order-statistic bound
    (~1/sqrt(np) quantile deviation); the estimate itself is
    bit-reproducible, which the sketch never is across engines.
    Columns: grp, n_sampled, p50_cents, p90_cents.

    Scale: the sample is a narrow filter at scan time (predicate on
    md5 of the key — no shuffle); ranks are per-group windows over
    the SAMPLE (p·n rows), not the table; memory is the sample
    partition, tunable by the threshold.
    """
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    s = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        "o_orderkey",
    ).filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2)
        < "40"
    )
    w = Window.partitionBy("grp").orderBy("cents", "o_orderkey")
    r = s.select(
        "grp",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("grp")).alias("n"),
    )
    return r.groupBy("grp").agg(
        F.max("n").cast("bigint").alias("n_sampled"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("cents"))
        ).cast("bigint").alias("p50_cents"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(9 * n + 9) DIV 10"), F.col("cents")
            )
        ).cast("bigint").alias("p90_cents"),
    )


@query(
    "q198_lpm_routing",
    oracle="""
WITH ips AS (
  SELECT c_custkey, (c_custkey * 2654435761) % 4294967296 AS ip
  FROM customer
), r24 AS (
  SELECT (v * 999983) % 16777216 AS p, MIN((v * 17) % 100) AS hop
  FROM unnest(range(4096)) AS t(v) GROUP BY 1
), r16 AS (
  SELECT (v * 4049) % 65536 AS p, MIN((v * 13) % 100) AS hop
  FROM unnest(range(1024)) AS t(v) GROUP BY 1
), r8 AS (
  SELECT v AS p, (v * 7) % 100 AS hop
  FROM unnest(range(256)) AS t(v) WHERE v % 3 = 0
), m AS (
  SELECT i.c_custkey,
    CASE WHEN a.hop IS NOT NULL THEN 24
         WHEN b.hop IS NOT NULL THEN 16
         WHEN c.hop IS NOT NULL THEN 8 ELSE 0 END AS level,
    CAST(COALESCE(a.hop, b.hop, c.hop, -1) AS INT) AS next_hop
  FROM ips i
  LEFT JOIN r24 a ON a.p = i.ip // 256
  LEFT JOIN r16 b ON b.p = i.ip // 65536
  LEFT JOIN r8  c ON c.p = i.ip // 16777216
)
SELECT CAST(level AS INT) AS level, next_hop,
  CAST(COUNT(*) AS BIGINT) AS n_customers
FROM m GROUP BY level, next_hop
""",
)
def q198_lpm_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-prefix-match lookup (CIDR routing / IP geolocation
    shape): each customer's synthetic 32-bit address matches the
    most specific of three routing tables (/24, /16, /8 — all
    key-derived in closed form so both engines build identical
    tables, prefix collisions collapsed by MIN next-hop). LPM is
    expressed the scale-correct way: one EQUALITY join per prefix
    length on the masked address (ip DIV 2^(32-len)) with a
    priority coalesce — never a range join or a per-row longest
    scan; the route tables are bounded and broadcast. Columns:
    level, next_hop, n_customers.

    Scale: N fixed prefix lengths → N broadcast hash joins on
    computed masks (real routing tables have ≤32 levels; in
    practice 3-5 populated ones); the fact side streams through
    with no shuffle until the final rollup.
    """
    c = table(spark, sf_dir, "customer")
    ips = c.select(
        "c_custkey",
        ((F.col("c_custkey") * F.lit(2654435761)) % F.lit(4294967296)).alias(
            "ip"
        ),
    )
    r24 = (
        spark.range(4096)
        .select(
            ((F.col("id") * 999983) % 16777216).alias("p"),
            ((F.col("id") * 17) % 100).alias("h"),
        )
        .groupBy("p")
        .agg(F.min("h").alias("hop24"))
    )
    r16 = (
        spark.range(1024)
        .select(
            ((F.col("id") * 4049) % 65536).alias("p"),
            ((F.col("id") * 13) % 100).alias("h"),
        )
        .groupBy("p")
        .agg(F.min("h").alias("hop16"))
    )
    r8 = (
        spark.range(256)
        .filter(F.col("id") % 3 == 0)
        .select(F.col("id").alias("p"), ((F.col("id") * 7) % 100).alias("hop8"))
    )
    m = (
        ips.join(
            F.broadcast(r24), F.expr("ip DIV 256") == r24["p"], "left"
        )
        .drop("p")
        .join(F.broadcast(r16), F.expr("ip DIV 65536") == r16["p"], "left")
        .drop("p")
        .join(
            F.broadcast(r8), F.expr("ip DIV 16777216") == r8["p"], "left"
        )
        .drop("p")
        .select(
            F.when(F.col("hop24").isNotNull(), 24)
            .when(F.col("hop16").isNotNull(), 16)
            .when(F.col("hop8").isNotNull(), 8)
            .otherwise(0)
            .cast("int")
            .alias("level"),
            F.coalesce("hop24", "hop16", "hop8", F.lit(-1))
            .cast("int")
            .alias("next_hop"),
        )
    )
    return m.groupBy("level", "next_hop").agg(
        F.count("*").cast("bigint").alias("n_customers")
    )


@query(
    "q267_adamic_adar",
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
  SELECT u, COUNT(*) AS d FROM e GROUP BY u
), wedge AS (
  SELECT e1.u AS a, e2.u AS b,
    CAST(FLOOR(1000000000000.0 / ln(CAST(dw.d AS DOUBLE)))
      AS BIGINT) AS term_pico
  FROM e e1
  JOIN deg dw ON dw.u = e1.v
  JOIN e e2 ON e2.v = e1.v AND e1.u < e2.u
), s AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_common,
    CAST(SUM(term_pico) AS BIGINT) AS aa_pico
  FROM wedge GROUP BY a, b
)
SELECT a, b, n_common, aa_pico
FROM s ORDER BY aa_pico DESC, a, b LIMIT 50
""",
)
def q267_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the sequential co-purchase
    graph: top-50 part pairs by Σ 1/ln(deg(w)) over shared
    neighbors w — the rarity-weighted upgrade of q184's raw
    common-neighbor Jaccard (a shared HUB neighbor is weak evidence;
    a shared rare neighbor is strong). Each wedge term is one fixed
    IEEE tree FLOOR-quantized to pico before the integer rollup
    (operators/graph.adamic_adar), so the oracle replays it exactly.
    Columns: a, b, n_common, aa_pico (total order by
    (aa_pico DESC, a, b) keeps the LIMIT deterministic).

    Scale (round-11): adamic_adar is cost-dispatched, but THIS
    consumer pins dispatch='exact' deliberately — it is a global
    TOP-K-BY-SCORE query, and the round-11 fidelity measurement
    (operator docstring + SCALE_CHECK addendum) showed no sketch
    preserves that head at 10×: the top AA pairs are made by 2-3
    RARE shared neighbors on otherwise-dissimilar neighborhoods,
    so LSH reaches 5/50, budget-capped truncation 10/50, edge
    sampling 2/50. The exact expansion IS the scale path for
    top-k: linear in Σ deg², weight attached pre-join so the
    rollup is map-side combined, AQE skew-splits hub centers —
    the measured budget bounds interactive single-node work, not
    cluster work. The sketch route serves similar-neighborhood
    consumers (q277's family). The top-50 is TakeOrdered.
    """
    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        adamic_adar,
    )

    # self-join substrate kept here too — the HOF builder measured
    # SLOWER inside this wedge consumer (see _copurchase_edges note)
    e0 = _copurchase_edges(spark, sf_dir)
    e = (
        e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .transform(checkpoint)
    )
    return (
        adamic_adar(e, dispatch="exact")
        .orderBy(F.col("aa_pico").desc(), "a", "b")
        .limit(50)
    )


@query(
    "q279_brand_modularity",
    oracle="""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey
   AND b.l_linenumber = a.l_linenumber + 1
   AND a.l_partkey <> b.l_partkey
), und AS MATERIALIZED (
  SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM e0
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und
), deg AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u, v FROM und UNION SELECT v, u FROM und)
  GROUP BY u
), lab AS (
  SELECT p_partkey AS u, p_brand AS c FROM part
), ein AS (
  SELECT la.c, CAST(COUNT(*) AS BIGINT) AS e_in
  FROM und
  JOIN lab la ON la.u = und.u
  JOIN lab lb ON lb.u = und.v AND lb.c = la.c
  GROUP BY la.c
), dsum AS (
  SELECT lab.c, CAST(SUM(deg.d) AS BIGINT) AS d_sum
  FROM deg JOIN lab USING (u) GROUP BY lab.c
)
SELECT dsum.c AS brand,
  CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in,
  dsum.d_sum,
  CAST(FLOOR((CAST(COALESCE(ein.e_in, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
    - (CAST(dsum.d_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
      * (CAST(dsum.d_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE))))
    * 1000000000.0) AS BIGINT) AS mod_ppb
FROM dsum LEFT JOIN ein ON ein.c = dsum.c, m
""",
)
def q279_brand_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the BRAND partition over the sequential
    co-purchase graph — the standard "is this partition real
    community structure?" score (Q = sum_c [e_c/m - (d_c/2m)^2]),
    here answering whether co-purchases are brand-assortative. Each
    community's contribution is emitted as its own row (the form a
    pipeline aggregates and also uses to rank communities by
    cohesion); terms are FLOOR-quantized to ppb so the total is an
    exact integer sum. Columns: brand, e_in, d_sum, mod_ppb.

    Determinism: edge/degree counts are exact integers; each
    contribution is one fixed IEEE tree (two divisions, one
    multiply-subtract) FLOOR-quantized per community — negative
    contributions floor identically in both engines (FLOOR over
    double, never integer DIV, per the truncation-vs-floor trap).

    Scale: the undirected edge set is one distinct exchange; degrees
    one more; the labeling joins are broadcast (part is a dimension);
    everything after the first exchange is |brands|-sized. Computing
    modularity for a LABELING (vs searching for one, Louvain-style)
    is a one-pass reduction at any corpus size.
    """
    e0 = _copurchase_edges(spark, sf_dir)
    und = (
        e0.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .transform(checkpoint)
    )
    m = und.agg(F.count("*").cast("bigint").alias("m"))
    sym = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count("*").cast("bigint").alias("d"))
    lab = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("u"), F.col("p_brand").alias("c")
    )
    la = lab.select(F.col("u").alias("ua"), F.col("c"))
    lb = lab.select(F.col("u").alias("ub"), F.col("c").alias("cb"))
    ein = (
        und.join(la, und["u"] == la["ua"])
        .join(
            lb,
            (und["v"] == lb["ub"]) & (F.col("cb") == F.col("c")),
        )
        .groupBy("c")
        .agg(F.count("*").cast("bigint").alias("e_in"))
    )
    dsum = (
        deg.join(lab, "u")
        .groupBy("c")
        .agg(F.sum("d").cast("bigint").alias("d_sum"))
    )
    md = F.col("m").cast("double")
    half = F.col("d_sum").cast("double") / (F.lit(2.0) * md)
    return (
        dsum.join(ein, "c", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("c").alias("brand"),
            F.coalesce(F.col("e_in"), F.lit(0)).cast("bigint").alias("e_in"),
            "d_sum",
            F.floor(
                (
                    F.coalesce(F.col("e_in"), F.lit(0)).cast("double") / md
                    - half * half
                )
                * F.lit(1000000000.0)
            )
            .cast("bigint")
            .alias("mod_ppb"),
        )
    )


@query(
    "q296_degree_assortativity",
    oracle="""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey
   AND b.l_linenumber = a.l_linenumber + 1
   AND a.l_partkey <> b.l_partkey
), und AS MATERIALIZED (
  SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM e0
), deg AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u, v FROM und UNION SELECT v, u FROM und)
  GROUP BY u
), ed AS (
  SELECT da.d AS x, db.d AS y
  FROM und JOIN deg da ON da.u = und.u JOIN deg db ON db.u = und.v
), dir AS (
  SELECT x, y FROM ed UNION ALL SELECT y AS x, x AS y FROM ed
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(x AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS sx,
    CAST(SUM(CAST(x AS DECIMAL(38, 0)) * CAST(x AS DECIMAL(38, 0)))
      AS DECIMAL(38, 0)) AS sxx,
    CAST(SUM(CAST(x AS DECIMAL(38, 0)) * CAST(y AS DECIMAL(38, 0)))
      AS DECIMAL(38, 0)) AS sxy
  FROM dir
)
SELECT n AS n_endpoints,
  CAST(sx AS BIGINT) AS sum_deg,
  CAST(FLOOR(
    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
    * 1000000) AS BIGINT) AS assortativity_ppm
FROM m
WHERE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
""",
)
def q296_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman 2002):
    the Pearson correlation of endpoint degrees over the
    DIRECTED-doubled edge list — positive means hubs link to hubs
    (social-network-like), negative means hubs link to leaves
    (technological/dependency-like), the one-number structural
    summary next to q279's modularity and q274's clustering
    coefficients. Because both marginals of the doubled edge list
    are identical, the textbook excess-degree formula reduces to a
    plain Pearson with sx = sy and sxx = syy — exact DECIMAL moment
    sums, one closing FLOOR tree. Columns: n_endpoints, sum_deg,
    assortativity_ppm.

    Determinism: exact integer degrees and DECIMAL moments; one
    fixed IEEE closing tree; the zero-variance guard filters
    identically in both engines.

    Scale: edge build + degree rollup are the q279 exchanges; the
    moment aggregate is one map-side-combined pass over edges with
    degrees attached by two broadcast-or-shuffle hash joins —
    nothing is ever quadratic; degree skew lands in AQE-split
    partitions.
    """
    e0 = _copurchase_edges(spark, sf_dir)
    und = (
        e0.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .transform(checkpoint)
    )
    sym = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count("*").cast("bigint").alias("d"))
    da = deg.select(F.col("u").alias("ua"), F.col("d").alias("x"))
    db = deg.select(F.col("u").alias("ub"), F.col("d").alias("y"))
    ed = (
        und.join(da, und["u"] == da["ua"])
        .join(db, und["v"] == db["ub"])
        .select("x", "y")
    )
    dird = ed.unionByName(
        ed.select(F.col("y").alias("x"), F.col("x").alias("y"))
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    m = dird.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(xd).cast("decimal(38,0)").alias("sx"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    var = nd * F.col("sxx").cast("double") - sxd * sxd
    return m.filter(var > 0).select(
        F.col("n").alias("n_endpoints"),
        F.col("sx").cast("bigint").alias("sum_deg"),
        F.floor(
            (nd * F.col("sxy").cast("double") - sxd * sxd)
            / var
            * F.lit(1000000)
        )
        .cast("bigint")
        .alias("assortativity_ppm"),
    )
