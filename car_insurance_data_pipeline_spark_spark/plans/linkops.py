"""Record-linkage and interval-analytics catalog queries (round 4):
blocked fuzzy-matching (entity resolution) and sweep-line interval
concurrency. Both are north-star extensions (not in the reference —
no reference cite possible), both oracle-checked.

Cross-engine determinism notes specific to this module:

- Fuzzy matching normalizes text identically in both engines
  (strip non-ASCII → trim → lower → collapse ``\\s+`` to one space;
  DuckDB needs the explicit ``'g'`` flag to match Spark's
  replace-all default) and compares fixed 40-char prefixes. The
  non-ASCII strip comes FIRST and exists because the two engines'
  ``levenshtein`` disagree on non-ASCII input — DuckDB's is
  byte-based (levenshtein('café','cafe') = 2) while Spark's is
  codepoint-based (= 1) — and because lower() of non-ASCII
  codepoints is itself locale/engine-sensitive; after the strip
  both engines operate on pure ASCII where bytes == codepoints, so
  the parity contract holds for ARBITRARY text, not just ASCII
  fixtures. Edit distance is exact integer arithmetic — no float
  parity concerns.
- All interval arithmetic is integer epoch-µs (the ts_us_expr
  discipline); the day key is an integer epoch-day (``ts_us div
  86_400_000_000``), never a session-timezone DATE cast.
- Window orderings carry a unique tie-break: (t_us, delta, event_id)
  is unique because each event contributes exactly one +1 and one -1
  boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from car_insurance_data_pipeline_spark_spark.plans.catalog import query, table
from car_insurance_data_pipeline_spark_spark.session import checkpoint

# Blocking caps the per-block pair count at _MAX_BLOCK^2/2 — the
# standard record-linkage guard against a degenerate block (e.g. all
# docs sharing a boilerplate opening) going quadratic.
_FUZZY_PREFIX = 40
_FUZZY_BLOCK = 8
_FUZZY_MAX_DIST = 5
_MAX_BLOCK = 50


@query(
    "q133_fuzzy_pairs",
    oracle=f"""
WITH p AS (
  SELECT doc_id,
    substring(regexp_replace(trim(lower(
        regexp_replace(COALESCE(text, ''), '[^\\x00-\\x7f]', '', 'g'))),
              '\\s+', ' ', 'g'), 1, {_FUZZY_PREFIX}) AS pfx
  FROM documents
), blocked AS (
  SELECT doc_id, pfx, substring(pfx, 1, {_FUZZY_BLOCK}) AS blk,
    COUNT(*) OVER (PARTITION BY substring(pfx, 1, {_FUZZY_BLOCK})) AS blk_n
  FROM p
), kept AS (
  SELECT * FROM blocked WHERE blk_n <= {_MAX_BLOCK}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(levenshtein(a.pfx, b.pfx) AS INT) AS dist
FROM kept a JOIN kept b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.pfx, b.pfx) <= {_FUZZY_MAX_DIST}
ORDER BY doc_a, doc_b
""",
)
def q133_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-duplicate pairs (entity resolution): normalize
    each document's 40-char prefix, block on the first 8 chars, and
    emit within-block pairs whose prefix edit distance is ≤ 5. The
    edit-distance complement to the token-set (q34 Jaccard) and
    hash-signature (q35/q36) dedup families — catches small
    character-level mutations those miss.

    Cross-engine determinism: identical normalization (see module
    docstring); levenshtein is exact integer DP in both engines.

    Scale: blocking bounds the candidate set — one hash exchange on
    the block key for the window count, and the self-join reuses that
    same partitioning (join key = blk), so no block's pairs ever
    leave one task. The blk_n ≤ 50 df-cut (mirrored in the oracle)
    caps per-task work at 50²/2 ≈ 1.2k distance computations; the
    Spark side passes a threshold to levenshtein so the DP early-
    terminates at distance 6 (band algorithm), which the DuckDB
    oracle cannot express but which never changes kept-pair values.
    """
    docs = table(spark, sf_dir, "documents")
    ascii_text = F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")), r"[^\x00-\x7f]", ""
    )
    pfx = F.substring(
        F.regexp_replace(F.trim(F.lower(ascii_text)), r"\s+", " "),
        1,
        _FUZZY_PREFIX,
    )
    p = docs.select("doc_id", pfx.alias("pfx")).withColumn(
        "blk", F.substring("pfx", 1, _FUZZY_BLOCK)
    )
    kept = (
        p.withColumn("blk_n", F.count("*").over(Window.partitionBy("blk")))
        .filter(F.col("blk_n") <= _MAX_BLOCK)
        .select("doc_id", "pfx", "blk")
    )
    a, b = kept.alias("a"), kept.alias("b")
    # threshold=+1 lets the banded DP bail out early; it returns -1
    # for "above threshold", so keep the filter on the real distance.
    dist = F.levenshtein(F.col("a.pfx"), F.col("b.pfx"), _FUZZY_MAX_DIST + 1)
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter((dist >= 0) & (dist <= _FUZZY_MAX_DIST))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("int").alias("dist"),
        )
        .orderBy("doc_a", "doc_b")
    )


_DAY_US = 86_400_000_000


@query(
    "q134_max_concurrency",
    oracle=f"""
WITH iv AS (
  SELECT event_id, event_type,
    epoch_us(ts) AS s_us,
    epoch_us(ts) // {_DAY_US} AS eday,
    LEAST(epoch_us(ts)
            + CAST(FLOOR(COALESCE(value, 0) * 60) AS BIGINT) * 1000000,
          (epoch_us(ts) // {_DAY_US} + 1) * {_DAY_US}) AS e_us
  FROM events
), b AS (
  SELECT event_type, eday, s_us AS t_us, 1 AS delta, event_id FROM iv
  UNION ALL
  SELECT event_type, eday, e_us, -1, event_id FROM iv
)
SELECT event_type,
  strftime(DATE '1970-01-01' + CAST(eday AS INT), '%Y-%m-%d') AS day,
  CAST(MAX(run) AS INT) AS max_concurrent
FROM (
  SELECT event_type, eday,
    SUM(delta) OVER (PARTITION BY event_type, eday
                     ORDER BY t_us, delta, event_id) AS run
  FROM b
)
GROUP BY event_type, eday
ORDER BY event_type, day
""",
)
def q134_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent in-flight events per (event_type, day) via the
    sweep-line +1/−1 boundary trick: each event is an interval
    [ts, ts + value minutes) clamped to its start day; the max of the
    running boundary sum is the day's peak concurrency. The classic
    ops/telemetry interval-overlap aggregation (server sessions,
    concurrent claims, call-center load).

    Cross-engine determinism: integer epoch-µs throughout; duration
    is FLOOR(value·60) whole seconds (identical IEEE multiply + floor
    in both engines); NULL value coalesces to 0 so no NULL boundary
    times reach the window ordering (engines disagree on NULL sort
    position); at equal timestamps the −1 boundary sorts before the
    +1 (delta ascending), so touching intervals never count as
    concurrent — and (delta, event_id) completes a unique tie-break.

    Scale: the sweep is windowed per (event_type, eday) — state for
    one day of one type per task, never a global sort (day-clamping
    is what makes the partition key exact rather than approximate).
    At extreme per-day volumes the same range-slice + prefix-offset
    stitching used by token_budget_select (plans/corpusops.py)
    decomposes a day; the catalog shape keeps the declarative form.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    e = events_with_us(spark, sf_dir)
    iv = e.select(
        "event_id",
        "event_type",
        F.col("ts_us").alias("s_us"),
        F.expr(f"ts_us div {_DAY_US}").alias("eday"),
        F.least(
            F.col("ts_us")
            + F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 60).cast("bigint")
            * F.lit(1_000_000).cast("bigint"),
            (F.expr(f"ts_us div {_DAY_US}") + 1) * F.lit(_DAY_US),
        ).alias("e_us"),
    )
    starts = iv.select(
        "event_type",
        "eday",
        F.col("s_us").alias("t_us"),
        F.lit(1).alias("delta"),
        "event_id",
    )
    ends = iv.select(
        "event_type",
        "eday",
        F.col("e_us").alias("t_us"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    w = Window.partitionBy("event_type", "eday").orderBy("t_us", "delta", "event_id")
    return (
        starts.unionByName(ends)
        .withColumn("run", F.sum("delta").over(w))
        .groupBy("event_type", "eday")
        .agg(F.max("run").cast("int").alias("max_concurrent"))
        .select(
            "event_type",
            # ISO string, not DATE: no catalog query emits a raw DATE
            # (engines surface dates differently through Arrow/pandas)
            F.date_format(
                F.date_from_unix_date(F.col("eday").cast("int")), "yyyy-MM-dd"
            ).alias("day"),
            "max_concurrent",
        )
        .orderBy("event_type", "day")
    )


def copurchase_oriented_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build q135's degree-oriented edge list (src, dst, dst_d):
    each co-purchase edge directed from its lower (degree, node)
    endpoint to its higher one.

    Per-order pair generation WITHOUT a lineitem self-join (round-5
    bench finding: the join+distinct form was ~45% of q135's cost).
    One groupBy collects each order's distinct parts into a sorted
    array (collect_set dedupes repeat parts in-order), then pairs
    explode in-task via array transform — u < v falls out of the
    sort, and the fan-out per row is bounded by the order size
    (C(17,2) max on this fixture; order sizes are capped by the
    workload, not the corpus, so the bound holds at 100 TB where a
    self-join's shuffle would double).
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    arrs = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    e = (
        arrs.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    u_first = F.struct(F.col("da.d"), F.col("u")) < F.struct(
        F.col("db.d"), F.col("v")
    )
    oe = (
        e.join(da, F.col("da.n") == F.col("u"))
        .join(db, F.col("db.n") == F.col("v"))
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_first, F.col("db.d")).otherwise(F.col("da.d")).alias(
                "dst_d"
            ),
        )
    )
    # the oriented edge list feeds THREE plan branches (both wedge
    # legs + the closing-edge probe) — checkpoint so the pair
    # generation + distinct + degree joins run once, not three
    # times. LAZY (optimization r11): all three consumers sit in one
    # action, so the blocks materialize exactly once either way, and
    # skipping the construction-time job fuses the build into the
    # main job (measured min-of-3 4.40 → 4.24 s, cold first rep
    # 8.4 → 4.7 s at sf0.1).
    return checkpoint(oe)


def consecutive_copurchase_pairs(
    spark: SparkSession, sf_dir: str, keep_expr: str = "true"
) -> DataFrame:
    """Directed distinct consecutive-co-purchase part pairs (u, v):
    parts on CONSECUTIVE line numbers of one order, u's line
    immediately before v's, u ≠ v — the edge substrate of
    q144/q145/q274 (q184/q267/q279/q296 keep the self-join form:
    it measured FASTER inside their wedge-expansion consumers —
    see analyticsops2._copurchase_edges).

    Per-order pair generation WITHOUT a lineitem self-join
    (optimization r11 — the copurchase_oriented_edges technique
    applied to the sequential variant): one groupBy collects each
    order's (line, part) structs, then consecutive pairs explode
    in-task via array transforms — one keyed exchange instead of the
    join form's two exchanges + sort-merge. Duplicate (orderkey,
    linenumber) rows (the fixture has them — TESTDATA gotcha) pair
    ALL combinations exactly like the self-join did; set equality vs
    the join form measured at sf0.1 (293,790 pairs, equal; 1.10 s vs
    1.46 s warm). Fan-out per row is bounded by order size (≤ C(7,2)
    here; workload-bounded, not corpus-bounded, so the bound holds
    at 100 TB where a self-join's shuffle would double).

    ``keep_expr`` is an extra SQL predicate over the pair structs
    ``x`` (earlier line) / ``y`` (later line) — q145 passes its
    ``(x.l_partkey + y.l_partkey) % 5 = 0`` subsample so the filter
    runs inside the generator, before the distinct.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    arrs = li.groupBy("l_orderkey").agg(
        F.collect_list(F.struct("l_linenumber", "l_partkey")).alias("xs")
    )
    return (
        arrs.select(
            F.explode(
                F.expr(
                    "flatten(transform(xs, x -> transform("
                    " filter(xs, y -> y.l_linenumber = x.l_linenumber + 1"
                    "  AND y.l_partkey != x.l_partkey"
                    f"  AND ({keep_expr})),"
                    " y -> struct(x.l_partkey AS u, y.l_partkey AS v))))"
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .distinct()
    )


@query(
    "q135_triangle_copurchase",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS MATERIALIZED (
  SELECT n, count(*) AS d
  FROM (SELECT u FROM e UNION ALL SELECT v FROM e) t(n) GROUP BY n
), oe AS MATERIALIZED (
  SELECT
    CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.u ELSE e.v END AS src,
    CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.v ELSE e.u END AS dst,
    CASE WHEN (da.d, e.u) < (db.d, e.v) THEN db.d ELSE da.d END AS dst_d
  FROM e JOIN deg da ON da.n = e.u JOIN deg db ON db.n = e.v
), tri AS MATERIALIZED (
  SELECT e1.src AS n1, e1.dst AS n2, e2.dst AS n3
  FROM oe e1
  JOIN oe e2 ON e1.src = e2.src
    AND (e1.dst_d, e1.dst) < (e2.dst_d, e2.dst)
  JOIN oe e3 ON e3.src = e1.dst AND e3.dst = e2.dst
)
SELECT part, CAST(count(*) AS BIGINT) AS n_triangles
FROM (SELECT n1 FROM tri UNION ALL SELECT n2 FROM tri
      UNION ALL SELECT n3 FROM tri) t(part)
GROUP BY part
ORDER BY n_triangles DESC, part
LIMIT 20
""",
)
def q135_triangle_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation in the part co-purchase graph: parts
    are nodes, an edge joins two parts that share an order, and the
    output is the top-20 parts by the number of triangles they sit
    in — the market-basket clustering signal (a part whose neighbors
    also co-sell with each other).

    Uses degree-oriented edge iteration (the distributed
    triangle-counting standard): every edge is directed from its
    lower (degree, node) endpoint to its higher one, and each
    triangle is found EXACTLY once — at its minimum-order edge, as
    the intersection of the two endpoints' oriented out-neighbor
    lists (validated against the naive 3-way join in tests; the
    DuckDB oracle independently runs the wedge-join formulation of
    the same orientation).

    Cross-engine determinism: pure integer arithmetic end-to-end;
    the top-20 cut is tie-broken by part id.

    Scale: orientation caps a node's out-degree at O(sqrt(m))
    regardless of its raw degree, so both the adjacency arrays and
    the per-edge intersection work are bounded even for hub parts —
    and unlike the wedge-join form, the quadratic wedge set is never
    materialized (41M wedges vs 1.9M triangles at sf0.1; the
    intersection probes them implicitly inside one codegen stage).
    Edge building shuffles on l_orderkey (pair fan-out bounded by
    order size), the degree/orientation joins shuffle on node, and
    the adjacency table broadcasts. Nothing is driver-resident.
    """
    oe = copurchase_oriented_edges(spark, sf_dir)
    # Edge-iterator with adjacency intersection (round-5 bench
    # finding): the wedge-join form materialized 41M wedges to find
    # 1.9M triangles at sf0.1 — 95% of the quadratic fan-out never
    # closed. Intersecting the two endpoints' ORIENTED out-neighbor
    # lists per edge finds exactly the closing vertices: for a
    # triangle a<b<c in the (degree, node) total order, only edge
    # (a, b) has c in BOTH out-lists, so each triangle is emitted
    # once — same uniqueness argument as the wedge form, without the
    # wedge set. array_intersect is a hash-set probe (O(|A|+|B|) per
    # edge), and orientation caps out-list length at O(sqrt(m)), so
    # per-edge work is bounded even for hub parts. The adjacency
    # table (one array per node, O(sqrt(m)) entries) broadcasts;
    # past broadcast limits, drop the hints and both joins shuffle
    # on their equi-keys.
    adj = oe.groupBy(F.col("src").alias("n")).agg(
        F.collect_list("dst").alias("nbrs")
    )
    tri = (
        oe.join(
            adj.select(
                F.col("n").alias("src"), F.col("nbrs").alias("src_nbrs")
            ),
            "src",
        )
        .join(
            # inner join: an edge whose dst has no out-neighbors
            # cannot close a triangle through N+(dst)
            adj.select(
                F.col("n").alias("dst"), F.col("nbrs").alias("dst_nbrs")
            ),
            "dst",
        )
        .select(
            F.col("src").alias("n1"),
            F.col("dst").alias("n2"),
            F.explode(F.array_intersect("src_nbrs", "dst_nbrs")).alias("n3"),
        )
    )
    # one explode, NOT three unionAll branches — a union would
    # re-execute the intersection join once per branch
    nodes = tri.select(
        F.explode(F.array("n1", "n2", "n3")).alias("part")
    )
    return (
        nodes.groupBy("part")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "part")
        .limit(20)
    )


@query(
    "q144_shortest_paths",
    oracle="""
WITH RECURSIVE e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey
   AND b.l_linenumber = a.l_linenumber + 1
   AND a.l_partkey <> b.l_partkey
), e AS MATERIALIZED (
  SELECT u, v FROM e0 UNION SELECT v, u FROM e0
), r(part, d) AS (
  SELECT DISTINCT u, 0 FROM e WHERE u % 499 = 1
  UNION
  SELECT e.v, r.d + 1 FROM r JOIN e ON e.u = r.part WHERE r.d < 4
)
SELECT part, CAST(MIN(d) AS INT) AS dist FROM r GROUP BY part
""",
)
def q144_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances over the sequential-co-purchase
    graph (parts on CONSECUTIVE line numbers of one order are linked
    — sparser than q135's full co-purchase clique expansion, so the
    graph has real depth instead of collapsing to diameter 2).
    Sources are parts with partkey ≡ 1 (mod 499); output is every
    part reachable within 4 hops with its minimum hop distance —
    exact integers, deterministic under any join order. The oracle
    replays the same frontier expansion as a recursive CTE with
    MIN(d) collapse.

    The Spark side is `operators.graph.bfs_distances`: per-hop
    frontier ⋈ edges hash join + anti-join against the visited set,
    eager localCheckpoint per round (lineage would double per hop
    otherwise). Rounds shuffle O(E); visited state is O(V) rows —
    the plan a 1000-executor cluster wants for bounded-depth
    reachability (product/link graphs, contamination spread).
    Columns: part, dist.
    """
    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        bfs_distances,
    )

    e0 = consecutive_copurchase_pairs(spark, sf_dir)
    # checkpoint the symmetrized edge set ONCE: sources derives from
    # it AND bfs probes it every hop — without this the pair
    # generation re-executes per consumer (the cold-vs-warm 7.4 s vs
    # ~3 s gap in the r5 bench)
    e = (
        e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .transform(checkpoint)
    )
    sources = e.select("u").filter(F.col("u") % 499 == 1)
    return bfs_distances(e, sources, max_hops=4, node_col="part").select(
        "part", F.col("dist").cast("int").alias("dist")
    )


_KCORE_K = 4
_KCORE_ROUNDS = 10


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled peeling chain: stage r keeps nodes whose degree in
    stage r-1 is >= k, then restricts edges to kept endpoints. The
    unroll count equals the Spark operator's fixed round count, so
    the two engines compute identical states round-for-round —
    converged or not (the q132 40-merge-unroll discipline)."""
    parts = ["""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey
   AND b.l_linenumber = a.l_linenumber + 1
   AND a.l_partkey <> b.l_partkey
  WHERE (a.l_partkey + b.l_partkey) % 5 = 0
), s0 AS MATERIALIZED (
  SELECT u, v FROM e0 UNION SELECT v, u FROM e0
)"""]
    prev = "s0"
    for r in range(1, rounds + 1):
        parts.append(f""", keep{r} AS MATERIALIZED (
  SELECT u AS n FROM {prev} GROUP BY u HAVING count(*) >= {k}
), s{r} AS MATERIALIZED (
  SELECT s.u, s.v FROM {prev} s
  JOIN keep{r} ka ON ka.n = s.u
  JOIN keep{r} kb ON kb.n = s.v
)""")
        prev = f"s{r}"
    parts.append(f"""
SELECT u AS part, CAST(count(*) AS INT) AS core_degree
FROM {prev} GROUP BY u""")
    return "".join(parts)


@query(
    "q145_kcore",
    oracle=_kcore_oracle_sql(_KCORE_K, _KCORE_ROUNDS),
)
def q145_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the subsampled sequential-co-purchase graph
    ((u+v) ≡ 0 mod 5 keeps ~1/5 of q144's edges, which re-creates
    the low-degree fringe that makes peeling iterate — the full
    graph's min degree is already 7). Exactly 10 peel rounds on both
    engines (convergence at sf0.01 takes 8; extra rounds are no-op
    re-filters), so the oracle's unrolled stage chain matches state
    state-for-state at any scale, converged or not. Output: every
    surviving node with its degree inside the core — exact integers.
    Columns: part, core_degree.

    The Spark side is `operators.graph.kcore`: per round one grouped
    degree count + two left-semi joins, edge state checkpointed and
    released per round. k-core is the standard graph-quality gate
    for link-spam filtering in web-corpus pipelines.
    """
    from car_insurance_data_pipeline_spark_spark.operators.graph import kcore

    e0 = consecutive_copurchase_pairs(
        spark, sf_dir, keep_expr="(x.l_partkey + y.l_partkey) % 5 = 0"
    )
    e = e0.union(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    return kcore(e, k=_KCORE_K, rounds=_KCORE_ROUNDS).withColumnRenamed(
        "u", "part"
    )


@query(
    "q151_spatial_join",
    oracle="""
WITH pts AS (
  SELECT c_custkey AS id,
         (c_custkey * 7919) % 10000 AS x,
         (c_custkey * 104729) % 10000 AS y
  FROM customer
)
SELECT a.id AS id_a, b.id AS id_b,
  (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2
FROM pts a JOIN pts b ON a.id < b.id
WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 90000
""",
)
def q151_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed radius self-join (spatial join): every customer
    pair within planar distance 300 of each other, on deterministic
    synthetic integer coordinates (hash-spread from the key — the
    fixtures carry no geo columns). The oracle is the quadratic
    cross-pair filter; the engine never builds it: points land in
    300-unit grid cells (cell edge == radius, so any qualifying pair
    sits in adjacent cells), the probe side expands to its 3×3 cell
    neighborhood (explode ×9 — narrow), and one equi-join on the
    cell key + exact integer distance filter finds each pair exactly
    once (the id < id orientation needs no post-dedup).

    This is the standard scale shape for spatial radius joins /
    nearest-station enrichment: O(9·n) probe rows hash-partitioned
    by cell, candidate count bounded by local density — never O(n²).
    Dense-cell skew is the q53 salting pattern applied to cell keys.
    All arithmetic is integer (squared distances — no trig, no
    float parity risk). Columns: id_a, id_b, dist2.
    """
    cell = 300
    c = table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 7919) % 10000).alias("x"),
        ((F.col("c_custkey") * 104729) % 10000).alias("y"),
    ).withColumns(
        {
            "cx": (F.col("x") / cell).cast("long"),
            "cy": (F.col("y") / cell).cast("long"),
        }
    )
    probe = (
        pts.withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            F.col("id").alias("id_a"),
            F.col("x").alias("xa"),
            F.col("y").alias("ya"),
            (F.col("cx") + F.col("dx")).alias("pcx"),
            (F.col("cy") + F.col("dy")).alias("pcy"),
        )
    )
    build = pts.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        "cx",
        "cy",
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        probe.join(
            build,
            (F.col("pcx") == F.col("cx"))
            & (F.col("pcy") == F.col("cy"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(d2 <= cell * cell)
        .select("id_a", "id_b", d2.alias("dist2"))
    )


# --------------------------------------------------------------------------
# q334: phonetic (soundex) blocking — confusable-name candidate pairs
# --------------------------------------------------------------------------


def _soundex_sql(col: str) -> str:
    """Simplified American Soundex as a PORTABLE SQL expression —
    one string valid in both Spark SQL and DuckDB, so cross-engine
    parity holds by construction (DuckDB's RE2 regexes lack the
    backreferences a collapse regex would need, and Spark's
    built-in ``soundex()`` has the H/W-adjacency rule this variant
    deliberately drops — the SQL-standard SOUNDEX() behavior where
    H/W break runs like vowels do).

    Steps: uppercase → map letters through the classic
    '01230120022455012623010202' digit table → collapse adjacent
    duplicate digits (REPLACE applied ⌈log₂ run⌉ times; 4 rounds
    cover runs ≤ 16, beyond any real word) → drop the leading digit
    (it belongs to the kept first letter, and equal codes merged
    into it are correctly swallowed by the collapse) → strip the
    zero markers → first letter + first 3 digits, zero-padded.
    """
    m = f"translate(upper({col}), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230120022455012623010202')"
    for d in "0123456":
        for _ in range(4):
            m = f"replace({m}, '{d}{d}', '{d}')"
    return (
        f"concat(substr(upper({col}), 1, 1), "
        f"rpad(substr(replace(substr({m}, 2), '0', ''), 1, 3), 3, '0'))"
    )


@query(
    "q334_soundex_blocking",
    oracle=f"""
WITH words AS (
  SELECT DISTINCT unnest(regexp_split_to_array(trim(lower(p_name)),
    '\\s+')) AS w
  FROM part
), coded AS (
  SELECT w, {_soundex_sql('w')} AS code FROM words
)
SELECT a.code AS code, a.w AS word_a, b.w AS word_b,
  CAST(levenshtein(a.w, b.w) AS BIGINT) AS lev
FROM coded a JOIN coded b ON a.code = b.code AND a.w < b.w
ORDER BY code, word_a, word_b
""",
)
def q334_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking for entity resolution: group the part-name
    vocabulary by (simplified) Soundex code and emit the
    confusable-name candidate pairs inside each phonetic block with
    their edit distance — the classic first stage of a
    name-matching pipeline (block on SOUNDEX, verify on
    levenshtein), complementing q133's prefix-blocked fuzzy matcher
    with a phonetic key that catches spelling variants sharing
    sounds rather than characters. The Soundex expression is a
    single portable SQL string evaluated identically by both
    engines (see ``_soundex_sql``). Columns: code, word_a, word_b,
    lev.

    Determinism: pure string/integer functions; ASCII-lowercase
    vocabulary (the levenshtein byte-vs-codepoint hazard documented
    in this module header does not arise); unique ordering.

    Scale: vocabulary extraction is one distinct-agg; the self-join
    keys on the 4-char code, so block sizes are bounded by the
    phonetic bucket — the standard linkage-blocking shape. A
    degenerate block would be capped as in q133.
    """
    p = table(spark, sf_dir, "part")
    words = (
        p.select(
            F.explode(
                F.split(F.trim(F.lower(F.col("p_name"))), r"\s+")
            ).alias("w")
        )
        .distinct()
    )
    coded = words.select("w", F.expr(_soundex_sql("w")).alias("code"))
    a = coded.select(F.col("code"), F.col("w").alias("word_a"))
    b = coded.select(
        F.col("code").alias("code_b"), F.col("w").alias("word_b")
    )
    return (
        a.join(
            b,
            (F.col("code") == F.col("code_b"))
            & (F.col("word_a") < F.col("word_b")),
        )
        .select(
            "code",
            "word_a",
            "word_b",
            F.expr("CAST(levenshtein(word_a, word_b) AS BIGINT)").alias(
                "lev"
            ),
        )
        .orderBy("code", "word_a", "word_b")
    )


# --------------------------------------------------------------------------
# q335: Fellegi-Sunter agreement-pattern weights (aggregate-only)
# --------------------------------------------------------------------------


@query(
    "q335_fellegi_sunter",
    oracle="""
WITH c AS (
  SELECT c_nationkey AS nat, c_mktsegment AS seg,
    (CAST(ROUND(c_acctbal * 100) AS BIGINT) + 10000000) // 100000
      AS band
  FROM customer
), tot AS (
  SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS p FROM
    (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY nat)
), aseg AS (
  SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS p FROM
    (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY nat, seg)
), aband AS (
  SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS p FROM
    (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY nat, band)
), aboth AS (
  SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS p FROM
    (SELECT CAST(COUNT(*) AS BIGINT) AS n
     FROM c GROUP BY nat, seg, band)
), pat AS (
  SELECT 1 AS g_seg, 1 AS g_band, aboth.p AS n_pairs
  FROM aboth
  UNION ALL
  SELECT 1, 0, aseg.p - aboth.p FROM aseg, aboth
  UNION ALL
  SELECT 0, 1, aband.p - aboth.p FROM aband, aboth
  UNION ALL
  SELECT 0, 0, tot.p - aseg.p - aband.p + aboth.p
  FROM tot, aseg, aband, aboth
)
SELECT CAST(g_seg AS BIGINT) AS g_seg,
  CAST(g_band AS BIGINT) AS g_band,
  CAST(n_pairs AS BIGINT) AS n_pairs,
  CAST((CASE WHEN g_seg = 1 THEN 9 ELSE 1 END)
    * (CASE WHEN g_band = 1 THEN 8 ELSE 2 END) AS BIGINT) AS lr_num,
  CAST((CASE WHEN g_seg = 1 THEN 2 ELSE 8 END)
    * (CASE WHEN g_band = 1 THEN 1 ELSE 9 END) AS BIGINT) AS lr_den,
  CASE
    WHEN (CASE WHEN g_seg = 1 THEN 9 ELSE 1 END)
       * (CASE WHEN g_band = 1 THEN 8 ELSE 2 END)
      >= 16 * (CASE WHEN g_seg = 1 THEN 2 ELSE 8 END)
       * (CASE WHEN g_band = 1 THEN 1 ELSE 9 END) THEN 'link'
    WHEN 16 * (CASE WHEN g_seg = 1 THEN 9 ELSE 1 END)
       * (CASE WHEN g_band = 1 THEN 8 ELSE 2 END)
      <= (CASE WHEN g_seg = 1 THEN 2 ELSE 8 END)
       * (CASE WHEN g_band = 1 THEN 1 ELSE 9 END) THEN 'nonlink'
    ELSE 'possible' END AS decision
FROM pat
ORDER BY g_seg DESC, g_band DESC
""",
)
def q335_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage agreement-pattern table over
    nation-blocked customer pairs — the probabilistic-linkage
    decision model (Fellegi & Sunter '69) that underlies every
    modern entity-resolution system. Two comparison fields (market
    segment; account-balance band of width $1000, shifted positive
    so the integer division is portable), fixed m/u priors as exact
    rationals (segment m=9/10 u=1/5; band m=4/5 u=1/10), and the
    likelihood ratio of each of the four agreement patterns as an
    exact fraction (lr_num/lr_den: 36, 1, 1, 1/36). Decisions use
    cross-multiplied rational thresholds (link ≥ 16, nonlink ≤
    1/16). THE SCALE TRICK: pattern pair-counts come from the
    combinatorial identity on cell counts — C(n,2) sums per
    (nation), (nation,seg), (nation,band), (nation,seg,band) and
    inclusion-exclusion — so NO pair join is ever materialized; the
    whole query is four hash-aggs over the dimension, valid at any
    block size. Columns: g_seg, g_band, n_pairs, lr_num, lr_den,
    decision.

    Determinism: exact integer pair counts; constant rational
    weights; integer threshold comparisons.

    Scale: aggregate-only (see above) — the O(block²) comparison
    step that sinks naive FS implementations never happens; scoring
    individual candidate pairs when needed reuses q334/q133's
    bounded blocking.
    """
    c = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.expr(
            "(CAST(ROUND(c_acctbal * 100) AS BIGINT) + 10000000)"
            " DIV 100000"
        ).alias("band"),
    )

    def pairs(df: DataFrame, *keys: str) -> DataFrame:
        return (
            df.groupBy(*keys)
            .agg(F.count("*").cast("bigint").alias("n"))
            .agg(
                F.sum(F.expr("n * (n - 1) DIV 2"))
                .cast("bigint")
                .alias("p")
            )
        )

    tot = pairs(c, "nat").select(F.col("p").alias("tot"))
    aseg = pairs(c, "nat", "seg").select(F.col("p").alias("aseg"))
    aband = pairs(c, "nat", "band").select(F.col("p").alias("aband"))
    aboth = pairs(c, "nat", "seg", "band").select(F.col("p").alias("aboth"))
    scal = (
        tot.crossJoin(F.broadcast(aseg))
        .crossJoin(F.broadcast(aband))
        .crossJoin(F.broadcast(aboth))
    )
    pat = scal.selectExpr(
        "stack(4,"
        " 1, 1, aboth,"
        " 1, 0, aseg - aboth,"
        " 0, 1, aband - aboth,"
        " 0, 0, tot - aseg - aband + aboth"
        ") AS (g_seg, g_band, n_pairs)"
    )
    lr_num = (
        "(CASE WHEN g_seg = 1 THEN 9 ELSE 1 END)"
        " * (CASE WHEN g_band = 1 THEN 8 ELSE 2 END)"
    )
    lr_den = (
        "(CASE WHEN g_seg = 1 THEN 2 ELSE 8 END)"
        " * (CASE WHEN g_band = 1 THEN 1 ELSE 9 END)"
    )
    return pat.selectExpr(
        "CAST(g_seg AS BIGINT) AS g_seg",
        "CAST(g_band AS BIGINT) AS g_band",
        "CAST(n_pairs AS BIGINT) AS n_pairs",
        f"CAST({lr_num} AS BIGINT) AS lr_num",
        f"CAST({lr_den} AS BIGINT) AS lr_den",
        f"CASE WHEN {lr_num} >= 16 * {lr_den} THEN 'link'"
        f" WHEN 16 * {lr_num} <= {lr_den} THEN 'nonlink'"
        f" ELSE 'possible' END AS decision",
    ).orderBy(F.col("g_seg").desc(), F.col("g_band").desc())
