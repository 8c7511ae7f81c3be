"""Distributed graph operators for dedup clustering.

connected_components implements the alternating large-star /
small-star algorithm ("Connected Components in MapReduce and
Beyond", Kiveris et al., SoCC'14): each round is two grouped
aggregations + joins over the edge list, and the edge set converges
to per-component stars in O(log n) rounds — no driver-side graph,
no vertex-indexed state, so it scales to edge lists that never fit
one machine. This is the canonical way to turn near-dup PAIRS
(jaccard_pairs / minhash_lsh_pairs / embedding_dup_pairs) into
dedup CLUSTERS with a keep-one survivor per cluster.

Each iteration checkpoints its state: iterative DataFrame algorithms
must cut lineage or the plan doubles per round. Every cut goes through
``session.checkpoint`` — executor-local blocks by default, reliable
files under ``sparkContext.setCheckpointDir`` when one is set — and
every superseded frame is freed through ``session.release``, so the
loops here carry no durability option of their own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from car_insurance_data_pipeline_spark_spark.session import (
    checkpoint,
    driver_frame,
    release,
)

# Small-graph driver routes: at or below these ABSOLUTE edge counts
# the iterative ops collect the graph and run driver-side instead of
# paying ~3 exchanges of scheduling per distributed round. Never
# derived from host parallelism, so an oracle-bearing consumer's
# route is a pure function of the data. connected_components,
# pagerank and label_propagation collect py4j Row objects (500k
# edges ≈ 8 MB of driver state); hits, bfs_distances and kcore
# collect Arrow frames of two integer columns (~32 MB at 2M edges),
# so their ceiling is 4× higher. Read at call time: a test forces
# the distributed loop by patching the constant to 0.
DRIVER_MAX_EDGES = 500_000
DRIVER_MAX_EDGES_ARROW = 2_000_000


def _normalize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set as (u < v) pairs, no self-loops, distinct."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For each node, connect every STRICTLY LARGER neighbor to the
    minimum of its neighborhood (including itself)."""
    sym = e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("u"), F.col("mn"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        # m <= u < v, so the emitted pair is already normalized.
        # No distinct here: duplicates are bounded by the fan-in and
        # the iteration-ending small-star distinct dedups them — one
        # fewer shuffle per round.
        .select(m.alias("u"), F.col("v").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each node, connect every smaller-or-equal neighbor AND
    itself to the minimum of that set."""
    # direct edges toward the larger endpoint: N(u) = smaller nbrs
    d = e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("mn"))
    nbrs = (
        d.join(mins, "u")
        .filter(F.col("v") != F.col("mn"))
        .select(F.col("mn").alias("u"), F.col("v").alias("v"))
    )
    self_edges = mins.select(
        F.col("mn").alias("u"), F.col("u").alias("v")
    )
    return nbrs.unionByName(self_edges).filter(F.col("u") < F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Component label per node: columns (node, component), where
    component = the minimum node id reachable from ``node``. Every
    node that appears in ``edges`` is emitted exactly once —
    including nodes whose only edges are self-loops — and callers
    join back to the entity table to coalesce singletons that appear
    in no edge at all.

    Convergence is detected by an (edge-count, xxhash64-sum)
    checksum of the normalized edge set: large/small-star only ever
    move edges monotonically toward star centers, so an unchanged
    checksum means a fixpoint (no oscillation is possible), and a
    64-bit sum collision is negligible (~n²/2⁶⁵).

    Adaptive small-graph path: the seed checksum returns the edge
    count for free, and when it is ≤ ``DRIVER_MAX_EDGES`` the labels
    are computed by union-find over the collected edge list instead
    of the iterative star loop — near-dup edge lists are typically
    sparse (most clusters are pairs), and each star round costs a
    fixed ~3 exchanges regardless of size, so sub-threshold graphs
    pay seconds of scheduling for microseconds of work. The bound is
    the same kind of contract as AQE's broadcast threshold or the
    IVF trainer's sample. Label semantics are identical (min
    reachable id; equality asserted in tests), and above the
    threshold nothing ever reaches the driver.
    """
    # Materialize the (possibly expensive) edge-producing plan ONCE:
    # both the self-loop branch and the normalized loop input derive
    # from this checkpoint, so e.g. a pair-mining pipeline upstream
    # is never re-executed when the result materializes.
    # lazy: the seed checksum below is the materializing action for
    # both checkpoints (raw caches as e's parent in the same job)
    raw = checkpoint(edges.select(src, dst))
    # self-loop-only nodes vanish in _normalize's u<v cut; keep their
    # labels alive separately so the emitted node set matches the
    # documented contract
    selfs = (
        raw.filter(F.col(src) == F.col(dst))
        .select(F.col(src).alias("node"), F.col(src).alias("component"))
        .distinct()
    )
    e = checkpoint(_normalize(raw, src, dst))

    def _checksum(df: DataFrame):
        chk = df.agg(
            F.count("*").alias("n"),
            # decimal accumulator: a long sum of 64-bit hashes
            # overflows (ANSI mode raises ARITHMETIC_OVERFLOW)
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (chk.n, chk.h)

    # Seed with the INPUT edge set's checksum: near-dup edge lists
    # are mostly 2-doc clusters, i.e. already star-shaped, and the
    # first star round is then the identity — seeding detects that
    # after ONE round instead of paying a full confirmation round
    # (one tiny agg over cached blocks buys a ~1 s round at sf0.1).
    prev = _checksum(e)

    if prev[0] <= DRIVER_MAX_EDGES:
        # small-graph path: union-find over the collected edges
        rows = e.collect()
        parent: dict = {}

        def find(a):
            r = a
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(a, a) != a:  # path compression
                parent[a], a = r, parent[a]
            return r

        for r_ in rows:
            ru, rv = find(r_[0]), find(r_[1])
            if ru != rv:
                # attach under the SMALLER root: find() then always
                # returns the component's minimum id directly
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru

        nodes = {n for r_ in rows for n in (r_[0], r_[1])}
        node_type = e.schema["u"].dataType
        from pyspark.sql.types import StructField, StructType

        lab = driver_frame(
            edges.sparkSession,
            [(n, find(n)) for n in sorted(nodes)],
            StructType(
                [
                    StructField("node", node_type, False),
                    StructField("component", node_type, False),
                ]
            ),
        )
        release(e)
        return (
            lab.unionByName(selfs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )

    for _ in range(max_iter):
        stale = e
        # LAZY checkpoint: the checksum action below materializes it,
        # so each round costs ONE job instead of two (eager
        # materialize + checksum). The stale release must come AFTER
        # that action — the new edge set derives from the stale
        # blocks, whose lineage a prior checkpoint already truncated.
        e = checkpoint(_small_star(_large_star(e)))
        cur = _checksum(e)
        release(stale)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # fixpoint: every edge is (root, member); roots label themselves.
    # The min-agg collapses overlaps (e.g. a self-loop node that also
    # has real edges takes its star's root, never its own id).
    members = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("node"), F.col("u").alias("component"))
    return (
        members.unionByName(roots)
        .unionByName(selfs)
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def _pagerank_driver(spark, e: DataFrame, damping: float, n_iter: int):
    """Vectorized numpy power iteration over collected edges — the
    small-graph fast path. Same formulation as the distributed loop
    (uniform init, per-iteration dangling-mass redistribution)."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        [
            StructField("node", e.schema["s"].dataType),
            StructField("rank", DoubleType()),
        ]
    )
    rows = e.collect()
    if not rows:
        return driver_frame(spark, [], schema)
    nodes = sorted({r.s for r in rows} | {r.t for r in rows})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    m = len(rows)
    src_i = np.fromiter((idx[r.s] for r in rows), dtype=np.int64, count=m)
    dst_i = np.fromiter((idx[r.t] for r in rows), dtype=np.int64, count=m)
    deg = np.zeros(n)
    np.add.at(deg, src_i, 1.0)
    no_out = deg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.zeros(n)
        np.add.at(contrib, dst_i, r[src_i] / deg[src_i])
        dangling = float(r[no_out].sum())
        r = (1.0 - damping) / n + damping * (contrib + dangling / n)
    return driver_frame(
        spark,
        [(nodes[i], float(r[i])) for i in range(n)], schema
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 15,
) -> DataFrame:
    """PageRank over a directed edge list → (node, rank), ranks
    summing to 1. The iterative-DataFrame companion to
    connected_components: in a dedup pipeline, rank over the
    near-dup graph picks the most CENTRAL document of each cluster
    as the representative (rather than min-id or max-quality).

    Per iteration: contributions are one (rank ⋈ out-degree-edges)
    join + one sum shuffle; dangling mass (nodes with no out-edges)
    is folded in as a 1-row broadcast, IN-PLAN — no per-iteration
    driver action. The rank table checkpoints every few
    iterations to cut lineage, releasing the previous checkpoint's
    blocks — the standard Pregel-style loop shape; the static
    edge+degree table checkpoints once.

    Adaptive small-graph path (the connected_components contract):
    at or below ``DRIVER_MAX_EDGES`` distinct edges the whole graph
    is driver-bounded by contract, and a vectorized numpy power
    iteration replaces ~n_iter×3 distributed jobs with one collect —
    identical formulation, answers agree to float tolerance (1e-9
    pinned in tests for both paths).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).distinct()
    # lazy: the dispatch count() materializes the blocks (r12 — the
    # hits()/r11-advice pattern applied to its three siblings)
    e = checkpoint(e)
    if e.count() <= DRIVER_MAX_EDGES:
        out = _pagerank_driver(edges.sparkSession, e, damping, n_iter)
        release(e)
        return out
    nodes = checkpoint(
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("t").alias("node")))
        .distinct(),
        eager=True,
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    deg = e.groupBy("s").agg(F.count("*").alias("deg"))
    ed = checkpoint(e.join(deg, "s"), eager=True)
    has_out = ed.select(F.col("s").alias("node")).distinct()
    # dangling-mass bookkeeping (a left-anti scan + a 1-row broadcast
    # per iteration) is only needed if some node HAS no out-edges;
    # symmetric graphs — the dedup-centrality case — never do, and
    # skipping it drops ~1/3 of each iteration's jobs. One up-front
    # count decides; the skipped term is an exact +0.0, so ranks are
    # bit-identical either way.
    has_dangling = has_out.count() < n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    ranks = checkpoint(ranks, eager=True)
    # checkpoint every few iterations, not every one: a lineage 3
    # plans deep is still tiny, and each eager checkpoint is a full
    # job at driver pace — the same lazy-materialization trade
    # connected_components makes with its convergence checksum.
    checkpoint_every = 3
    last_ckpt = ranks
    for it in range(n_iter):
        contrib = (
            ed.join(ranks.withColumnRenamed("node", "s"), "s")
            .select(
                F.col("t").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        if has_dangling:
            dangling = (
                ranks.join(has_out, "node", "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling"))
            )
            ranks = (
                nodes.join(contrib, "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("c"), F.lit(0.0))
                            + F.col("dangling") / F.lit(float(n))
                        )
                    ).alias("rank"),
                )
            )
        else:
            # same expression with the dangling term pinned to its
            # exact-zero value: d * (c + 0/n) == d * c bit-for-bit
            ranks = nodes.join(contrib, "node", "left").select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("rank"),
            )
        if it % checkpoint_every == checkpoint_every - 1 or it == n_iter - 1:
            ranks = checkpoint(ranks, eager=True)
            release(last_ckpt)
            last_ckpt = ranks
    # the final rank table is a self-contained checkpoint; the static
    # node and edge+degree checkpoints are no longer reachable from
    # it — release them now instead of waiting on py4j GC (the same
    # discipline as the per-iteration release above)
    release(nodes)
    release(ed)
    return ranks


def _hits_driver(spark, e: DataFrame, n_iter: int) -> DataFrame:
    """Vectorized numpy HITS power iteration over collected bipartite
    edges — the small-graph fast path (the _pagerank_driver pattern).
    Same formulation as the distributed loop: uniform 1/|left| hub
    init, alternating L1-normalized authority/hub updates. Collected
    via Arrow (``toPandas``) — two integer columns, so the transfer
    is a narrow columnar batch, not py4j Rows."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("kind", StringType(), False),
            StructField("node", e.schema["c"].dataType),
            StructField("score", DoubleType()),
        ]
    )
    pdf = e.toPandas()
    if pdf.empty:
        return driver_frame(spark, [], schema)
    c_codes, c_nodes = pd.factorize(pdf["c"])
    p_codes, p_nodes = pd.factorize(pdf["p"])
    nc, npt = len(c_nodes), len(p_nodes)
    h = np.full(nc, 1.0 / nc)
    a = None
    for _ in range(n_iter):
        s = np.bincount(p_codes, weights=h[c_codes], minlength=npt)
        a = s / s.sum()
        s2 = np.bincount(c_codes, weights=a[p_codes], minlength=nc)
        h = s2 / s2.sum()
    out = pd.DataFrame(
        {
            "kind": ["hub"] * nc + ["authority"] * npt,
            "node": np.concatenate([np.asarray(c_nodes), np.asarray(p_nodes)]),
            "score": np.concatenate([h, a]),
        }
    )
    return driver_frame(spark, out, schema)


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 6,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999; public literature)
    over a bipartite edge list → (kind, node, score): ``n_iter``
    alternating L1-normalized power-iteration rounds; hub scores for
    the ``src`` side, authority scores for the ``dst`` side.

    Adaptive small-graph path (the pagerank/label_propagation
    contract): at or below ``DRIVER_MAX_EDGES_ARROW`` distinct edges
    the whole graph is driver-bounded by contract and a vectorized
    numpy power iteration replaces the ~n_iter×4-exchange
    distributed plan with one Arrow collect — identical formulation;
    the two routes differ only in float ADD ORDER inside each
    aggregate (~1 ulp per iteration, the same wobble the distributed
    plan itself shows across partition counts), which the consumers'
    ppm quantization absorbs (route equality on the quantized output
    is pinned in tests at all fixture SFs).

    Distributed route (what 100 TB runs): per iteration, two equi
    joins on the edge keys + two partial-agg'd groupBys — each
    carries the edge set once (linear in E per round); normalization
    windows run over the aggregated per-node frames, never the
    edges. The edge frame feeds 2·n_iter consumers, so it is lazily
    checkpointed once (one scan+distinct total).
    """
    e = (
        edges.select(F.col(src).alias("c"), F.col(dst).alias("p"))
        .distinct()
    )
    # lazy: the dispatch count() below materializes the blocks —
    # eager=True would run a SECOND construction-time job first
    # (r11 advice; matches the bfs_distances pattern)
    e = checkpoint(e)
    if e.count() <= DRIVER_MAX_EDGES_ARROW:
        out = _hits_driver(edges.sparkSession, e, n_iter)
        release(e)
        return out
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    h = (
        e.select("c")
        .distinct()
        .withColumn("h", F.lit(1.0) / F.count("*").over(w_all))
    )
    a = None
    for _ in range(n_iter):
        ar = e.join(h, "c").groupBy("p").agg(F.sum("h").alias("s"))
        a = ar.select("p", (F.col("s") / F.sum("s").over(w_all)).alias("a"))
        hr = e.join(a, "p").groupBy("c").agg(F.sum("a").alias("s"))
        h = hr.select("c", (F.col("s") / F.sum("s").over(w_all)).alias("h"))
    hubs = h.select(
        F.lit("hub").alias("kind"),
        F.col("c").alias("node"),
        F.col("h").alias("score"),
    )
    auths = a.select(
        F.lit("authority").alias("kind"),
        F.col("p").alias("node"),
        F.col("a").alias("score"),
    )
    return hubs.unionAll(auths)


def _label_propagation_driver(
    spark, sym_rows, n_iter: int
) -> DataFrame:
    """Driver-side synchronous LPA over a collected symmetric edge
    list — IDENTICAL integer semantics to the distributed loop
    (most-frequent neighbor label, ties to the smallest label,
    simultaneous updates), so the two paths are interchangeable
    bit-for-bit (equality-pinned in tests)."""
    from collections import Counter, defaultdict

    adj: defaultdict = defaultdict(list)
    for s, t in sym_rows:
        adj[s].append(t)
    labels = {n: n for n in adj}
    for _ in range(n_iter):
        nxt = {}
        for n, nbrs in adj.items():
            c = Counter(labels[t] for t in nbrs)
            best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            nxt[n] = best
        labels = nxt
    return driver_frame(
        spark,
        sorted(labels.items()), "node long, label long"
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
) -> DataFrame:
    """SYNCHRONOUS label propagation (community detection) over an
    undirected edge list → (node, label). Labels start as node ids;
    each round every node adopts the most frequent label among its
    neighbors, ties broken by the SMALLEST label. A fixed round
    count with synchronous updates makes the algorithm a pure
    function of the graph — no visit order, no randomness — and the
    arithmetic is pure integers (counts and ids), so cross-engine
    parity is EXACT by construction (no float tolerance argument
    needed anywhere, unlike pagerank's ppm quantization).

    The community-detection companion to connected_components
    (which merges everything reachable) — LPA splits a connected
    component into densely-linked groups, the granularity a dedup
    or mixture pipeline wants when one giant near-dup component
    spans several distinct templates.

    Scale: per round, one (edge ⋈ label) hash join + one
    (node, label) count aggregate + one per-node argmax — all
    map-side-combinable exchanges on node ids; labels checkpoint
    every few rounds to cut lineage (the pagerank discipline).

    Adaptive small-graph path (the connected_components/pagerank
    contract): at or below ``DRIVER_MAX_EDGES`` symmetric edges the
    rounds run driver-side over Python dicts — 5 synchronous integer
    rounds on a sub-threshold graph cost ~15 distributed jobs of
    pure scheduling otherwise (measured 4.9 s for 260 edges). The
    update rule is integer-exact in both paths, so labels are
    IDENTICAL (equality-pinned in tests).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).distinct()
    # undirected: propagate across both directions
    sym = e.unionByName(
        e.select(F.col("t").alias("s"), F.col("s").alias("t"))
    ).distinct()
    # lazy: the dispatch count() below materializes the blocks
    sym = checkpoint(sym)
    n_edges = sym.count()
    if n_edges <= DRIVER_MAX_EDGES:
        rows = [(r.s, r.t) for r in sym.collect()]
        out = _label_propagation_driver(edges.sparkSession, rows, n_iter)
        release(sym)
        return out
    labels = checkpoint(
        sym.select(F.col("s").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label")),
        eager=True,
    )
    last_ckpt = labels
    checkpoint_every = 3
    for it in range(n_iter):
        neigh = sym.join(
            labels.withColumnRenamed("node", "t"), "t"
        ).select(F.col("s").alias("node"), "label")
        counted = neigh.groupBy("node", "label").agg(
            F.count("*").alias("cnt")
        )
        # argmax by (cnt desc, label asc): min of (-cnt, label)
        labels = (
            counted.groupBy("node")
            .agg(
                F.min(F.struct((-F.col("cnt")).alias("nc"), "label")).alias(
                    "m"
                )
            )
            .select("node", F.col("m.label").alias("label"))
        )
        if it % checkpoint_every == checkpoint_every - 1 or it == n_iter - 1:
            labels = checkpoint(labels, eager=True)
            release(last_ckpt)
            last_ckpt = labels
    release(sym)
    return labels


def _bfs_driver(
    spark, e: DataFrame, sources: DataFrame, max_hops: int, node_col: str
) -> DataFrame:
    """Driver-side multi-source BFS over Arrow-collected edges —
    IDENTICAL integer semantics to the distributed frontier loop
    (min hop wins, bounded at max_hops), so the two paths are
    interchangeable bit-for-bit (equality-pinned in tests)."""
    from collections import deque

    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(
        [
            StructField(node_col, e.schema["u"].dataType),
            StructField("dist", IntegerType(), False),
        ]
    )
    pdf = e.toPandas()
    adj: dict = {}
    for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
        adj.setdefault(u, []).append(v)
    srcs = sorted(
        {r[0] for r in sources.select(sources.columns[0]).collect()}
    )
    dist = {s: 0 for s in srcs}
    dq = deque(srcs)
    while dq:
        x = dq.popleft()
        if dist[x] >= max_hops:
            continue
        for y in adj.get(x, ()):
            if y not in dist:
                dist[y] = dist[x] + 1
                dq.append(y)
    return driver_frame(spark, sorted(dist.items()), schema)


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    node_col: str = "node",
) -> DataFrame:
    """Multi-source breadth-first hop distances, bounded at
    ``max_hops`` — frontier-expansion BFS as iterated DataFrame ops.

    ``edges`` must be DIRECTED (u, v) rows (pass both directions for
    an undirected graph); ``sources`` is a one-column frame of start
    nodes. Returns (node, dist) where dist = minimum hop count from
    any source, dist <= max_hops. Hop counts are exact integers, so
    the result is deterministic regardless of join/partition order.

    Each round: frontier ⋈ edges (hash join on u) produces candidate
    (node, hop) rows; they union into the state and ONE grouped
    MIN(dist) collapses duplicates AND already-visited re-discoveries
    in the same exchange (min hop wins, and a node first seen at an
    earlier hop keeps that hop). The next frontier is simply the
    rows whose dist == hop. This single-aggregation round replaced
    an earlier distinct + anti-join formulation — same results
    (equality-tested), one exchange per hop instead of two, measured
    ~3× faster at sf0.1. State is eagerly checkpointed per
    round (the Kiveris-loop discipline — lineage would double per
    hop) and superseded checkpoints are released. The state is O(V)
    rows of (node, dist) — never adjacency — and every exchange is
    key-hash partitioned on the node id, so rounds shuffle at most
    O(E) and the plan holds on a 1000-executor cluster. For
    high-diameter graphs swap the bounded loop for the same
    convergence-checked cadence connected_components uses (checksum
    of frontier size per round).
    """
    # the edge frame is probed EVERY hop — checkpoint it once so an
    # expensive edge-building plan (e.g. q144's lineitem self-join)
    # never re-executes per round. Lazy: the state materialization
    # below (or hop 1's join) triggers it. Skip when the caller
    # already passed a checkpointed frame (its plan is a bare scan
    # of cached blocks — re-checkpointing would copy them). The probe
    # is a private py4j path (absent under Spark Connect), so it is
    # guarded: on any failure fall back to always checkpointing — a
    # redundant copy of an already-checkpointed frame, never a
    # correctness change.
    try:
        root = (
            edges._jdf.queryExecution().analyzed().getClass().getSimpleName()
        )
    except Exception:
        root = None
    we_ckpted = root != "LogicalRDD"
    if we_ckpted:
        edges = checkpoint(edges)
    # Adaptive small-graph path (the pagerank/label_propagation/hits
    # contract; optimization r11): at or below
    # ``DRIVER_MAX_EDGES_ARROW`` directed edges the graph is
    # driver-bounded by contract and the hops run as one Arrow
    # collect + a Python BFS — ~max_hops×2 distributed jobs of pure
    # scheduling otherwise. Hop counts are exact integers, so the
    # two routes are interchangeable bit-for-bit (equality-pinned in
    # tests).
    if edges.count() <= DRIVER_MAX_EDGES_ARROW:
        out = _bfs_driver(
            edges.sparkSession, edges, sources, max_hops, node_col
        )
        if we_ckpted:
            # only release a checkpoint THIS call created — a
            # caller-passed checkpoint may have other consumers
            release(edges)
        return out
    state = checkpoint(
        sources.select(F.col(sources.columns[0]).alias(node_col))
        .distinct()
        .withColumn("dist", F.lit(0)),
        eager=True,
    )
    last_ckpt = state
    frontier = state.select(node_col)
    for hop in range(1, max_hops + 1):
        cand = (
            frontier.join(edges, frontier[node_col] == edges["u"])
            .select(F.col("v").alias(node_col))
            .withColumn("dist", F.lit(hop))
        )
        state = checkpoint(
            state.unionByName(cand)
            .groupBy(node_col)
            .agg(F.min("dist").alias("dist")),
            eager=True,
        )
        release(last_ckpt)
        last_ckpt = state
        frontier = state.filter(F.col("dist") == hop).select(node_col)
    return state


def _kcore_driver(spark, e: DataFrame, k: int, rounds: int) -> DataFrame:
    """Driver-side fixed-round k-core peeling over Arrow-collected
    edges — IDENTICAL integer semantics to the distributed loop
    (degree count → keep deg >= k → restrict edges, exactly
    ``rounds`` times), so the two paths are interchangeable
    bit-for-bit (equality-pinned in tests)."""
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(
        [
            StructField("u", e.schema["u"].dataType),
            StructField("core_degree", IntegerType(), False),
        ]
    )
    pdf = e.toPandas()
    u = pdf["u"].to_numpy()
    v = pdf["v"].to_numpy()
    for _ in range(rounds):
        if u.size == 0:
            break
        vals, cnts = np.unique(u, return_counts=True)
        keep = vals[cnts >= k]
        mask = np.isin(u, keep) & np.isin(v, keep)
        if mask.all():
            # converged: every later round is a no-op re-filter
            break
        u, v = u[mask], v[mask]
    vals, cnts = np.unique(u, return_counts=True)
    return driver_frame(
        spark,
        list(zip(vals.tolist(), (int(c) for c in cnts))), schema
    )


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int,
) -> DataFrame:
    """k-core peeling over a DIRECTED-symmetrized edge list: run
    exactly ``rounds`` iterations of (degree count → keep nodes with
    deg >= k → restrict edges to kept endpoints) and return
    (node, core_degree) for the surviving subgraph.

    FIXED round count, no convergence probe: the round count is part
    of the operator's contract so a SQL oracle can replay it as an
    unrolled stage chain and match bit-for-bit even on inputs where
    ``rounds`` has not yet converged — each round's state is a pure
    function of the previous one in both engines. Peeling converges
    in at most max-degeneracy-depth rounds; pick ``rounds`` above the
    expected depth (each extra round on a converged state is a no-op
    re-filter, one cheap agg + two semi-joins on the final core).

    Scale: per round one grouped count (map-side partial) plus two
    left-semi hash joins, all key-partitioned on node id — O(E_r)
    shuffle that SHRINKS monotonically as the fringe peels. Edge
    state is checkpointed per round and superseded checkpoints are
    released (the Kiveris-loop discipline); no driver-side state at
    any point.
    """
    # lazy: the dispatch count() below materializes the blocks
    sym = checkpoint(edges.select("u", "v"))
    # Adaptive small-graph path (the pagerank/label_propagation/hits
    # contract; optimization r11): at or below
    # ``DRIVER_MAX_EDGES_ARROW`` edges, peeling runs driver-side over
    # Arrow-collected numpy arrays — ``rounds``×3 distributed jobs of
    # pure scheduling otherwise. Counts and ids are exact integers,
    # so the routes are interchangeable bit-for-bit (equality-pinned
    # in tests).
    if sym.count() <= DRIVER_MAX_EDGES_ARROW:
        out = _kcore_driver(edges.sparkSession, sym, k, rounds)
        release(sym)
        return out
    last_ckpt = sym
    for _ in range(rounds):
        keep = (
            sym.groupBy("u")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= k)
            .select(F.col("u").alias("n"))
        )
        sym = checkpoint(
            sym.join(keep, sym["u"] == keep["n"], "left_semi")
            .join(keep, sym["v"] == keep["n"], "left_semi"),
            eager=True,
        )
        release(last_ckpt)
        last_ckpt = sym
    return sym.groupBy("u").agg(
        F.count("*").cast("int").alias("core_degree")
    )


def adjacency_jaccard(
    edges: DataFrame,
    min_ppm: int = 0,
) -> DataFrame:
    """Neighborhood Jaccard similarity between node pairs sharing at
    least one neighbor — the classic link-prediction / role-similarity
    score. Input: SYMMETRIC distinct (u, v) edges. Output columns
    (a, b, n_common, ppm) with a < b and ppm = ⌊10⁶·|N(a)∩N(b)| /
    |N(a)∪N(b)|⌋ — integer floor division end to end, so the score is
    cross-engine exact (the catalog ppm discipline).

    Scale: common-neighbor pairs come from the wedge expansion (two
    edge copies joined on the shared neighbor w) — Θ(Σ_w deg(w)²)
    candidate rows, the inherent cost of EXACT all-pairs
    common-neighbor counting. Hot hubs dominate that sum; the
    expansion is a plain equi-join on w, so AQE's skew-join splits a
    hub's partition, and the downstream count is map-side combined
    on (a, b). For corpora where Σdeg² is prohibitive the sampled/
    sketched path is minhash over adjacency sets (q35's machinery on
    neighbor lists instead of shingles) — this operator is the exact
    anchor those approximations are verified against.

    KEPT AS THE JOIN FORM BY MEASUREMENT (optimization r12, guide
    §1): an in-task center-wedge generator (sorted adjacency arrays
    + two-step explode, hot hubs split to the join) was built,
    route-equality-proven, and measured SLOWER isolated at sf0.1 —
    AA consumer 1.90 s (join) vs 2.93 s (array, two Generates) vs
    3.28 s (array, one flatten-transform Generate); the full-query
    walls regressed q184 3.33→4.39 s, q267 3.19→4.35 s, q274
    2.87→3.20 s. The join form's two legs already share one
    exchange (ReuseExchange), so arrays saved no shuffle and paid
    per-element Generate/array-copy costs above the SMJ's sort. The
    r11 edge-substrate A/B (HOF builder slower inside wedge
    consumers, even with repartition: 1.82 vs 3.20 vs 2.70 s) was
    re-confirmed in the same harness.
    """
    deg = edges.groupBy("u").agg(F.count("*").alias("d"))
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("w"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("w"))
    common = (
        e1.join(e2, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    return (
        common.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "n_common",
            F.expr(
                "CAST(n_common * 1000000 DIV (da + db - n_common) "
                "AS BIGINT)"
            ).alias("ppm"),
        )
        .filter(F.col("ppm") >= min_ppm)
    )


def _adjacency_lsh_candidates(
    edges: DataFrame, num_hashes: int, bands: int
) -> tuple[DataFrame, DataFrame]:
    """MinHash signatures over neighbor sets + banded-LSH candidate
    pairs — the candidate stage shared by adjacency_minhash_pairs
    and the adamic_adar sketch route. Returns (sig, cand): sig =
    (n, deg, h0..h{num_hashes-1}) one row per node, cand = (a, b)
    distinct candidate pairs with a < b. Candidates come per
    band-bucket, Θ(candidates) not Θ(Σ deg²)."""
    rows_per_band = num_hashes // bands
    sig = edges.groupBy(F.col("u").alias("n")).agg(
        F.count("*").alias("deg"),
        *[
            F.min(F.xxhash64("v", F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    bands_df = sig.select(
        "n",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(b),
                        *[
                            F.col(f"h{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    )
    la, lb = bands_df.alias("la"), bands_df.alias("lb")
    cand = (
        la.join(
            lb,
            (F.col("la.bk") == F.col("lb.bk"))
            & (F.col("la.n") < F.col("lb.n")),
        )
        .select(F.col("la.n").alias("a"), F.col("lb.n").alias("b"))
        .distinct()
    )
    return sig, cand


def adjacency_minhash_pairs(
    edges: DataFrame,
    num_hashes: int = 32,
    bands: int = 16,
    min_ppm: int = 500_000,
) -> DataFrame:
    """The SCALE PATH for adjacency_jaccard: MinHash signatures over
    neighbor SETS + banded LSH candidates + exact verification —
    the q35 machinery applied to adjacency lists instead of
    shingles. Output matches adjacency_jaccard's schema
    (a, b, n_common, ppm with a < b, ppm >= min_ppm) but only for
    pairs LSH surfaces: banding (16×2 from 32 hashes) catches ~99%
    of pairs at neighborhood-Jaccard 0.5+ while generating
    candidates per bucket instead of per wedge — Θ(Σ deg²) becomes
    Θ(candidates), the economics that make node similarity runnable
    when hub degrees explode. Exactness per emitted pair is intact
    (verification recomputes the true intersection); only RECALL is
    probabilistic, with the exact operator as the audit anchor
    (recall pinned ≥80% at j≥0.5 in tests).
    """
    sig, cand = _adjacency_lsh_candidates(edges, num_hashes, bands)
    # exact verification at candidate scale: true intersection via
    # the shared-neighbor join restricted to candidates
    ea = edges.select(F.col("u").alias("a"), F.col("v").alias("w"))
    eb = edges.select(F.col("u").alias("b"), F.col("v").alias("w"))
    inter = (
        cand.join(ea, "a")
        .join(eb, ["b", "w"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    da = sig.select(F.col("n").alias("a"), F.col("deg").alias("da"))
    db = sig.select(F.col("n").alias("b"), F.col("deg").alias("db"))
    return (
        inter.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.expr(
                "CAST(n_common * 1000000 DIV (da + db - n_common) "
                "AS BIGINT)"
            ).alias("ppm"),
        )
        .filter(F.col("ppm") >= min_ppm)
    )


# Calibrated on the round-10 fixture measurements (SCALE_CHECK.md
# wedge-family rows): the sf0.1 co-purchase graph has Σdeg² = 18.4M
# wedges and the exact expansion costs 6.0 s on 32 local threads
# (~3M wedges/core in the fully-linear regime); the 30× probe
# (Σdeg² ≈ 553M) costs 139 s with a 7.4 GB wedge shuffle — still
# linear, but past the point where the sketch's Θ(candidates)
# economics win for an interactive query. 3M wedges/core × 32 puts
# the single-node auto-route boundary at 96M wedges (between the
# two measured points, ~35 s of exact work). The budget is ABSOLUTE
# — the calibration measured single-node walls only — so the routes
# of the three wedge-family consumers are a pure function of the
# data on any host. Read at call time (tests patch it).
WEDGE_BUDGET = 96_000_000


def count_wedges(edges: DataFrame) -> int:
    """Σ_w deg(w)² of a symmetric distinct edge list — the exact
    candidate-row count of the wedge expansion (the common-neighbor
    join's output before pair aggregation), i.e. the thing that
    decides whether exact all-pairs similarity is affordable. One
    degree aggregation + a scalar sum: O(m) with map-side combine,
    negligible next to either similarity path (which both start
    with the same degree aggregation anyway)."""
    row = (
        edges.groupBy("u")
        .agg(F.count("*").alias("d"))
        .agg(F.sum(F.expr("CAST(d AS BIGINT) * d")).alias("w"))
        .first()
    )
    return int(row["w"] or 0)


def adjacency_similarity(
    edges: DataFrame,
    min_ppm: int = 500_000,
    dispatch: str = "auto",
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """Cost-dispatched neighborhood similarity (round-9 verdict #7):
    routes between the two wedge-family paths instead of leaving the
    Θ(Σdeg²)-vs-sketch choice to the caller.

    * ``dispatch='exact'`` — adjacency_jaccard: the wedge expansion,
      every qualifying pair, the recall anchor. Θ(Σ deg²).
    * ``dispatch='sketch'`` — adjacency_minhash_pairs: MinHash+LSH
      candidates with exact verification, Θ(candidates); recall
      probabilistic below Jaccard 1.0 (pinned ≥80% at j≥0.5).
    * ``dispatch='auto'`` — MEASURE Σdeg² (count_wedges, one cheap
      aggregation) and compare to WEDGE_BUDGET, the measured
      linear-regime budget. At or under budget exact runs;
      over it the sketch does. The one extra job is the price of a
      measured decision — the same contract as cosine_topk's
      dispatch='auto' needing the vector width.

    Both routes emit identical schemas (a, b, n_common, ppm with
    a < b, ppm >= min_ppm); at min_ppm = 1_000_000 they emit
    IDENTICAL ROWS by construction (identical neighbor sets collide
    in every LSH band — q277's exactness argument), which is what
    tests/test_graph.py pins for this helper.

    SCOPE (measured, round 11): the sketch contract is THRESHOLDED
    high-similarity retrieval — the default min_ppm = 500_000
    (j >= 0.5) sits where 16x2 banding recalls ~99%. It is NOT a
    top-k substitute on graphs whose similarity head is LOW: the
    10x co-purchase graph's exact top-50 spans ppm 142,857-162,162
    (j ~ 0.15, where banding recall is ~30% by construction), and
    the sketch's top-50 overlaps it at only 14/50 — matching
    theory, not a bug. Top-k consumers over low-similarity heads
    (q184) pin the exact route and scale with executors, exactly
    like the adamic_adar top-k finding above.
    """
    if dispatch == "auto":
        dispatch = "exact" if count_wedges(edges) <= WEDGE_BUDGET else "sketch"
    if dispatch == "exact":
        return adjacency_jaccard(edges, min_ppm=min_ppm)
    if dispatch == "sketch":
        return adjacency_minhash_pairs(
            edges,
            num_hashes=num_hashes,
            bands=bands,
            min_ppm=min_ppm,
        )
    raise ValueError(
        f"dispatch must be 'auto', 'exact' or 'sketch', got {dispatch!r}"
    )


def _aa_weighted_leg(edges: DataFrame) -> DataFrame:
    """One wedge leg (a, w, term_pico) with the shared neighbor's
    AA weight attached BEFORE any expansion: w-keyed join against
    the degree table, each term 1/ln(deg(w)) FLOOR-quantized to
    pico as one fixed IEEE tree (the catalog quantize-then-sum
    discipline — ln is cross-engine stable). A shared neighbor
    always has deg ≥ 2 in the symmetric graph (it touches both
    endpoints), so ln(deg) > 0 with no epsilon games. Degree-1
    nodes are dropped from the degree table BEFORE the join — a
    leaf can never be a shared neighbor (its only wedge pairs its
    single edge with itself, killed by a < b), and evaluating
    1/ln(1) on its leg row is an ANSI DIVIDE_BY_ZERO (latent in the
    round-10 form: the fixture co-purchase graphs happen to have no
    leaves; the round-11 dispatch test's planted graph does)."""
    deg = edges.groupBy("u").agg(F.count("*").alias("d")).filter(
        F.col("d") >= 2
    )
    return (
        edges.select(F.col("u").alias("a"), F.col("v").alias("w"))
        .join(deg.select(F.col("u").alias("w"), "d"), "w")
        .select(
            "a",
            "w",
            F.expr(
                "CAST(FLOOR(1000000000000.0 / ln(CAST(d AS DOUBLE)))"
                " AS BIGINT)"
            ).alias("term_pico"),
        )
    )


def adamic_adar(
    edges: DataFrame,
    dispatch: str = "auto",
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """Adamic-Adar link-prediction score (Adamic & Adar '03; public
    literature) between node pairs sharing at least one neighbor:
    AA(a,b) = Σ_{w ∈ N(a)∩N(b)} 1/ln(deg(w)) — common neighbors
    weighted by their rarity, so hub co-neighbors count for almost
    nothing while a shared degree-2 node is near-proof of a link.
    Input: SYMMETRIC distinct (u, v) edges. Output columns
    (a, b, n_common, aa_pico) with a < b; each wedge term is
    FLOOR-quantized to pico BEFORE the integer sum
    (_aa_weighted_leg), so the score is exact both engines.

    Cost-dispatched (round-10 verdict #2 — the wedge-dispatch
    template extended to the AA consumer):

    * ``dispatch='exact'`` — the full wedge expansion: a plain
      equi-join on the shared neighbor (AQE skew-splits hubs) with
      the weight riding the join row, so the (a, b) rollup is one
      map-side-combined integer sum. EVERY qualifying pair;
      Θ(Σ deg²) — the recall anchor. (r12: the in-task array wedge
      generator measured SLOWER — see adjacency_jaccard's note.)
    * ``dispatch='sketch'`` — MinHash+LSH candidates over neighbor
      SETS (_adjacency_lsh_candidates, the adjacency_minhash_pairs
      stage) with the SAME exact weighted expansion restricted to
      candidate pairs: per emitted pair the score is IDENTICAL to
      the exact route (verification recomputes the true weighted
      intersection); only recall is probabilistic, Θ(candidates).
      Identical neighbor sets collide in every band, so recall at
      neighborhood-Jaccard 1.0 is exactly 1.
    * ``dispatch='auto'`` — MEASURE Σ deg² (count_wedges) against
      WEDGE_BUDGET, the calibrated budget shared with
      adjacency_similarity; exact at or under, sketch over.

    SCOPE OF THE SKETCH (measured, round 11): the sketch is
    faithful for SIMILAR-NEIGHBORHOOD consumers (pairs with high
    neighborhood Jaccard — every emitted score exact, clique
    recall pinned ≥80%), but it is NOT a global top-k-by-score
    substitute: at the 10× co-purchase graph (184M wedges) the
    sketch's top-50 overlaps the exact top-50 at only 5/50,
    because the top AA scores there come from 2-3 RARE shared
    neighbors on pairs whose overall neighborhoods are dissimilar
    (LSH never banks them). Two alternatives were measured and
    REJECTED on the same graph: degree-capped center truncation
    (budget-sized cap = 32) reaches 10/50 — each dropped hub term
    is ≥ 1/ln(33) and the head reorders — and DOULION-style edge
    sampling at p = 0.5 / 0.3 reaches 2/50 — few-wedge pairs get
    no concentration. For global top-k past the budget, scale the
    EXACT expansion with executors instead: it is linear in
    Σ deg², map-side combined, and AQE skew-splits hub centers
    (the budget bounds interactive single-node work, not cluster
    work).
    """
    if dispatch == "auto":
        dispatch = "exact" if count_wedges(edges) <= WEDGE_BUDGET else "sketch"
    e1 = _aa_weighted_leg(edges)
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("w"))
    if dispatch == "exact":
        wedges = e1.join(e2, "w").filter(F.col("a") < F.col("b"))
    elif dispatch == "sketch":
        _, cand = _adjacency_lsh_candidates(edges, num_hashes, bands)
        # exact weighted verification at candidate scale: the same
        # shared-neighbor join, restricted to LSH-surfaced pairs
        wedges = cand.join(e1, "a").join(e2, ["b", "w"])
    else:
        raise ValueError(
            f"dispatch must be 'auto', 'exact' or 'sketch', got "
            f"{dispatch!r}"
        )
    return wedges.groupBy("a", "b").agg(
        F.count("*").cast("bigint").alias("n_common"),
        F.sum("term_pico").cast("bigint").alias("aa_pico"),
    )


def clustering_coefficient(
    edges: DataFrame,
    dispatch: str = "auto",
) -> DataFrame:
    """Local clustering coefficient per node: cc = 2·triangles /
    (deg·(deg−1)) for every node with deg ≥ 2. Input: SYMMETRIC
    distinct (u, v) edges. Output (node, degree, n_triangles,
    cc_ppm) — exact integer counts, cc_ppm one integer
    cross-multiply floor-division (both routes emit IDENTICAL ROWS;
    this dispatch trades plan shape, not accuracy).

    Cost-dispatched (round-10 verdict #2 — the third wedge-family
    consumer behind the measured Σ deg² budget):

    * ``dispatch='exact'`` — the center-wedge expansion: per node,
      wedges (v < w) equi-joined on the center then closed against
      the edge set. Θ(Σ deg²) wedge rows — the historical q274
      plan, what runs at both fixture SFs (cheapest there on 32
      threads; on 4 CPUs q274 at sf0.1 measured 4.1 s vs 3.4 s for
      the oriented route — the price of a host-independent route).
    * ``dispatch='oriented'`` — degree-oriented EDGE ITERATION
      with adjacency intersection (the q135 triangle plan —
      Chiba–Nishizeki / Schank–Wagner; public literature): orient
      every edge from lower (degree, id) rank to higher, then per
      oriented edge (a, b) the closing vertices are exactly
      array_intersect(out(a), out(b)) — each triangle emitted once
      at its minimum-rank edge, with NO wedge set materialized
      anywhere (the round-5 bench lesson: the wedge-join form
      materialized 41M wedges to find 1.9M triangles — 95% of the
      quadratic fan-out never closed). Orientation caps out-lists
      at O(√m) regardless of raw degree, so per-edge work is
      bounded even for hubs: Θ(Σ d_out²) probe work = O(m^1.5)
      worst-case, and the per-corner credit is one unionAll of
      three projections at TRIANGLE (not wedge) scale.
    * ``dispatch='auto'`` — MEASURE Σ deg² (count_wedges) against
      WEDGE_BUDGET (the calibrated budget shared with
      adjacency_similarity/adamic_adar); center-wedge at or under,
      oriented over.
    """
    if dispatch == "auto":
        dispatch = "exact" if count_wedges(edges) <= WEDGE_BUDGET else "oriented"
    deg = edges.groupBy("u").agg(F.count("*").cast("bigint").alias("d"))
    if dispatch == "exact":
        e1 = edges.select(F.col("u").alias("node"), F.col("v").alias("w1"))
        e2 = edges.select(F.col("u").alias("node2"), F.col("v").alias("w2"))
        wedges = e1.join(
            e2,
            (F.col("node2") == F.col("node")) & (F.col("w2") > F.col("w1")),
        ).select("node", "w1", "w2")
        closing = edges.select(
            F.col("u").alias("w1"), F.col("v").alias("w2")
        )
        tri = (
            wedges.join(closing, ["w1", "w2"])
            .groupBy("node")
            .agg(F.count("*").cast("bigint").alias("t2"))
        )
    elif dispatch == "oriented":
        # rank = (degree, id) ascending; oriented edge keeps only
        # the low→high direction. The join on the endpoint id is
        # equi (hash join); the rank comparison rides as a
        # residual filter — no nested-loop shapes.
        du = deg.select(F.col("u").alias("_n"), F.col("d").alias("_du"))
        dv = deg.select(F.col("u").alias("_m"), F.col("d").alias("_dv"))
        oriented = (
            edges.join(du, edges["u"] == du["_n"])
            .join(dv, edges["v"] == dv["_m"])
            .filter(
                (F.col("_du") < F.col("_dv"))
                | ((F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v")))
            )
            .select("u", "v")
        )
        # two consumers below (the edge stream + the adjacency
        # build); cut the lineage so the orientation builds once
        oriented = checkpoint(oriented)
        # oriented out-adjacency per node (distinct input edges →
        # unique list entries; O(√m) long by the orientation cap);
        # intersect the two endpoints' lists per edge — the closing
        # vertices, with no wedge row ever materialized. Inner
        # joins are correct: an endpoint with no out-list closes
        # nothing. No broadcast hints — adjacency is corpus-derived
        # (the r9 de-hinting rule); AQE picks the strategy.
        adj = oriented.groupBy(F.col("u").alias("n")).agg(
            F.collect_list("v").alias("nbrs")
        )
        tris = (
            oriented.join(
                adj.select(F.col("n").alias("u"), F.col("nbrs").alias("na")),
                "u",
            )
            .join(
                adj.select(F.col("n").alias("v"), F.col("nbrs").alias("nb")),
                "v",
            )
            .select(
                "u",
                "v",
                F.explode(F.array_intersect("na", "nb")).alias("w"),
            )
        )
        credits = (
            tris.select(F.col("u").alias("node"))
            .unionAll(tris.select(F.col("v").alias("node")))
            .unionAll(tris.select(F.col("w").alias("node")))
        )
        tri = credits.groupBy("node").agg(
            F.count("*").cast("bigint").alias("t2")
        )
    else:
        raise ValueError(
            f"dispatch must be 'auto', 'exact' or 'oriented', got "
            f"{dispatch!r}"
        )
    return (
        deg.filter(F.col("d") >= 2)
        .join(tri, deg["u"] == tri["node"], "left")
        .select(
            deg["u"].alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t2"), F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
            F.expr(
                "CAST(COALESCE(t2, 0) * 2 * 1000000"
                " DIV (d * (d - 1)) AS BIGINT)"
            ).alias("cc_ppm"),
        )
    )
