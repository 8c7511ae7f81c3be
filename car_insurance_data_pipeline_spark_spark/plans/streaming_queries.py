"""Streaming catalog queries: batch-equivalent sessionization and
tumbling windows, plus the append-mode deployment shape.

Puts Structured Streaming (SURVEY.md §2.9) under the driver's hard
correctness signal: the events fixture is driven through REAL
streaming queries (readStream → session_window / window aggregation
→ memory sink, availableNow trigger), and the results are
oracle-checked against batch SQL formulations of the same
semantics.

Multi-batch is FORCED: the single-file events fixture is split into
three files in a temp dir and streamed with maxFilesPerTrigger=1,
so session/window state must merge across ≥3 micro-batches — the
oracle equality proves incremental state handling, not just
one-shot batch equivalence (r2 verdict finding #3).

Session semantics: Spark's session_window(ts, gap) merges an event
into the current session iff its timestamp is STRICTLY inside the
previous event's [t, t + gap) extension — i.e. a gap >= 30 min
starts a new session. The oracle mirrors that with a lag-window
cumulative-sum formulation (strict >= on the gap).

Scale: session-window state partitions by user_id. The complete-
mode memory sink exists for the verification path (with availableNow
the watermark never passes the final sessions, so append mode would
drop them; complete emits every closed-and-open session — exactly
the batch answer once the source is exhausted). The deployment
shape — append mode + watermark to a file sink, state bounded by
the watermark — is ``sessions_append_sink`` below, exercised by
tests/test_streaming_queries.py with row counts reconciled against
the complete-mode result on the closed prefix.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from car_insurance_data_pipeline_spark_spark.plans.catalog import query, table
from car_insurance_data_pipeline_spark_spark.session import checkpoint

_GAP = "30 minutes"

# State-store partition count for the verification streams. The
# number of state partitions is fixed at stream start from
# spark.sql.shuffle.partitions; every micro-batch then runs one task
# round per state partition PER stateful operator, so for a
# verification corpus whose whole state fits in kilobytes, 32
# partitions is pure per-batch task overhead (measured on the q100
# stream-stream join at sf0.1: 32 → 9.98 s, 8 → 3.73 s, identical
# results). At 100 TB this is the deployment knob sized the other
# way: state volume / (executor count × cores), typically hundreds —
# the query shapes are unchanged, only the session conf differs.
_STREAM_SHUFFLE_PARTITIONS = "8"

_REDELIVER_CACHE: dict[str, tuple[str, object]] = {}


def _split_events_with_redelivery(spark: SparkSession, sf_dir: str):
    """Like ``_split_events``, but appends a 4th file that RE-DELIVERS
    a deterministic ~1/7 subset of the events (event_id % 7 == 0) —
    the at-least-once-delivery failure mode streaming dedup exists
    for. Streamed with maxFilesPerTrigger=1 this forces ≥4
    micro-batches where the duplicate arrivals land in a LATER batch
    than (some of) the originals, so exact-once output requires
    cross-batch dedup state, not within-batch distinct."""
    if sf_dir in _REDELIVER_CACHE:
        return _REDELIVER_CACHE[sf_dir]
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    tmp = tempfile.mkdtemp(prefix="spark_graft_events_redeliver_")
    batch.repartition(3).write.mode("overwrite").parquet(tmp)
    batch.filter(F.expr("event_id % 7 = 0")).coalesce(1).write.mode(
        "append"
    ).parquet(tmp)
    _REDELIVER_CACHE[sf_dir] = (tmp, batch.schema)
    return tmp, batch.schema


_SPLIT_CACHE: dict[str, tuple[str, object]] = {}


def _split_events(spark: SparkSession, sf_dir: str, n: int = 3):
    """Copy the (single-file) events fixture into an ``n``-file temp
    dir: under maxFilesPerTrigger=1 + availableNow the file source
    then runs ``n`` micro-batches, forcing cross-batch state merge.
    Returns (dir, schema). No watermark is involved on the
    complete-mode path, so the round-robin (unordered-in-time) split
    can never drop events as late.

    The split is cached per sf_dir for the process lifetime (q71 and
    q80 share one copy instead of re-writing it per call); the temp
    dir is one events-table copy, reclaimed with the OS temp dir.
    """
    if sf_dir in _SPLIT_CACHE:
        tmp, schema = _SPLIT_CACHE[sf_dir]
        return tmp, schema
    # ts is nanosecond parquet — same conf contract as events_with_us.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    tmp = tempfile.mkdtemp(prefix="spark_graft_events_split_")
    batch.repartition(n).write.mode("overwrite").parquet(tmp)
    _SPLIT_CACHE[sf_dir] = (tmp, batch.schema)
    return tmp, batch.schema


_ORDERED_SPLIT_CACHE: dict[str, tuple[str, object]] = {}


def _split_events_by_time(spark: SparkSession, sf_dir: str):
    """Chronological 3-file split: file k holds the k-th tercile of
    event time, written in order so the file source (which processes
    files oldest-modification-first under maxFilesPerTrigger=1)
    replays the fixture roughly in event-time order. This is what a
    TIGHT watermark needs: under the round-robin ``_split_events``
    a "0 seconds" watermark would drop most of batches 2-3 as late
    (measured: 23 → 13 matches on q140's join), because the
    watermark latched after batch 1 already exceeds their event
    times. Tercile boundaries come from exact percentiles (two
    scalar values, no global sort); boundary-tied rows all land in
    the EARLIER file, so no row can arrive with ts strictly below
    the latched watermark.
    """
    if sf_dir in _ORDERED_SPLIT_CACHE:
        return _ORDERED_SPLIT_CACHE[sf_dir]
    from car_insurance_data_pipeline_spark_spark.plans.relational import ts_us_expr

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    # percentiles over the µs integer derivation (ts ships as either
    # int64-nano or µs-timestamp_ntz; percentile_disc needs numeric)
    us = ts_us_expr(batch.schema["ts"].dataType.simpleString())
    staged = batch.withColumn("__us", us)
    b1, b2 = (
        staged.select(
            F.expr("percentile_disc(0.3333) WITHIN GROUP (ORDER BY __us)"),
            F.expr("percentile_disc(0.6667) WITHIN GROUP (ORDER BY __us)"),
        ).collect()[0]
    )
    tmp = tempfile.mkdtemp(prefix="spark_graft_events_ordered_")
    for part in (
        staged.filter(F.col("__us") <= F.lit(b1)),
        staged.filter((F.col("__us") > F.lit(b1)) & (F.col("__us") <= F.lit(b2))),
        staged.filter(F.col("__us") > F.lit(b2)),
    ):
        part.drop("__us").coalesce(1).write.mode("append").parquet(tmp)
    _ORDERED_SPLIT_CACHE[sf_dir] = (tmp, batch.schema)
    return tmp, batch.schema


def _event_ts(schema) -> F.Column:
    # timestamp_micros builds an absolute instant (TimestampType) —
    # no ntz round trip, so the session timezone of the (possibly
    # externally created) session can never shift the arithmetic.
    # The µs derivation branches on the staged source's ts dtype
    # (int64-nano vs µs-timestamp fixtures) via the shared helper.
    from car_insurance_data_pipeline_spark_spark.plans.relational import ts_us_expr

    ts_dtype = schema["ts"].dataType.simpleString()
    return F.timestamp_micros(ts_us_expr(ts_dtype))


def _run_complete(
    spark: SparkSession,
    sf_dir: str,
    build,
    post,
    sink: str,
    stage=None,
    mode: str = "complete",
    state_partitions: str = _STREAM_SHUFFLE_PARTITIONS,
    no_data_batches: bool = False,
):
    """Split source → streaming transform (``build``) → memory sink
    (``mode``: complete for aggregations, append for stream-stream
    joins, which complete mode does not support) → ``post``-processed,
    materialized result. Returns (DataFrame, n_data_batches).

    Fixed sink name + drop-after-materialize: a per-call uuid name
    would leave every invocation's complete-mode result pinned in
    driver memory for the session's lifetime (concurrent invocations
    in one session would collide, but the verification driver is
    sequential by contract).
    """
    spark.catalog.dropTempView(sink)
    src, schema = (stage or _split_events)(spark, sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # The state partition count is latched from the session conf at
    # start(); restore the caller's value immediately after — batch
    # plans in the same session are unaffected.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # No-data micro-batches exist to advance the watermark so that
    # APPEND-mode aggregations can emit their final windows. None of
    # the verification sinks here need that: complete/update modes
    # re-emit state every data batch, the stream-stream join emits on
    # match arrival, and dropDuplicatesWithinWatermark only uses the
    # watermark to EVICT state (retaining it longer can never un-dedup
    # a row). Skipping them removes one full task round per stateful
    # operator per stream (~25-50% of each query's wall time,
    # measured). The deployment-shape append sink
    # (``sessions_append_sink``) does NOT run through this helper and
    # keeps the default. Restored after termination, not after
    # start(): this conf is consulted per micro-batch, not latched.
    # ``no_data_batches=True`` keeps them ON — OUTER stream-stream
    # joins emit their null-padded rows only when a (possibly
    # no-data) batch advances the watermark past the state's expiry.
    prev_ndmb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", state_partitions)
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "true" if no_data_batches else "false",
    )
    started = False
    try:
        q = (
            build(stream.withColumn("event_ts", _event_ts(schema)))
            .writeStream.outputMode(mode)
            .format("memory")
            .queryName(sink)
            .trigger(availableNow=True)
            .start()
        )
        started = True
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if not started:
            # start() failed → the post-termination restore below is
            # unreachable; undo the conf change here instead.
            spark.conf.set(
                "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndmb
            )
    # stop + drop in finally: an exception mid-stream (or in ``post``)
    # must not leave an active query holding the fixed sink name — the
    # NEXT invocation's start() would fail on the duplicate queryName.
    try:
        q.awaitTermination()
        n_batches = sum(
            1 for p in q.recentProgress if p.get("numInputRows", 0) > 0
        )
        # localCheckpoint decouples the result from the memory sink so
        # the temp view can be dropped now; the checkpoint blocks are
        # released by the ContextCleaner when the DataFrame is dropped.
        out = post(spark.table(sink)).transform(checkpoint, eager=True)
        return out, n_batches
    finally:
        if q.isActive:
            q.stop()
        spark.catalog.dropTempView(sink)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndmb
        )


def _run_append(
    spark: SparkSession,
    sf_dir: str,
    build,
    post,
    sink: str,
    stage=None,
    no_data_batches: bool = False,
):
    """``_run_complete`` in append mode — for stream-stream joins,
    which complete mode does not support. Inner join results emit as
    soon as both sides are in state, so with availableNow draining
    the whole source the appended rows are the complete match set —
    no watermark wait is involved for emission (the watermark only
    bounds state).

    State partitions pinned LOWER than the aggregation streams: a
    stream-stream join keeps 4 state stores per partition (two sides
    x two join directions), so each micro-batch pays 4 task rounds
    per partition; with kilobyte verification state the sweet spot
    measured at sf0.1 is 2 (8 -> 3.1 s, 4 -> 2.45 s, 2 -> 2.25 s),
    while the Arrow-stateful q116 degrades below 8 (2.6 s -> 4.2 s)
    because its per-partition Python work serializes. Same deployment
    knob, opposite direction — documented at
    _STREAM_SHUFFLE_PARTITIONS."""
    return _run_complete(
        spark, sf_dir, build, post, sink, stage=stage, mode="append",
        state_partitions="2", no_data_batches=no_data_batches,
    )


def _session_agg(stream: DataFrame) -> DataFrame:
    return stream.groupBy(
        F.session_window("event_ts", _GAP).alias("win"), F.col("user_id")
    ).agg(
        F.count("*").alias("n_events"),
        F.min("event_ts").alias("first_ts"),
        F.max("event_ts").alias("last_ts"),
    )


@query(
    "q71_streaming_sessions",
    oracle="""
WITH o AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
), s AS (
  SELECT user_id, ts_us,
    SUM(new_s) OVER (
      PARTITION BY user_id ORDER BY ts_us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM o
)
SELECT user_id,
  MIN(ts_us) AS session_start_us,
  COUNT(*) AS n_events,
  MAX(ts_us) - MIN(ts_us) AS duration_us
FROM s
GROUP BY user_id, sid
""",
)
def q71_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization driven to completion inside the call:
    3-file source stream (maxFilesPerTrigger=1 → ≥3 micro-batches) →
    session_window (30-min gap) per user → complete-mode memory sink.
    Returns the materialized session table; the oracle is the
    equivalent batch formulation, so the streaming engine's
    CROSS-BATCH session merge is value-checked, not just
    smoke-tested."""
    out, _ = _run_complete(
        spark,
        sf_dir,
        _session_agg,
        lambda t: t.select(
            "user_id",
            F.unix_micros("first_ts").alias("session_start_us"),
            "n_events",
            (F.unix_micros("last_ts") - F.unix_micros("first_ts")).alias(
                "duration_us"
            ),
        ),
        sink="q71_sessions",
    )
    return out


@query(
    "q80_streaming_window_counts",
    oracle="""
SELECT user_id,
  (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
  COUNT(*) AS n_events
FROM events
GROUP BY user_id, (epoch_us(ts) // 3600000000) * 3600000000
""",
)
def q80_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming aggregation under the oracle: the
    split events fixture streamed through readStream → 1-hour window
    groupBy → complete-mode memory sink (availableNow,
    maxFilesPerTrigger=1 → ≥3 micro-batches), checked against the
    batch hour-bucket SQL. Complements q71 (session windows):
    together the two cover Structured Streaming's time-window
    aggregation surface with value-level verification of
    cross-batch state."""
    out, _ = _run_complete(
        spark,
        sf_dir,
        lambda s: s.groupBy(
            F.window("event_ts", "1 hour").alias("win"), F.col("user_id")
        ).agg(F.count("*").alias("n_events")),
        lambda t: t.select(
            "user_id",
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            "n_events",
        ),
        sink="q80_window_counts",
    )
    return out


@query(
    "q93_streaming_dedup",
    oracle="""
SELECT event_type, COUNT(*) AS n_events,
  CAST(SUM(TRY_CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
""",
)
def q93_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup under the oracle: the events
    fixture is streamed with a 4th file that re-delivers ~1/7 of the
    rows in a LATER micro-batch (at-least-once source semantics), and
    ``dropDuplicatesWithinWatermark(event_id)`` must suppress them via
    cross-batch dedup state before a per-type aggregate. The oracle is
    the plain batch aggregate over the fixture — it matches iff every
    re-delivered duplicate was dropped (the inflated counts are
    ~14% higher, far outside hash tolerance, i.e. zero).

    Verification watermark is 60 days (> the fixture's 30-day span):
    nothing is ever late, so the oracle equality is exact and the
    dedup state covers the whole stream. In production the watermark
    is the source's redelivery horizon (minutes-hours), which is
    precisely what bounds dedup state at 100 TB — that bound is this
    operator's reason to exist over a batch ``dropDuplicates``."""
    from car_insurance_data_pipeline_spark_spark.plans.relational import dsum

    out, _ = _run_complete(
        spark,
        sf_dir,
        lambda s: s.withWatermark("event_ts", "60 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        ),
        lambda t: t.select("event_type", "n_events", "sum_value"),
        sink="q93_dedup",
        stage=_split_events_with_redelivery,
    )
    return out


@query(
    "q97_stream_static_enrich",
    oracle="""
SELECT c.c_mktsegment AS segment,
  (epoch_us(e.ts) // 3600000000) * 3600000000 AS window_start_us,
  COUNT(*) AS n_events,
  CAST(SUM(TRY_CAST(e.value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
)
def q97_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join under the oracle: the split
    events stream (≥3 micro-batches) is joined per-batch to the
    STATIC customer dimension on user_id = c_custkey, then aggregated
    into 1-hour tumbling windows per market segment — the canonical
    "enrich the event stream with a dimension table, then window"
    deployment shape. Completes Structured Streaming coverage beyond
    pure aggregation (q71/q80) and dedup (q93): the batch-side plan
    inside each micro-batch broadcasts the dim, so the stream never
    shuffles on the join key. Sum goes through decimal (exact,
    order-independent) for cross-engine hash stability. Columns:
    segment, window_start_us, n_events, sum_value.

    Scale: the static side is re-planned per micro-batch (Spark's
    stream-static contract — dim updates are picked up between
    batches); state exists only for the window aggregate, partitioned
    by (window, segment). The dim join carries NO broadcast hint:
    Catalyst broadcasts it under the threshold (keeping the hot path
    shuffle-free), and larger dims genuinely fall back to
    shuffle-hash per batch — a pinned F.broadcast() would OOM
    instead of falling back.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import dsum

    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    out, _ = _run_complete(
        spark,
        sf_dir,
        lambda s: s.join(dim, s["user_id"] == dim["c_custkey"])
        .groupBy(
            F.window("event_ts", "1 hour").alias("win"), F.col("segment")
        )
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        ),
        lambda t: t.select(
            "segment",
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            "n_events",
            "sum_value",
        ),
        sink="q97_enrich",
    )
    return out


@query(
    "q100_stream_stream_join",
    oracle="""
SELECT a.user_id, a.event_id AS view_id, b.event_id AS click_id,
  epoch_us(b.ts) - epoch_us(a.ts) AS delay_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'click'
 AND epoch_us(b.ts) >= epoch_us(a.ts)
 AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800000000
""",
)
def q100_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join under the oracle: the split events
    stream filtered into a 'view' stream and a 'click' stream (two
    streaming branches of one source), joined on user with the click
    inside [view, view + 30 min] — the funnel-correlation shape. The
    round-robin file split lands matching rows in DIFFERENT
    micro-batches, so matches require buffered join state across
    batches; append mode emits each match exactly once. Completes
    the Structured Streaming surface: windowed agg (q71/q80),
    exactly-once dedup (q93), stream-static (q97), stream-stream
    (here). Columns: user_id, view_id, click_id, delay_us.

    Scale: both sides carry watermarks and the time-interval join
    condition, which is what lets Spark EVICT buffered rows older
    than watermark − 30 min — state is bounded by the time bound, not
    the stream length. Verification uses a 60-day watermark (fixture
    span) so nothing is evicted early and the match set is exactly
    the batch join; production sets the real correlation horizon.
    """
    def build(s: DataFrame) -> DataFrame:
        views = (
            s.filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("event_id").alias("view_id"),
                F.col("event_ts").alias("view_ts"),
            )
            .withWatermark("view_ts", "60 days")
        )
        clicks = (
            s.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("event_ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "60 days")
        )
        return views.join(
            clicks,
            F.expr(
                "v_user = c_user AND click_ts >= view_ts "
                "AND click_ts <= view_ts + interval 30 minutes"
            ),
        )

    out, _ = _run_append(
        spark,
        sf_dir,
        build,
        lambda t: t.select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "click_id",
            (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias(
                "delay_us"
            ),
        ),
        sink="q100_funnel",
    )
    return out


@query(
    "q140_stream_outer_join",
    oracle="""
WITH v AS (
  SELECT user_id, event_id AS view_id, epoch_us(ts) AS vts
  FROM events WHERE event_type = 'view'
), c AS (
  SELECT user_id, event_id AS click_id, epoch_us(ts) AS cts
  FROM events WHERE event_type = 'click'
), w AS (
  SELECT LEAST((SELECT MAX(vts) FROM v), (SELECT MAX(cts) FROM c)) AS wm
)
SELECT v.user_id, v.view_id, c.click_id,
  c.cts - v.vts AS delay_us
FROM v LEFT JOIN c
  ON v.user_id = c.user_id
 AND c.cts >= v.vts AND c.cts <= v.vts + 1800000000
WHERE c.click_id IS NOT NULL
   OR v.vts + 1800000000 < (SELECT wm FROM w)
""",
)
def q140_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join under the oracle — the
    abandoned-funnel shape ("every view, with its click if one came
    within 30 min, else nulls"). Distinct semantics from q100's
    inner join: null-padded rows are emitted only when the watermark
    passes the view's join horizon and its state is EVICTED, so this
    exercises the watermark-driven outer-emission machinery (and the
    no-data micro-batch that performs the final flush), not just
    match-on-arrival.

    Verification setup: the events fixture is split into THREE
    CHRONOLOGICAL files (``_split_events_by_time``) and streamed
    with a "0 seconds" watermark — time-ordered replay keeps the
    tight watermark from dropping rows as late while letting it
    advance batch-by-batch, which is what forces outer emissions
    across batches rather than one final dump. The oracle encodes
    Spark's emission rule exactly: matches are the batch interval
    join; unmatched views appear iff view_ts + 30 min < W where W =
    least(max view ts, max click ts) — the terminal global watermark
    (min across the two branch watermarks at delay 0). Views whose
    horizon the watermark never passed remain buffered at shutdown
    and appear on NEITHER side. Columns: user_id, view_id, click_id
    (null when abandoned), delay_us (null when abandoned).

    Scale: same bounded-state story as q100 — both sides evict by
    the 30-min bound; outer emission adds no extra state, it rides
    the same eviction. The chronological split is the VERIFICATION
    stage (fixture-sized, 2-scalar percentile collect); production
    sources (Kafka) are already roughly time-ordered, with the
    watermark delay sized to the real out-of-orderness instead of 0.
    """
    def build(s: DataFrame) -> DataFrame:
        views = (
            s.filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("event_id").alias("view_id"),
                F.col("event_ts").alias("view_ts"),
            )
            .withWatermark("view_ts", "0 seconds")
        )
        clicks = (
            s.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("event_ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "0 seconds")
        )
        return views.join(
            clicks,
            F.expr(
                "v_user = c_user AND click_ts >= view_ts "
                "AND click_ts <= view_ts + interval 30 minutes"
            ),
            "leftOuter",
        )

    out, _ = _run_append(
        spark,
        sf_dir,
        build,
        lambda t: t.select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "click_id",
            (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias(
                "delay_us"
            ),
        ),
        sink="q140_outer_funnel",
        stage=_split_events_by_time,
        no_data_batches=True,
    )
    return out


def sessions_append_sink(
    spark: SparkSession,
    src_dir: str,
    schema,
    out_dir: str,
    ckpt_dir: str,
    gap: str = _GAP,
    watermark: str = "1 hour",
    max_files: int = 1,
) -> DataFrame:
    """The DEPLOYMENT shape of q71: append mode + watermark to a
    parquet sink with a checkpoint — what production runs, with
    session state BOUNDED by the watermark instead of held forever.

    A session is emitted exactly once, when the watermark passes its
    close (last event + gap); under availableNow the final sessions
    within the watermark of the stream's end are withheld — a
    subsequent run resuming from ``ckpt_dir`` picks them up, so no
    session is ever lost or duplicated across runs. The source files
    must arrive in (approximate) time order or the watermark drops
    genuinely-late events — that is the semantics of a watermark,
    mirrored here so tests exercise it honestly.

    Returns the parquet sink read back as a DataFrame.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
    )
    sessions = (
        stream.withColumn("event_ts", _event_ts(schema))
        .withWatermark("event_ts", watermark)
        .groupBy(F.session_window("event_ts", gap).alias("win"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_ts").alias("first_ts"),
            F.max("event_ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.unix_micros("first_ts").alias("session_start_us"),
            "n_events",
            (F.unix_micros("last_ts") - F.unix_micros("first_ts")).alias(
                "duration_us"
            ),
        )
    )
    q = (
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


@query(
    "q102_streaming_sliding_counts",
    oracle="""
SELECT window_start_us, COUNT(*) AS n_events FROM (
  SELECT (epoch_us(ts) // 1800000000) * 1800000000 AS window_start_us
  FROM events
  UNION ALL
  SELECT (epoch_us(ts) // 1800000000) * 1800000000 - 1800000000
  FROM events
) GROUP BY window_start_us
""",
)
def q102_streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregation under the oracle: 1-hour
    windows sliding every 30 minutes over the split events stream
    (each event lands in exactly 2 overlapping windows), complete-
    mode memory sink, ≥3 micro-batches. Completes the time-window
    coverage: tumbling (q80), session (q71), sliding (here). The
    oracle enumerates both slide-aligned window starts per event and
    re-aggregates. Columns: window_start_us, n_events.

    Scale: state is (n_windows_open × groups); the slide only
    multiplies each event into width/slide = 2 state updates — the
    watermark (in deployment) still bounds total open windows.
    """
    out, _ = _run_complete(
        spark,
        sf_dir,
        lambda s: s.groupBy(
            F.window("event_ts", "1 hour", "30 minutes").alias("win")
        ).agg(F.count("*").alias("n_events")),
        lambda t: t.select(
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            "n_events",
        ),
        sink="q102_sliding",
    )
    return out


@query(
    "q116_stateful_running_stats",
    oracle="""
SELECT user_id,
  CAST(COUNT(value) AS BIGINT) AS n,
  CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT)
    AS total_micro,
  MAX(value) AS peak
FROM events WHERE value IS NOT NULL
GROUP BY user_id
""",
)
def q116_stateful_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator under the oracle:
    applyInPandasWithState maintains per-user running
    (count, quantized sum, peak) across ≥3 micro-batches, emitting a
    refreshed row per touched key per batch; the LAST version per
    key must equal the batch aggregate — which proves the state
    round-trip (read → merge → write) is lossless across batches,
    the property the built-in windowed aggs get for free and custom
    state code has to earn. Completes the streaming surface: every
    stateful mechanism (window/session/dedup/join/custom state) now
    carries an oracle. Columns: user_id, n, total_micro, peak.

    Determinism: values fold into state as FLOOR(value·1e6) int64
    micro-units — order-independent integer addition across batches
    and engines (a running double sum would depend on arrival
    order); count and max are order-independent by nature. The
    update-mode memory sink keeps every emitted version; the final
    version per key is selected by max n (n strictly grows per
    emission), so verification also fails if a state update is ever
    LOST (final n too small) or double-applied (too large).

    Scale: state is 3 numbers per user, partitioned by the group
    key across the state store; Arrow batches stream per group —
    no per-row Python. Production adds a state timeout.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    out_schema = "user_id long, n long, total_micro long, peak double"
    state_schema = "n long, total_micro long, peak double"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n, total_micro, peak = state.get
        else:
            n, total_micro, peak = 0, 0, None
        for pdf in pdfs:
            # no dropna: NULLs are filtered upstream (mirroring the
            # oracle's WHERE), and dropna would ALSO drop NaN rows
            # that the oracle keeps — a silent cross-engine divergence
            vals = pdf["value"]
            if not len(vals):
                continue
            n += int(len(vals))
            # floor(v*1e6): the double product is IEEE-identical in
            # every engine, so the quantization is exact cross-engine
            total_micro += int(
                sum(int(math.floor(v * 1_000_000)) for v in vals)
            )
            mx = float(vals.max())
            peak = mx if peak is None else max(peak, mx)
        state.update((n, total_micro, peak))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "total_micro": [total_micro],
             "peak": [peak]}
        )

    def build(s: DataFrame) -> DataFrame:
        return (
            s.filter(F.col("value").isNotNull())
            .select("user_id", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                update, out_schema, state_schema, "update",
                GroupStateTimeout.NoTimeout,
            )
        )

    def post(t: DataFrame) -> DataFrame:
        # update-mode memory sink holds every per-batch version; the
        # final state per key is the max-n version (n only grows)
        return (
            t.groupBy("user_id")
            .agg(F.max(F.struct("n", "total_micro", "peak")).alias("s"))
            .select(
                "user_id",
                F.col("s.n").alias("n"),
                F.col("s.total_micro").alias("total_micro"),
                F.col("s.peak").alias("peak"),
            )
        )

    out, _ = _run_complete(
        spark, sf_dir, build, post, sink="q116_state", mode="update"
    )
    return out


@query(
    "q155_streaming_datasource",
    oracle="""
WITH r AS (
  SELECT unnest(range((SELECT COUNT(*) * 5 FROM customer))) AS id
)
SELECT id % 53 AS device,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM((3 * id * id + 7) % 5000 - 2500) AS BIGINT) AS sum_temp_d
FROM r GROUP BY 1
""",
)
def q155_streaming_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STREAMING connector end-to-end: readStream over the
    Python DataSource API's SimpleDataSourceStreamReader
    (`sources/pydatasource.py:SensorStreamReader`) — offset-tracked
    micro-batch pulls (chunk = ¼ of the feed, so the aggregation
    genuinely accumulates across ≥4 batches), complete-mode grouped
    aggregation, memory sink. The feed size is fixture-anchored
    (5 readings per customer row) and the law is closed-form, so the
    oracle verifies offset continuity across micro-batches: a
    skipped chunk, a double-read page, or an off-by-one at the
    offset boundary all break the value hash. This is q154's batch
    connector taken through the streaming engine — the last source
    family (custom streaming source) brought under the oracle.
    Columns: device, n, sum_temp_d.

    Scale: the source paginates (offset ranges = the queue/HTTP
    contract); the aggregation is the standard partial-agg shuffle
    on device. State is one (count, sum) pair per device.
    """
    from car_insurance_data_pipeline_spark_spark.sources import pydatasource

    pydatasource.register_stream(spark)
    n = table(spark, sf_dir, "customer").count() * 5
    stream = (
        spark.readStream.format("sensor_stream")
        .option("n_rows", n)
        .option("chunk", max(1, n // 4))
        .load()
    )
    agg = stream.groupBy("device").agg(
        F.count("*").alias("n"),
        F.sum("temp_d").alias("sum_temp_d"),
    )
    with tempfile.TemporaryDirectory() as ckpt:
        qy = (
            agg.writeStream.format("memory")
            .queryName("q155_sink")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            qy.processAllAvailable()
        finally:
            qy.stop()
        return spark.table("q155_sink").select("device", "n", "sum_temp_d")


@query(
    "q249_stream_psi",
    oracle="""
WITH rng AS (
  SELECT MIN(CAST(ROUND(value * 1000) AS BIGINT)) AS lo,
    MAX(CAST(ROUND(value * 1000) AS BIGINT)) AS hi
  FROM events WHERE value IS NOT NULL
), binned AS (
  SELECT (epoch_us(ts) // 259200000000) * 259200000000 AS win_us,
    CAST(CASE WHEN hi = lo THEN 0
      ELSE LEAST((CAST(ROUND(value * 1000) AS BIGINT) - lo) * 10
                 // (hi - lo), 9) END AS INT) AS bin
  FROM events, rng WHERE value IS NOT NULL
), cur AS (
  SELECT win_us, bin, CAST(COUNT(*) AS BIGINT) AS c
  FROM binned GROUP BY 1, 2
), ref AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS r FROM binned GROUP BY 1
), reft AS (
  SELECT CAST(SUM(r) AS BIGINT) AS nr FROM ref
), curt AS (
  SELECT win_us, CAST(SUM(c) AS BIGINT) AS nc
  FROM cur GROUP BY win_us
)
SELECT cur.win_us AS window_start_us,
  curt.nc AS n_rows,
  CAST(SUM(CASE WHEN cur.c > 0 AND ref.r > 0 THEN CAST(FLOOR(
      (CAST(cur.c AS DOUBLE) / CAST(curt.nc AS DOUBLE)
       - CAST(ref.r AS DOUBLE) / CAST(reft.nr AS DOUBLE))
      * ln(CAST(cur.c * reft.nr AS DOUBLE)
           / CAST(ref.r * curt.nc AS DOUBLE))
      * 1000000000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS psi_pico
FROM cur
JOIN curt ON curt.win_us = cur.win_us
JOIN ref ON ref.bin = cur.bin, reft
GROUP BY cur.win_us, curt.nc
""",
)
def q249_stream_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift monitor: Population Stability Index of each
    tumbling 3-day window's value distribution against the
    whole-corpus reference — q235's per-deployment drift gate run
    continuously over the live stream (the alerting shape: a window
    whose PSI crosses 0.25 pages the on-call). The stream side
    computes per-(window, bin) counts through a REAL multi-batch
    Structured Streaming aggregation (3-file source,
    maxFilesPerTrigger=1 → cross-batch window-state merge); the PSI
    arithmetic runs batch-side on the materialized window
    histograms with the q235 integer discipline (cross-multiplied
    log ratios, pico-quantized terms, degenerate bins counted
    exactly). Columns: window_start_us, n_rows, psi_pico.

    Determinism: bin edges are integer cross-multiplies over the
    exact global (lo, hi) — two driver-collected scalars, the
    bounded-collect contract; windows are epoch-aligned instants so
    window_start_us is exact integer µs in both engines; terms
    quantize BEFORE summation.

    Scale: the streaming aggregate keys on (window, bin) — state is
    |windows in retention|·10 rows regardless of stream volume, and
    with a watermark the deployment shape evicts closed windows; the
    reference histogram is 10 broadcast rows. Drift monitoring at
    production volume is exactly this: bounded-state window
    histograms + grid arithmetic.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    base = events_with_us(spark, sf_dir).filter(F.col("value").isNotNull())
    lo, hi = base.agg(
        F.min(F.round(F.col("value") * 1000).cast("bigint")),
        F.max(F.round(F.col("value") * 1000).cast("bigint")),
    ).first()

    def build(stream: DataFrame) -> DataFrame:
        if hi == lo:
            b = F.lit(0).cast("int")
        else:
            b = F.least(
                F.expr(f"(CAST(ROUND(value * 1000) AS BIGINT) - {lo}L)"
                       f" * 10 DIV {hi - lo}L"),
                F.lit(9).cast("bigint"),
            ).cast("int")
        return (
            stream.filter(F.col("value").isNotNull())
            .select(F.window("event_ts", "3 days").alias("win"), b.alias("bin"))
            .groupBy("win", "bin")
            .agg(F.count("*").cast("bigint").alias("c"))
        )

    def post(t: DataFrame) -> DataFrame:
        cur = t.select(
            F.unix_micros(F.col("win.start")).alias("win_us"), "bin", "c"
        ).transform(checkpoint)
        if hi == lo:
            rb = F.lit(0).cast("int")
        else:
            rb = F.least(
                F.expr(f"(CAST(ROUND(value * 1000) AS BIGINT) - {lo}L)"
                       f" * 10 DIV {hi - lo}L"),
                F.lit(9).cast("bigint"),
            ).cast("int")
        ref = (
            base.select(rb.alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").cast("bigint").alias("r"))
            .transform(checkpoint)
        )
        reft = ref.agg(F.sum("r").cast("bigint").alias("nr"))
        curt = cur.groupBy("win_us").agg(
            F.sum("c").cast("bigint").alias("nc")
        )
        term = F.when(
            (F.col("c") > 0) & (F.col("r") > 0),
            F.floor(
                (
                    F.col("c").cast("double") / F.col("nc").cast("double")
                    - F.col("r").cast("double") / F.col("nr").cast("double")
                )
                * F.log(
                    (F.col("c") * F.col("nr")).cast("double")
                    / (F.col("r") * F.col("nc")).cast("double")
                )
                * F.lit(1000000000000)
            ).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        return (
            cur.join(curt, "win_us")
            .join(F.broadcast(ref), "bin")
            .crossJoin(F.broadcast(reft))
            .groupBy(F.col("win_us").alias("window_start_us"), F.col("nc"))
            .agg(F.sum(term).cast("bigint").alias("psi_pico"))
            .select(
                "window_start_us",
                F.col("nc").alias("n_rows"),
                "psi_pico",
            )
        )

    out, _ = _run_complete(spark, sf_dir, build, post, "q249_psi_sink")
    return out


@query(
    "q266_stream_topk",
    oracle="""
WITH w AS (
  SELECT (epoch_us(ts) // 259200000000) * 259200000000 AS win_us,
    event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE event_type IS NOT NULL
  GROUP BY 1, 2
), r AS (
  SELECT win_us, event_type, n,
    ROW_NUMBER() OVER (PARTITION BY win_us
                       ORDER BY n DESC, event_type) AS rnk
  FROM w
)
SELECT win_us AS window_start_us, event_type, n, CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= 3
""",
)
def q266_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING windowed top-k: the three most frequent event
    types per tumbling 3-day window — the live "trending now"
    shape (dashboard leaderboards, hot-key monitors). The stream
    side maintains per-(window, event_type) counts through a REAL
    multi-batch aggregation (3-file source, maxFilesPerTrigger=1 →
    cross-batch state merge); the rank-and-cut runs batch-side on
    the materialized counts with the deterministic
    (count DESC, event_type) tie-break. Columns: window_start_us,
    event_type, n, rnk.

    Determinism: windows are epoch-aligned integer µs; the rank
    carries the event_type tie-break.

    Scale: streaming state is |windows|·|event types| rows
    regardless of volume (watermarks evict closed windows in the
    deployment shape); the top-k window runs on that bounded frame,
    never the stream. At production volume, per-window leaderboards
    are exactly this: bounded keyed state + a rank over the state
    table.
    """
    from pyspark.sql.window import Window

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.filter(F.col("event_type").isNotNull())
            .select(
                F.window("event_ts", "3 days").alias("win"), "event_type"
            )
            .groupBy("win", "event_type")
            .agg(F.count("*").cast("bigint").alias("n"))
        )

    def post(t: DataFrame) -> DataFrame:
        w = Window.partitionBy("win_us").orderBy(
            F.col("n").desc(), "event_type"
        )
        return (
            t.select(
                F.unix_micros(F.col("win.start")).alias("win_us"),
                "event_type",
                "n",
            )
            .withColumn("rnk", F.row_number().over(w).cast("int"))
            .filter(F.col("rnk") <= 3)
            .select(
                F.col("win_us").alias("window_start_us"),
                "event_type",
                "n",
                "rnk",
            )
        )

    out, _ = _run_complete(spark, sf_dir, build, post, "q266_topk_sink")
    return out


@query(
    "q286_stream_cusum",
    oracle="""
WITH w AS (
  SELECT (epoch_us(ts) // 259200000000) * 259200000000 AS win_us,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS s
  FROM events WHERE value IS NOT NULL GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS ss
  FROM w
), d AS (
  SELECT win_us, n, s, s * nn - ss * n AS dev FROM w, tot
), p AS (
  SELECT win_us, n, dev,
    CAST(SUM(dev) OVER (ORDER BY win_us
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS pre
  FROM d
), c AS (
  SELECT win_us, n, dev, pre,
    pre - LEAST(CAST(0 AS BIGINT),
      CAST(MIN(pre) OVER (ORDER BY win_us
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))
      AS cusum
  FROM p
)
SELECT c.win_us AS window_start_us, c.n AS n_rows, c.dev, c.cusum,
  CAST(CASE WHEN c.cusum > tot.ss * tot.nn // 100 THEN 1 ELSE 0 END
    AS INT) AS alarm
FROM c, tot
""",
)
def q286_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING change-point monitor: one-sided CUSUM of each
    tumbling 3-day window's value mass against the whole-corpus
    rate — q168's batch CUSUM run continuously (the alerting shape
    next to q249's PSI: PSI pages on distribution SHAPE drift, CUSUM
    pages on sustained LEVEL shift). The stream side is a real
    multi-batch windowed aggregation (per-window exact integer count
    + milli-sum; bounded state); batch-side, the positive-part
    recurrence C_w = max(0, C_{w-1} + dev_w) is rewritten as
    C_w = P_w - min(0, min_{j<=w} P_j) — prefix sums plus a running
    min, BOTH plain windows — so no recursion or driver loop exists
    anywhere. Deviations are integer cross-multiplies
    (s_w*N - S*n_w), never per-window float means; the alarm bound
    divides (S*N DIV 100) rather than multiplying cusum so no
    operand leaves int64 even at 10x scale. Columns:
    window_start_us, n_rows, dev, cusum, alarm.

    Determinism: exact integer window sums; epoch-aligned window
    starts in integer µs; prefix/min windows ordered by win_us (cast
    out of HUGEINT per the catalog rule); the alarm threshold is an
    integer cross-multiply (cusum*100 > S*N).

    Scale: streaming state is |open windows| rows regardless of
    stream volume (watermark evicts in the deployment shape); the
    CUSUM pass runs on the |windows| frame — the recurrence
    rewritten as two windows is the same trick that keeps it
    one-pass at any horizon.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.filter(F.col("value").isNotNull())
            .select(
                F.window("event_ts", "3 days").alias("win"),
                F.round(F.col("value") * 1000).cast("bigint").alias("v"),
            )
            .groupBy("win")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum("v").cast("bigint").alias("s"),
            )
        )

    def post(t: DataFrame) -> DataFrame:
        w = t.select(
            F.unix_micros(F.col("win.start")).alias("win_us"), "n", "s"
        ).transform(checkpoint)
        tot = w.agg(
            F.sum("n").cast("bigint").alias("nn"),
            F.sum("s").cast("bigint").alias("ss"),
        )
        d = w.crossJoin(F.broadcast(tot)).select(
            "win_us",
            "n",
            (F.col("s") * F.col("nn") - F.col("ss") * F.col("n")).alias(
                "dev"
            ),
            "nn",
            "ss",
        )
        wcum = Window.orderBy("win_us").rowsBetween(
            Window.unboundedPreceding, 0
        )
        p = d.select(
            "win_us",
            "n",
            "dev",
            "nn",
            "ss",
            F.sum("dev").over(wcum).cast("bigint").alias("pre"),
        )
        c = p.select(
            "win_us",
            "n",
            "dev",
            "nn",
            "ss",
            "pre",
            (
                F.col("pre")
                - F.least(
                    F.lit(0).cast("bigint"),
                    F.min("pre").over(wcum).cast("bigint"),
                )
            ).alias("cusum"),
        )
        return c.select(
            F.col("win_us").alias("window_start_us"),
            F.col("n").alias("n_rows"),
            "dev",
            "cusum",
            F.when(
                F.col("cusum")
                > F.expr("ss * nn DIV 100"),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("alarm"),
        )

    out, _ = _run_complete(spark, sf_dir, build, post, "q286_cusum_sink")
    return out


@query(
    "q321_stream_sprt",
    oracle="""
WITH w AS (
  SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS win_us,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      AS BIGINT) AS x
  FROM events GROUP BY 1
), p AS (
  SELECT win_us, n, x,
    CAST(ROW_NUMBER() OVER (ORDER BY win_us) AS BIGINT) AS rn,
    CAST(SUM(x * 200670 + (n - x) * (-50011)) OVER (ORDER BY win_us
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS llr_micro
  FROM w
), c AS (
  SELECT win_us, n, x, rn, llr_micro,
    MIN(CASE WHEN llr_micro >= 2944438 THEN rn END)
      OVER (ORDER BY rn
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS up_rn,
    MIN(CASE WHEN llr_micro <= -2944438 THEN rn END)
      OVER (ORDER BY rn
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dn_rn
  FROM p
)
SELECT win_us AS window_start_us, n, x, llr_micro,
  CAST(CASE
    WHEN up_rn IS NULL AND dn_rn IS NULL THEN 0
    WHEN dn_rn IS NULL THEN 1
    WHEN up_rn IS NULL THEN -1
    WHEN up_rn < dn_rn THEN 1 ELSE -1 END AS INT) AS decision_state
FROM c
""",
)
def q321_stream_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Wald SPRT monitor — q305's sequential test run
    continuously: each daily tumbling window's (trials, purchases)
    aggregates as real multi-batch streaming state, and the
    post-pass emits the running log-likelihood walk PLUS the
    LATCHED decision per window (0 until the first Wald-bound
    crossing, then ±1 forever — a sequential test, once stopped,
    stays stopped). The weights are q305's frozen integer micro
    literals (no runtime transcendentals); latching is two prefix
    MIN windows over crossing row-numbers, no recursion. This is
    the alerting trio completed: q249 pages on distribution shape
    (PSI), q286 on sustained level (CUSUM), q321 decides BETWEEN
    two hypotheses with always-valid error control. Columns:
    window_start_us, n, x, llr_micro, decision_state.

    Determinism: exact integer window counts; literal weights;
    epoch-aligned integer window starts; prefix windows ordered by
    win_us.

    Scale: streaming state is one (count, sum) pair per open
    window; the walk runs on the |days| frame. An always-valid
    experiment monitor at 100 TB reads per-window partials, never
    the event grain.
    """

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.select(
                F.window("event_ts", "1 day").alias("win"),
                (F.col("event_type") == "purchase")
                .cast("int")
                .alias("p"),
            )
            .groupBy("win")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum("p").cast("bigint").alias("x"),
            )
        )

    def post(t: DataFrame) -> DataFrame:
        w = t.select(
            F.unix_micros(F.col("win.start")).alias("win_us"), "n", "x"
        )
        wcum = Window.orderBy("win_us").rowsBetween(
            Window.unboundedPreceding, 0
        )
        p = w.select(
            "win_us",
            "n",
            "x",
            F.row_number()
            .over(Window.orderBy("win_us"))
            .cast("bigint")
            .alias("rn"),
            F.sum(
                F.col("x") * 200670 + (F.col("n") - F.col("x")) * (-50011)
            )
            .over(wcum)
            .cast("bigint")
            .alias("llr_micro"),
        )
        wrn = Window.orderBy("rn").rowsBetween(
            Window.unboundedPreceding, 0
        )
        c = p.select(
            "win_us",
            "n",
            "x",
            "llr_micro",
            F.min(
                F.when(F.col("llr_micro") >= 2944438, F.col("rn"))
            )
            .over(wrn)
            .alias("up_rn"),
            F.min(
                F.when(F.col("llr_micro") <= -2944438, F.col("rn"))
            )
            .over(wrn)
            .alias("dn_rn"),
        )
        return c.select(
            F.col("win_us").alias("window_start_us"),
            "n",
            "x",
            "llr_micro",
            F.when(
                F.col("up_rn").isNull() & F.col("dn_rn").isNull(), 0
            )
            .when(F.col("dn_rn").isNull(), 1)
            .when(F.col("up_rn").isNull(), -1)
            .when(F.col("up_rn") < F.col("dn_rn"), 1)
            .otherwise(-1)
            .cast("int")
            .alias("decision_state"),
        )

    out, _ = _run_complete(spark, sf_dir, build, post, "q321_sprt_sink")
    return out


@query(
    "q347_stream_wasserstein",
    oracle="""
WITH rng AS (
  SELECT MIN(CAST(ROUND(value * 1000) AS BIGINT)) AS lo,
    MAX(CAST(ROUND(value * 1000) AS BIGINT)) AS hi
  FROM events WHERE value IS NOT NULL
), binned AS (
  SELECT (epoch_us(ts) // 259200000000) * 259200000000 AS win_us,
    CAST(CASE WHEN hi = lo THEN 0
      ELSE LEAST((CAST(ROUND(value * 1000) AS BIGINT) - lo) * 10
                 // (hi - lo), 9) END AS INT) AS bin
  FROM events, rng WHERE value IS NOT NULL
), cur AS (
  SELECT win_us, bin, CAST(COUNT(*) AS BIGINT) AS c
  FROM binned GROUP BY 1, 2
), grid AS (
  SELECT cur.win_us, g.bin, COALESCE(cur2.c, 0) AS c
  FROM (SELECT DISTINCT win_us FROM cur) cur
  CROSS JOIN (SELECT unnest(range(10)) AS bin) g
  LEFT JOIN cur cur2 ON cur2.win_us = cur.win_us AND cur2.bin = g.bin
), ref AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS r FROM binned GROUP BY 1
), refg AS (
  SELECT g.bin, COALESCE(ref.r, 0) AS r
  FROM (SELECT unnest(range(10)) AS bin) g
  LEFT JOIN ref ON ref.bin = g.bin
), cums AS (
  SELECT gr.win_us, gr.bin,
    CAST(SUM(gr.c) OVER (PARTITION BY gr.win_us ORDER BY gr.bin)
      AS HUGEINT) AS cc,
    CAST(SUM(rg.r) OVER (PARTITION BY gr.win_us ORDER BY gr.bin)
      AS HUGEINT) AS cr,
    CAST(SUM(gr.c) OVER (PARTITION BY gr.win_us) AS HUGEINT) AS nc,
    CAST((SELECT SUM(r) FROM refg) AS HUGEINT) AS nr,
    (SELECT lo FROM rng) + (gr.bin + 1)
      * ((SELECT hi FROM rng) - (SELECT lo FROM rng)) // 10
    - ((SELECT lo FROM rng) + gr.bin
      * ((SELECT hi FROM rng) - (SELECT lo FROM rng)) // 10) AS gap
  FROM grid gr JOIN refg rg ON rg.bin = gr.bin
)
SELECT win_us AS window_start_us,
  CAST(MAX(nc) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN bin < 9 THEN ABS(cc * nr - cr * nc) * gap
    ELSE 0 END) * 1000 // (MAX(nc) * MAX(nr)) AS BIGINT)
    AS w1_micro
FROM cums GROUP BY win_us
""",
)
def q347_stream_wasserstein(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING Wasserstein drift monitor: the binned 1-D
    earth-mover's distance of each tumbling 3-day window's value
    distribution against the whole-corpus reference — the
    mass-distance companion to q249's PSI on the SAME streaming
    skeleton (real multi-batch window-state aggregation; 10-bin
    integer grid over the global range so streaming state stays
    |windows|×10 regardless of volume). Batch-side, the window
    histograms close as the exact ECDF-difference integral
    Σ|C_w·N_ref − C_ref·N_w|·gap over the bin edges
    (cross-multiplied — no float until the final micro division).
    PSI fires on log-ratio reweighting of the SAME bins; W1 weighs
    HOW FAR the mass moved (a shift of one bin vs five bins is 5×
    the W1 at equal PSI) — running both on one state store is the
    standard drift-panel shape. Columns: window_start_us, n_rows,
    w1_micro (milli-unit-value × 10⁻³ scale, floor).

    Determinism: integer bin edges from the bounded-collect (lo,
    hi); epoch-aligned integer window starts; exact cumulative
    cross-products; one non-negative floor division.

    Scale: identical state/key shape to q249 — the monitor pair
    shares one (window, bin) aggregation at deployment.
    """
    from car_insurance_data_pipeline_spark_spark.plans.relational import (
        events_with_us,
    )

    base = events_with_us(spark, sf_dir).filter(F.col("value").isNotNull())
    lo, hi = base.agg(
        F.min(F.round(F.col("value") * 1000).cast("bigint")),
        F.max(F.round(F.col("value") * 1000).cast("bigint")),
    ).first()

    def binexpr():
        if hi == lo:
            return F.lit(0).cast("int")
        return F.least(
            F.expr(
                f"(CAST(ROUND(value * 1000) AS BIGINT) - {lo}L)"
                f" * 10 DIV {hi - lo}L"
            ),
            F.lit(9).cast("bigint"),
        ).cast("int")

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.filter(F.col("value").isNotNull())
            .select(
                F.window("event_ts", "3 days").alias("win"),
                binexpr().alias("bin"),
            )
            .groupBy("win", "bin")
            .agg(F.count("*").cast("bigint").alias("c"))
        )

    def post(t: DataFrame) -> DataFrame:
        cur = t.select(
            F.unix_micros(F.col("win.start")).alias("win_us"), "bin", "c"
        ).transform(checkpoint)
        bins = spark.range(10).select(F.col("id").cast("int").alias("bin"))
        wins = cur.select("win_us").distinct()
        grid = (
            wins.crossJoin(F.broadcast(bins))
            .join(cur, ["win_us", "bin"], "left")
            .select(
                "win_us", "bin", F.coalesce(F.col("c"), F.lit(0)).alias("c")
            )
        )
        ref = (
            base.select(binexpr().alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").cast("bigint").alias("r"))
        )
        refg = (
            bins.join(ref, "bin", "left")
            .select("bin", F.coalesce(F.col("r"), F.lit(0)).alias("r"))
            .transform(checkpoint)
        )
        nr = refg.agg(F.sum("r").cast("decimal(38,0)").alias("nr"))
        wo = Window.partitionBy("win_us").orderBy("bin")
        wp = Window.partitionBy("win_us")
        step = hi - lo
        cums = (
            grid.join(F.broadcast(refg), "bin")
            .crossJoin(F.broadcast(nr))
            .select(
                "win_us",
                "bin",
                F.sum("c").over(wo).cast("decimal(38,0)").alias("cc"),
                F.sum("r").over(wo).cast("decimal(38,0)").alias("cr"),
                F.sum("c").over(wp).cast("decimal(38,0)").alias("nc"),
                F.col("nr"),
                F.expr(
                    f"({lo}L + (bin + 1) * {step}L DIV 10)"
                    f" - ({lo}L + bin * {step}L DIV 10)"
                ).alias("gap"),
            )
        )
        return (
            cums.groupBy(F.col("win_us").alias("window_start_us"))
            .agg(
                F.max("nc").cast("bigint").alias("n_rows"),
                F.expr(
                    "CAST(SUM(CASE WHEN bin < 9 THEN"
                    " ABS(cc * nr - cr * nc) * gap ELSE 0 END) * 1000"
                    " DIV (MAX(nc) * MAX(nr)) AS BIGINT)"
                ).alias("w1_micro"),
            )
        )

    out, _ = _run_complete(spark, sf_dir, build, post, "q347_w1_sink")
    return out
