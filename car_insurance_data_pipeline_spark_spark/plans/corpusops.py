"""LLM-pipeline catalog queries, part 4: corpus-shaping operators.

- q94_boilerplate_strip: C4/CCNet-style boilerplate removal — drop
  text segments whose exact content recurs across many documents
  (navigation chrome, legal footers, templated headers), keeping
  each document's residual prose in order.
- q95_token_budget_select: greedy quality-ordered corpus selection
  under a global token budget — the "fill the training mix up to
  N tokens, best documents first" step — implemented with a
  bucket-prefix plan that never globally sorts the corpus.
- q96_bigram_lm_quality: bigram conditional-probability LM quality
  scoring (the CCNet perplexity-filter shape, one order up from
  q86's unigram form), with per-bigram probabilities quantized to
  exact integers so the cross-engine hash is stable.

All are north-star extensions (not in the reference — no reference
cite possible) and fully oracle-checked.

Cross-engine determinism notes specific to this module:

- Segment document-frequency is keyed on xxhash64 (Spark) vs the
  segment string (DuckDB) — hash functions differ across engines but
  only WITHIN-engine equality matters for the frequency counts; the
  value-checked output is the reassembled text.
- Reassembly order is pinned by the integer segment index
  (array_sort on (seg_idx, seg) structs / string_agg ORDER BY
  seg_idx), never by collect order.
- The selection score (type-token ratio) is an integer÷integer
  division: identical operands + IEEE division = bit-identical
  doubles in both engines, so the (quality DESC, doc_id) order and
  the bucket ids agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from car_insurance_data_pipeline_spark_spark.plans.catalog import query, table
from car_insurance_data_pipeline_spark_spark.session import checkpoint

# Scan-split probe memo (optimization r12, r11 verdict minor #6):
# ``df.rdd.getNumPartitions()`` pays an analysis+planning py4j
# round-trip PER QUERY BUILD. The split count of a fixture scan is
# a property of the (immutable) files + session confs, so probe it
# once per BASE table frame — catalog.table() memoizes frame
# identity per (session, sf_dir, table), so the frame itself is a
# stable key (weak-keyed: a dropped session's entries collect with
# their frames; narrow filter/select layers preserve the count, so
# callers probe the base frame, not their derived projection).
import weakref

_SCAN_SPLITS: "weakref.WeakKeyDictionary[DataFrame, int]" = (
    weakref.WeakKeyDictionary()
)


def _scan_splits(base: DataFrame) -> int:
    try:
        n = _SCAN_SPLITS.get(base)
    except TypeError:  # pragma: no cover - unweakrefable frame impl
        return base.rdd.getNumPartitions()
    if n is None:
        n = base.rdd.getNumPartitions()
        _SCAN_SPLITS[base] = n
    return n

# --------------------------------------------------------------------------
# Boilerplate removal
# --------------------------------------------------------------------------


def boilerplate_strip(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_len: int = 4,
    min_df: int = 3,
) -> DataFrame:
    """Remove recurring exact segments ("boilerplate") from documents.

    Text is lowercased, whitespace-tokenized, and cut into
    consecutive ``seg_len``-token segments (the fixture corpus has no
    newlines; on real web text the segment unit would be the line).
    A segment is boilerplate when its exact content occurs in at
    least ``min_df`` distinct documents. Output: one row per input
    document with the surviving segments rejoined in order.

    100 TB design: segments are exploded narrowly (no shuffle), the
    document-frequency aggregate and the anti join both key on the
    same ``xxhash64(segment)`` — the DF table carries 8-byte hashes
    instead of segment strings, AQE broadcasts it when the
    boilerplate set is small, and the reassembly is one groupBy on
    the document id. No driver-side state at any size.
    """
    # split('') yields [''], so an empty/NULL document produces ONE
    # '' segment (counted in n_segments) — the oracle mirrors this
    toks = F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    nseg = F.ceil(F.size(toks) / F.lit(float(seg_len))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.array_join(F.slice(toks, i * seg_len + 1, seg_len), " "),
    )
    d = docs.select(F.col(id_col), segs.alias("__segs")).withColumn(
        "__nseg", F.size("__segs")
    )

    seg_rows = d.select(
        id_col, "__nseg", F.posexplode("__segs").alias("seg_idx", "seg")
    ).withColumn("__h", F.xxhash64("seg"))

    boiler = (
        seg_rows.select("__h", id_col)
        .distinct()
        .groupBy("__h")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("__h")
    )

    kept = seg_rows.join(boiler, "__h", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("__n_kept"),
    )

    base = d.select(id_col, "__nseg")
    return (
        base.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.col("__nseg").cast("bigint").alias("n_segments"),
            (F.col("__nseg") - F.coalesce("__n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_dropped"),
        )
    )


@query(
    "q94_boilerplate_strip",
    oracle="""
WITH arr AS (
  -- COALESCE mirrors the Spark plan: a NULL document tokenizes as
  -- the empty string (one '' segment), never a NULL row
  SELECT doc_id,
    regexp_split_to_array(trim(lower(COALESCE(text, ''))), '\\s+') AS a
  FROM documents
), seg AS (
  SELECT doc_id, CAST(i AS INT) AS seg_idx,
    array_to_string(list_slice(a, i*4+1, i*4+4), ' ') AS s
  FROM arr, unnest(range(0, CAST(ceil(len(a)/4.0) AS BIGINT))) AS r(i)
), boiler AS (
  SELECT s FROM (SELECT DISTINCT s, doc_id FROM seg)
  GROUP BY s HAVING count(*) >= 3
), kept AS (
  SELECT doc_id, seg_idx, s FROM seg ANTI JOIN boiler USING (s)
), rebuilt AS (
  SELECT doc_id, string_agg(s, ' ' ORDER BY seg_idx) AS clean_text,
    count(*) AS n_kept
  FROM kept GROUP BY doc_id
), base AS (
  SELECT doc_id, CAST(ceil(len(a)/4.0) AS BIGINT) AS n_segments FROM arr
)
SELECT b.doc_id, COALESCE(r.clean_text, '') AS clean_text,
  b.n_segments,
  CAST(b.n_segments - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped
FROM base b LEFT JOIN rebuilt r USING (doc_id)
""",
)
def q94_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-frequency boilerplate removal over the documents table:
    4-token segments occurring in ≥3 distinct documents are dropped,
    the rest rejoined in order. Columns: doc_id, clean_text,
    n_segments, n_dropped."""
    return boilerplate_strip(
        table(spark, sf_dir, "documents"), seg_len=4, min_df=3
    )


# --------------------------------------------------------------------------
# Token-budget corpus selection
# --------------------------------------------------------------------------


def _boundary_slices(
    scored: DataFrame, boundary: int, boundary_parts: int, id_col: str
) -> DataFrame:
    """Range-slice the boundary bucket along the (quality DESC, id)
    total order: partition k's keys all precede partition k+1's, and
    (quality, id) is unique, so the range partitioner splits even an
    all-ties bucket into ~even slices. Factored out so the plan shape
    (RangePartitioning on MORE than the bucket key) stays assertable
    in tests — the caller's localCheckpoint truncates lineage."""
    return (
        scored.filter(F.col("bucket") == boundary)
        .repartitionByRange(boundary_parts, F.desc("quality"), F.col(id_col))
        .withColumn("__slice", F.spark_partition_id())
    )


def token_budget_select(
    docs: DataFrame,
    budget: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1000,
    budget_parts: tuple[int, int] | None = None,
    boundary_parts: int = 32,
) -> DataFrame:
    """Greedy corpus selection under a token budget: rank documents
    by quality (type-token ratio, ties broken by id) and admit each
    while the inclusive running token total stays within ``budget``.

    Semantically this is a global sort + running sum — a
    single-partition scan at 100 TB. The plan instead quantizes
    quality into ``n_buckets`` integer buckets (order-preserving
    across buckets), aggregates per-bucket token totals, resolves the
    boundary bucket with a bounded driver-side prefix sum over
    ≤ n_buckets+1 rows, and only cumsums WITHIN the boundary bucket
    (~1/n_buckets of the corpus) — every bucket above it is admitted
    wholesale with no sort at all. Same two-phase shape as the
    skew-safe source capping in q91.

    The boundary bucket itself is NOT one sorted task (quality ties
    clustering into a single bucket would otherwise recreate the
    global-sort hazard at 1/n_buckets scale): it is range-partitioned
    into ``boundary_parts`` slices of the total order
    (quality DESC, id) — (quality, id) is unique, so the range
    partitioner splits even an all-ties bucket evenly — each slice
    computes a LOCAL running sum, and the slices are stitched with
    exact per-slice prefix offsets (a bounded ≤ boundary_parts-row
    collect). The result is bit-identical to the single-window
    cumsum whatever the sampled range boundaries turn out to be, and
    no task ever sorts more than ~corpus/(n_buckets·boundary_parts).

    The budget is either an absolute token count (``budget``) or a
    rational fraction of the corpus total, ``budget_parts=(num,
    den)`` → ``total_tokens * num // den`` computed from the phase-1
    bucket totals in exact integer arithmetic (a float fraction
    would round differently across engines at exact multiples).

    NOTE: the bucket aggregate, and the per-slice totals of the
    boundary bucket, are collected eagerly at plan-building time
    (like the IVF trainer's bounded sample) — the returned frame
    embeds the resolved constants. The scored projection is
    localCheckpointed so tokenization runs ONCE; the ranged boundary
    slice is checkpointed too, pinning the (plan-dependent) partition
    ids so the offset map and the cumsum branch see the same layout.
    """
    if (budget is None) == (budget_parts is None):
        raise ValueError("pass exactly one of budget / budget_parts")
    # NULL text scores as the empty string (one '' token) instead of
    # poisoning the bucket column with NULLs (phase 1 would crash)
    toks = F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    scored = (
        docs.select(
            F.col(id_col),
            F.size(toks).cast("int").alias("n_tokens"),
            (
                F.size(F.array_distinct(toks)).cast("double")
                / F.size(toks).cast("double")
            ).alias("quality"),
        )
        .withColumn("bucket", F.floor(F.col("quality") * n_buckets).cast("int"))
        .transform(checkpoint, eager=True)
    )

    # Phase 1: per-bucket totals — one small agg, ≤ n_buckets+1 rows.
    buckets = (
        scored.groupBy("bucket")
        .agg(F.sum(F.col("n_tokens").cast("bigint")).alias("tok"))
        .collect()
    )
    if budget is None:
        num, den = budget_parts
        budget = int(sum(r["tok"] for r in buckets)) * num // den
    remaining = budget
    boundary = None  # bucket filled partially; all above admitted fully
    for row in sorted(buckets, key=lambda r: -r["bucket"]):
        if row["tok"] <= remaining:
            remaining -= row["tok"]
        else:
            boundary = row["bucket"]
            break
    if boundary is None:
        # whole corpus fits the budget
        return scored.select(
            id_col, "n_tokens", "quality", F.lit(1).alias("selected")
        )

    # Phase 2: buckets above the boundary are admitted wholesale; the
    # boundary bucket alone is cumsum'd (1/n_buckets of the data) and
    # filled greedily with the leftover budget — as boundary_parts
    # range slices of the (quality DESC, id) total order, never one
    # sorted task. The checkpoint pins spark_partition_id: without
    # it the offset job and the cumsum branch would re-run the range
    # shuffle independently (fresh boundary sampling each time) and
    # could disagree on slice membership.
    ranged = _boundary_slices(
        scored, boundary, boundary_parts, id_col
    ).transform(checkpoint, eager=True)
    # Exact prefix offset per slice: range partition k holds keys
    # strictly before partition k+1's in (quality DESC, id) order, so
    # slice totals accumulated in slice order ARE the global prefix.
    slice_tot = (
        ranged.groupBy("__slice")
        .agg(F.sum(F.col("n_tokens").cast("bigint")).alias("t"))
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(slice_tot, key=lambda r: r["__slice"]):
        offsets[r["__slice"]] = acc
        acc += r["t"]
    off_map = F.create_map(
        *[F.lit(x) for k, v in offsets.items() for x in (k, v)]
    )
    w = (
        Window.partitionBy("__slice")
        .orderBy(F.desc("quality"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_boundary = (
        ranged.withColumn(
            "__cum",
            F.element_at(off_map, F.col("__slice"))
            + F.sum(F.col("n_tokens").cast("bigint")).over(w),
        )
        .withColumn(
            "selected",
            (F.col("__cum") <= F.lit(remaining)).cast("int"),
        )
        .select(id_col, "n_tokens", "quality", "selected")
    )
    outside = scored.filter(F.col("bucket") != boundary).select(
        id_col,
        "n_tokens",
        "quality",
        (F.col("bucket") > boundary).cast("int").alias("selected"),
    )
    return outside.unionByName(in_boundary)


@query(
    "q95_token_budget_select",
    oracle="""
WITH raw AS (
  -- COALESCE mirrors the Spark plan: a NULL document tokenizes as
  -- the empty string (one '' token), never NULL n_tokens/quality
  SELECT doc_id,
    regexp_split_to_array(trim(lower(COALESCE(text, ''))), '\\s+') AS a
  FROM documents
), t AS (
  SELECT doc_id,
    CAST(len(a) AS INT) AS n_tokens,
    CAST(len(list_distinct(a)) AS DOUBLE) / CAST(len(a) AS DOUBLE) AS quality
  FROM raw
), budget AS (
  -- integer arithmetic: double*0.6 would round differently across
  -- engines at exact multiples of 10
  SELECT CAST((SUM(CAST(n_tokens AS BIGINT)) * 6) // 10 AS BIGINT) AS b FROM t
), ord AS (
  SELECT doc_id, n_tokens, quality,
    SUM(CAST(n_tokens AS BIGINT)) OVER (
      ORDER BY quality DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, n_tokens, quality,
  CAST(CASE WHEN cum <= (SELECT b FROM budget) THEN 1 ELSE 0 END AS INT)
    AS selected
FROM ord
""",
)
def q95_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered selection of documents under a token budget of
    60% of the corpus: the oracle states the naive global-cumsum
    semantics; the Spark plan realizes it with the bucket-prefix
    scheme (global sort avoided). Columns: doc_id, n_tokens, quality,
    selected."""
    return token_budget_select(
        table(spark, sf_dir, "documents"), budget_parts=(6, 10)
    )


# --------------------------------------------------------------------------
# Bigram-LM quality scoring
# --------------------------------------------------------------------------


def bigram_lm_quality(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.0333,
    quantum: int = 1_000_000,
) -> DataFrame:
    """Score documents by mean bigram conditional probability under a
    corpus-trained MLE bigram model — the CCNet-style "does this read
    like the corpus" perplexity filter, one order above q86's unigram
    form: p(w2|w1) = c(w1,w2) / c(w1), averaged over a document's
    bigrams. Runs of rare or shuffled word pairs score low.

    Determinism (cross-engine hash stability): a textbook log-space
    score sums doubles — partial-aggregation-order dependent — and
    ln() differs in last-ulp across libm implementations. Instead
    each bigram's probability is quantized to an exact integer,
    ``(c_bigram * quantum) div c_prefix`` (pure integer arithmetic,
    identical floor semantics in Spark and DuckDB for non-negative
    operands), summed exactly as longs, and divided ONCE at the end:
    identical operands + IEEE division = bit-identical doubles.
    Quantization error is < 1/quantum per bigram, immaterial for a
    quality gate (and the oracle applies the identical quantization,
    so the check is exact, not approximate).

    100 TB design: same two-shuffle shape as q86 — a bigram count
    table and a unigram (prefix) count table, both vocabulary-sized
    and checkpointed so the corpus explode runs once per branch; the
    per-document re-aggregation joins the corpus-sized bigram stream
    against the two count tables (AQE broadcasts them when small,
    shuffle-hash otherwise) with no driver-side state. Long range:
    c_bigram * quantum stays within int64 up to ~9·10^12 occurrences
    of a single bigram (≫ any real corpus' top bigram).
    """
    if quantum <= 0 or 10**9 % quantum != 0:
        # the display truncation scales by 10**9 // quantum — a
        # non-divisor would silently bias avg_cond_p
        raise ValueError("quantum must be a positive divisor of 10**9")
    arr = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    d = (
        docs.filter(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col), arr.alias("__a"))
        .filter(F.size("__a") >= 2)
    )
    bg = d.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__a") - 1),
                lambda i: F.struct(
                    F.element_at("__a", i).alias("w1"),
                    F.element_at("__a", i + 1).alias("w2"),
                ),
            )
        ).alias("__b"),
    ).select(id_col, F.col("__b.w1").alias("w1"), F.col("__b.w2").alias("w2"))

    tok = d.select(F.explode("__a").alias("w"))
    uni = (
        tok.groupBy("w")
        .agg(F.count("*").alias("cu"))
        .transform(checkpoint, eager=True)
    )
    big = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
        .transform(checkpoint, eager=True)
    )
    q = F.expr(f"(cb * CAST({quantum} AS BIGINT)) div cu")
    per = (
        bg.join(big, ["w1", "w2"])
        .join(uni, F.col("w1") == F.col("w"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(q).cast("bigint").alias("cond_sum"),
        )
    )
    avg = F.col("cond_sum").cast("double") / (
        F.col("n_bigrams") * F.lit(quantum)
    ).cast("double")
    # display value truncated at 1e-9 via exact integer division —
    # ROUND(double, 9) disagrees across engines at half-way boundaries
    scale_up = 10**9 // quantum  # cond_sum units → 1e-9 units
    avg_trunc = (
        F.expr(
            f"(cond_sum * CAST({scale_up} AS BIGINT)) div n_bigrams"
        ).cast("double")
        / F.lit(1e9)
    )
    return per.select(
        id_col,
        "n_bigrams",
        "cond_sum",
        avg_trunc.alias("avg_cond_p"),
        (avg < threshold).cast("int").alias("flagged"),
    )


@query(
    "q96_bigram_lm_quality",
    oracle="""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents WHERE trim(text) <> ''
), d AS (
  SELECT doc_id, a FROM arr WHERE len(a) >= 2
), tok AS (
  SELECT unnest(a) AS w FROM d
), uni AS (
  SELECT w, count(*) AS cu FROM tok GROUP BY w
), bg AS (
  SELECT doc_id, a[i] AS w1, a[i+1] AS w2
  FROM d, unnest(range(1, len(a))) AS r(i)
), big AS (
  SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2
), per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
    CAST(sum((cb * 1000000) // cu) AS BIGINT) AS cond_sum
  FROM bg JOIN big USING (w1, w2) JOIN uni ON uni.w = bg.w1
  GROUP BY doc_id
)
SELECT doc_id, n_bigrams, cond_sum,
  CAST((cond_sum * 1000) // n_bigrams AS DOUBLE) / 1000000000.0
    AS avg_cond_p,
  CAST(CASE WHEN CAST(cond_sum AS DOUBLE)
            / CAST(n_bigrams * 1000000 AS DOUBLE) < 0.0333
       THEN 1 ELSE 0 END AS INT) AS flagged
FROM per
""",
)
def q96_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional-probability quality score over the
    documents table: p(w2|w1) quantized to millionths, summed
    exactly, mean per document; docs below 0.0333 flagged (~the
    corpus' lower quartile). Columns: doc_id, n_bigrams, cond_sum,
    avg_cond_p, flagged."""
    return bigram_lm_quality(table(spark, sf_dir, "documents"))


@query(
    "q284_waterfill_mixture",
    oracle="""
WITH srcs AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS avail
  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY source
), tot AS (
  SELECT CAST(SUM(avail) AS BIGINT) AS total,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM srcs
), s AS (
  SELECT source, avail,
    CAST(ROW_NUMBER() OVER (ORDER BY avail, source) AS BIGINT) AS rn,
    CAST(SUM(avail) OVER (ORDER BY avail, source
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      - avail AS pb,
    total * 9 // 10 AS b, n
  FROM srcs, tot
), k AS (
  SELECT rn AS kr, pb AS pbk, (b - pb) // (n - rn + 1) AS lvl
  FROM s WHERE b - pb <= avail * (n - rn + 1)
  ORDER BY rn LIMIT 1
)
SELECT source, avail AS avail_tokens,
  CAST(CASE WHEN k.kr IS NULL OR s.rn < k.kr THEN s.avail
       ELSE k.lvl END AS BIGINT) AS alloc_tokens,
  CAST(CASE WHEN k.kr IS NULL OR s.rn < k.kr THEN 1 ELSE 0 END
    AS INT) AS capped
FROM s LEFT JOIN k ON TRUE
""",
)
def q284_waterfill_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling budget allocation across corpus sources — the
    budgeted-sampling step of mixture construction (q77/q87 weight
    the sources; this decides HOW MANY tokens each contributes when
    the training budget is below the corpus size): every source gets
    min(avail, L) where the water level L exhausts the budget
    (here 90% of total chars). The level is found in CLOSED FORM on
    the availability-sorted prefix sums — smallest k with
    B - prefix(k) <= avail_k * (n - k + 1), an integer cross-multiply
    so no division appears in the search — then one integer DIV sets
    L. Columns: source, avail_tokens, alloc_tokens, capped.

    Determinism: exact integer sums, ROW_NUMBER tie-broken on
    source, the feasibility test as a cross-multiply, one DIV on
    non-negative operands; window prefix sums are cast out of
    DuckDB's HUGEINT per the catalog rule.

    Scale: sources collapse in one exchange to a |sources|-row
    frame; the sort/window/limit all run on that dimension. The
    closed form replaces the textbook iterative water-filling loop —
    no per-iteration job, no driver state.
    """
    srcs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull() & F.col("n_chars").isNotNull())
        .groupBy("source")
        .agg(F.sum("n_chars").cast("bigint").alias("avail"))
    )
    tot = srcs.agg(
        F.sum("avail").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n"),
    )
    w = Window.orderBy("avail", "source")
    s = (
        srcs.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "avail",
            F.row_number().over(w).cast("bigint").alias("rn"),
            (
                F.sum("avail")
                .over(w.rowsBetween(Window.unboundedPreceding, 0))
                .cast("bigint")
                - F.col("avail")
            ).alias("pb"),
            F.expr("total * 9 DIV 10").alias("b"),
            "n",
        )
        .transform(checkpoint)
    )
    k = (
        s.filter(
            F.col("b") - F.col("pb")
            <= F.col("avail") * (F.col("n") - F.col("rn") + 1)
        )
        .orderBy("rn")
        .limit(1)
        .select(
            F.col("rn").alias("kr"),
            F.expr("(b - pb) DIV (n - rn + 1)").alias("lvl"),
        )
    )
    uncapped = F.col("kr").isNull() | (F.col("rn") < F.col("kr"))
    return s.join(k, F.lit(True), "left").select(
        "source",
        F.col("avail").alias("avail_tokens"),
        F.when(uncapped, F.col("avail"))
        .otherwise(F.col("lvl"))
        .cast("bigint")
        .alias("alloc_tokens"),
        F.when(uncapped, 1).otherwise(0).cast("int").alias("capped"),
    )


@query(
    "q317_nb_langid",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, text FROM documents
  WHERE text IS NOT NULL AND lang IS NOT NULL AND length(text) >= 3
), tri AS (
  SELECT doc_id, lang,
    substr(hex(encode(text)), CAST(i * 2 - 1 AS INT), 6) AS tri
  FROM d, unnest(range(1, octet_length(encode(text)) - 1)) AS r(i)
), prof AS (
  SELECT lang AS l, tri, CAST(COUNT(*) AS BIGINT) AS c
  FROM tri GROUP BY 1, 2
), tl AS (
  SELECT l, CAST(SUM(c) AS BIGINT) AS t FROM prof GROUP BY l
), vv AS (
  SELECT CAST(COUNT(DISTINCT tri) AS BIGINT) AS v FROM tri
), dl AS (
  SELECT lang AS l, CAST(COUNT(*) AS BIGINT) AS nd FROM d GROUP BY 1
), dt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd_tot FROM d
), ls AS (
  SELECT dl.l,
    CAST(FLOOR(ln(CAST(1 AS DOUBLE) / CAST(tl.t + vv.v AS DOUBLE))
      * 1000000) AS BIGINT) AS w0,
    CAST(FLOOR(ln(CAST(dl.nd AS DOUBLE) / CAST(dt.nd_tot AS DOUBLE))
      * 1000000) AS BIGINT) AS prior
  FROM dl JOIN tl ON tl.l = dl.l, vv, dt
), w AS (
  SELECT prof.l, prof.tri,
    CAST(FLOOR(ln(CAST(prof.c + 1 AS DOUBLE)
      / CAST(tl.t + vv.v AS DOUBLE)) * 1000000) AS BIGINT) AS wm
  FROM prof JOIN tl ON tl.l = prof.l, vv
), dtri AS (
  SELECT doc_id, tri, CAST(COUNT(*) AS BIGINT) AS m
  FROM tri GROUP BY 1, 2
), ntri AS (
  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS nt FROM dtri GROUP BY 1
), pres AS (
  SELECT dtri.doc_id, w.l,
    CAST(SUM(dtri.m * (w.wm - ls.w0)) AS BIGINT) AS ps
  FROM dtri JOIN w ON w.tri = dtri.tri JOIN ls ON ls.l = w.l
  GROUP BY 1, 2
), sc AS (
  SELECT n.doc_id, ls.l,
    ls.prior + n.nt * ls.w0 + COALESCE(pres.ps, 0) AS score
  FROM ntri n CROSS JOIN ls
  LEFT JOIN pres ON pres.doc_id = n.doc_id AND pres.l = ls.l
), pred AS (
  SELECT doc_id, l AS lang_pred FROM (
    SELECT doc_id, l, ROW_NUMBER() OVER (PARTITION BY doc_id
      ORDER BY score DESC, l) AS rk
    FROM sc
  ) WHERE rk = 1
)
SELECT d.lang AS lang_true, pred.lang_pred,
  CAST(COUNT(*) AS BIGINT) AS n_docs
FROM d JOIN pred ON pred.doc_id = d.doc_id
GROUP BY 1, 2
""",
)
def q317_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive-Bayes byte-trigram language-ID,
    TRAINED AND SCORED entirely in-engine (the classic fastText-
    predecessor langid recipe — Cavnar & Trenkle '94 n-gram
    profiles + NB; public literature), closing the in-engine
    learning family (GD q220, ALS q236, k-means q136, PCA q227):
    per-language trigram profiles with add-1 smoothing, log priors
    from label frequencies, resubstitution prediction, and the
    label×prediction CONFUSION MATRIX as output. The missing-
    trigram mass is handled exactly: score = prior + n_tri·w0 +
    Σ_present m·(w − w0), so absent (lang, trigram) pairs never
    need materializing. Every log weight is FLOOR-quantized to an
    integer micro BEFORE the per-document sums (quantize-then-sum,
    the q222 ln discipline); the argmax carries a lang tie-break.
    NOTE the synthetic fixture draws all languages from ONE
    vocabulary, so accuracy ≈ chance by construction — the
    operator (train + smooth + score + confusion) is the
    deliverable, and the near-uniform confusion matrix is itself
    asserted as a null-calibration property in pytest. Columns:
    lang_true, lang_pred, n_docs.

    Determinism: exact trigram counts; identical ln trees over
    identical integer→double divisions in both engines, one FLOOR
    per weight; exact integer score sums; unique (score, lang)
    tie-break.

    Scale: the trigram stream is a narrow explode (linear in
    corpus chars); the model is |langs|·|trigrams| rows —
    dimension-sized, BROADCAST back onto the per-doc trigram
    bags; scoring is one map-side join + a per-(doc, lang) sum.
    Training NB at 100 TB is two exchanges and the model fits in
    memory by construction.
    """
    # The raw trigram stream is |corpus chars| rows — NEVER
    # checkpointed or rescanned: it collapses straight into the
    # per-(doc, trigram) bag (one exchange), and everything else —
    # profiles, totals, vocabulary, scoring — derives from that
    # dimension-smaller bag plus a broadcast doc→lang map. A first
    # cut checkpointed the stream itself and rescanned it four
    # times: 6.2 s at sf0.1 and 4.3× superlinear 10×→30×.
    d = (
        table(spark, sf_dir, "documents")
        .filter(
            F.col("text").isNotNull()
            & F.col("lang").isNotNull()
            & (F.length("text") >= 3)
        )
        .select("doc_id", "lang")
        .transform(checkpoint)
    )
    # Trigrams are BYTE trigrams over the UTF-8 encoding (the CLD2
    # convention): substring on a Spark STRING is O(position) — it
    # must scan for multi-byte chars, making per-doc extraction
    # QUADRATIC (measured 37 s for the 10× corpus) — while
    # substring on BINARY is O(1) byte slicing (8.6 s). The explode
    # emits integer positions and slices AFTER, so no per-doc array
    # of substrings is ever allocated either. The oracle gets the
    # same byte semantics through hex pairs (DuckDB has no BLOB
    # substring): byte i..i+2 == hex chars 2i-1..2i+4.
    docs_base = table(spark, sf_dir, "documents")
    tri_src = docs_base.filter(
        F.col("text").isNotNull()
        & F.col("lang").isNotNull()
        & (F.length("text") >= 3)
    ).select("doc_id", F.encode("text", "UTF-8").alias("b"))
    # The trigram explode + byte-slice + per-doc partial agg is the
    # query's heavy NARROW stage and runs entirely map-side — on the
    # sub-split fixture file (ONE scan partition) it serialized into
    # a single task (optimization r11; guide §2.5 "unsplittable
    # input → repartition after the read"). Conditional: at real
    # scale the corpus scan has ≥ parallelism natural splits and no
    # shuffle is added; when it fires, the data being shuffled fits
    # a single split by definition. Measured: bag build 0.9 → 0.64 s
    # warm, 2.9 → 1.2 s cold at sf0.1.
    # split probe on the MEMOIZED base frame, memoized itself (r12:
    # the old per-build `tri_src.rdd.getNumPartitions()` paid an
    # analysis round-trip on every build; filter/select are narrow,
    # so the base scan's split count is tri_src's)
    par = spark.sparkContext.defaultParallelism
    if _scan_splits(docs_base) < par:
        tri_src = tri_src.repartition(par)
    dtri = (
        tri_src.select(
            "doc_id",
            "b",
            F.explode(
                F.expr("sequence(1, length(b) - 2)")
            ).alias("i"),
        )
        .select("doc_id", F.expr("substring(b, i, 3)").alias("tri"))
        .groupBy("doc_id", "tri")
        .agg(F.count("*").cast("bigint").alias("m"))
        .transform(checkpoint)
    )
    # NOTE: no broadcast hint on `d` — it is ONE ROW PER DOCUMENT
    # (corpus-row-sized), exactly the frame class that must never be
    # force-broadcast (at 100 TB it is billions of rows shipped to
    # every executor). AQE broadcasts it while it fits and falls back
    # to a shuffle join past the threshold — same lesson as q355's
    # removed part broadcast. The legit broadcasts below (`vv`, `dt`,
    # `ls`, `w`) are 1-row or |langs|·|trigrams| model frames.
    prof = (
        dtri.join(d, "doc_id")
        .groupBy(F.col("lang").alias("l"), "tri")
        .agg(F.sum("m").cast("bigint").alias("c"))
    )
    tl = prof.groupBy("l").agg(F.sum("c").cast("bigint").alias("t"))
    vv = dtri.agg(F.countDistinct("tri").cast("bigint").alias("v"))
    dl = d.groupBy(F.col("lang").alias("l")).agg(
        F.count("*").cast("bigint").alias("nd")
    )
    dt = d.agg(F.count("*").cast("bigint").alias("nd_tot"))
    ls = (
        dl.join(tl, "l")
        .crossJoin(F.broadcast(vv))
        .crossJoin(F.broadcast(dt))
        .select(
            "l",
            F.expr(
                "CAST(FLOOR(ln(CAST(1 AS DOUBLE)"
                " / CAST(t + v AS DOUBLE)) * 1000000) AS BIGINT)"
            ).alias("w0"),
            F.expr(
                "CAST(FLOOR(ln(CAST(nd AS DOUBLE)"
                " / CAST(nd_tot AS DOUBLE)) * 1000000) AS BIGINT)"
            ).alias("prior"),
        )
        .transform(checkpoint)
    )
    w = (
        prof.join(tl, "l")
        .crossJoin(F.broadcast(vv))
        .select(
            "l",
            "tri",
            F.expr(
                "CAST(FLOOR(ln(CAST(c + 1 AS DOUBLE)"
                " / CAST(t + v AS DOUBLE)) * 1000000) AS BIGINT)"
            ).alias("wm"),
        )
    )
    ntri = dtri.groupBy("doc_id").agg(
        F.sum("m").cast("bigint").alias("nt")
    )
    pres = (
        dtri.join(F.broadcast(w.join(ls.select("l", "w0"), "l")), "tri")
        .groupBy("doc_id", "l")
        .agg(
            F.sum(F.col("m") * (F.col("wm") - F.col("w0")))
            .cast("bigint")
            .alias("ps")
        )
    )
    sc = (
        ntri.crossJoin(F.broadcast(ls))
        .join(pres, ["doc_id", "l"], "left")
        .select(
            "doc_id",
            "l",
            (
                F.col("prior")
                + F.col("nt") * F.col("w0")
                + F.coalesce(F.col("ps"), F.lit(0))
            ).alias("score"),
        )
    )
    pred = (
        sc.select(
            "doc_id",
            "l",
            F.row_number()
            .over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("score").desc(), "l"
                )
            )
            .alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("l").alias("lang_pred"))
    )
    return (
        d.select("doc_id", F.col("lang").alias("lang_true"))
        .join(pred, "doc_id")
        .groupBy("lang_true", "lang_pred")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
