"""Deduplication operators for large-scale corpora.

Five strategies, all shuffle-frugal:

- exact_dedup:        one hash-shuffle on the dedup key, deterministic
                      min-key survivor (fixes A5's nondeterminism,
                      SURVEY §2.4).
- jaccard_pairs:      exact n-gram-Jaccard near-dup pairs; candidates
                      by shingle co-occurrence (equi self-join on the
                      shingle), never an all-pairs cross join.
- minhash_lsh_pairs:  MinHash signatures + banded LSH — the 100 TB
                      path. Shuffles only (band_key, doc_id) pairs;
                      exact verification runs on candidates alone.
- simhash_table:      64-bit SimHash per doc via explode + bit-vote
                      aggregation (one shuffle on doc id).
- embedding_dup_pairs: cosine near-dup over embedding columns (see
                      operators/similarity.py for the ANN machinery).

All hashing uses Spark's xxhash64 → deterministic across runs,
executors, and retries.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from car_insurance_data_pipeline_spark_spark.functions.text import tokens
from car_insurance_data_pipeline_spark_spark.session import checkpoint


def exact_dedup(
    df: DataFrame, key_cols: list[str], order_cols: str | list[str]
) -> DataFrame:
    """Keep exactly one deterministic survivor per distinct key —
    the min ``order_cols`` row. Equivalent to dropDuplicates(key_cols)
    (04_load_dimension_tables.py:69) but reproducible.

    Determinism requires ``order_cols`` to be unique within each key
    group (pass a composed unique key — e.g. [ts, id] — otherwise
    the survivor among order-ties is partition-order dependent,
    which is exactly the A5 nondeterminism this replaces).
    """
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _stepped_tokens(df: DataFrame, id_col: str, text_col: str, k: int):
    """Shared lead-window k-gram builder: one row per in-row k-gram
    with the k token columns side by side. Returns (frame, token
    column names); callers project the combination they need (string
    shingle or direct hash).

    The lead-window form replaces the per-element HOF build
    (transform + slice + array_join inside word_shingles), which
    Catalyst interprets per lambda call — measured 5× slower over the
    sf0.1 corpus. Cost is one shuffle on id_col (the window), then
    pure codegen.

    Duplicate ids are safe: each SOURCE ROW shingles independently
    (same contract as the per-row HOF form this replaced). The window
    still partitions on id_col alone — so downstream groupBy(id_col)
    reuses the exchange — but orders on (row id, position) and drops
    any k-gram whose last token came from a different source row.
    """
    # __r MUST be assigned in its own select BELOW the generate:
    # nondeterministic expressions mixed into a generator projection
    # are evaluated per OUTPUT row (each token would get its own __r).
    base = df.select(
        F.col(id_col),
        F.col(text_col),
        F.monotonically_increasing_id().alias("__r"),
    )
    tok = base.select(
        F.col(id_col),
        F.col("__r"),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("__i", "__w0"),
    )
    w = Window.partitionBy(id_col).orderBy("__r", "__i")
    leads = [F.lead("__w0", j).over(w).alias(f"__w{j}") for j in range(1, k)]
    stepped = tok.select(
        F.col(id_col),
        F.col("__r"),
        F.col("__i"),
        F.col("__w0"),
        *leads,
        # rows are contiguous under the (__r, __i) ordering, so the
        # k-gram stays within one source row iff its LAST token does
        (F.lead("__r", k - 1).over(w) == F.col("__r")).alias("__same"),
    ).filter(F.col("__same"))
    return stepped, [f"__w{j}" for j in range(k)]


def positioned_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """One row per word-k-gram with its position: columns (id_col,
    __r row tag, __i in-row position, s shingle STRING). The string
    form exists for cross-engine consumers (winnowing's md5
    fingerprints, decontamination's oracle-checkable shingles);
    pure-Spark paths use _shingle_hashes, which skips the string.
    See _stepped_tokens for the builder's scale/duplicate-id notes.
    """
    stepped, cols = _stepped_tokens(df, id_col, text_col, k)
    return stepped.select(
        id_col, "__r", "__i", F.concat_ws(" ", *cols).alias("s")
    )


def _shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int, distinct: bool = False
) -> DataFrame:
    """Exploded (id, shingle-hash) rows: xxhash64 of the
    concatenated shingle string. Measured note: hashing the k token
    COLUMNS directly (xxhash64(*cols), no concat) looks cheaper but
    is ~20% SLOWER at k=20 — Spark's multi-column hash pays
    per-column null-check/UTF8String overhead that one concat_ws +
    single hash avoids; keep the string form.

    64-bit shingle ids shrink downstream shuffles ~3× vs the raw
    strings. Collision odds over d distinct shingles are ~d²/2⁶⁵
    (≈3e-8 at a million) and xxhash64 is deterministic, so results
    are stable run-to-run.

    ``distinct`` dedupes (id, shingle) — only needed where repeated
    shingles in one doc would change the result (SimHash bit votes);
    min()/collect_set() consumers are duplicate-insensitive.
    """
    stepped, cols = _stepped_tokens(df, id_col, text_col, k)
    out = stepped.select(
        id_col, F.xxhash64(F.concat_ws(" ", *cols)).alias("s")
    )
    return out.dropDuplicates([id_col, "s"]) if distinct else out


def _candidate_intersections(
    sh: DataFrame, id_col: str, max_postings: int | None
) -> DataFrame:
    """Shared-shingle intersection counts (doc_a < doc_b, n_common)
    from DISTINCT (id, s) rows, candidates generated by a SELF-JOIN
    of the (id, s) table on the shingle — never collect_set posting
    arrays. The array form (group per shingle, collect_set(ids),
    double explode) materialized each shingle's full posting list as
    ONE row and expanded |ids|² pairs inside the single task that
    owned it; on a boilerplate-heavy corpus one hot shingle becomes a
    straggler/OOM regardless of any df-cut DEFAULT a caller forgets.
    The join form keeps rows narrow (id, s), streams the expansion,
    and lets AQE's skew-join handling split a hot shingle's partition
    across tasks (probe-side duplication is correct for inner joins).
    Same pattern as prefix_jaccard_pairs' candidate stage below.

    ``max_postings`` is the standard df-cut: shingles shared by more
    than that many docs are dropped from candidate generation
    (intersections are then undercounted — estimates can only drop,
    never emit a false positive above the true value).

    Callers must pass DISTINCT (id, s) rows
    (``_shingle_hashes(..., distinct=True)``) — the join-count per
    (doc_a, doc_b) equals |A∩B| only without per-doc repeats.
    """
    dfreq = (
        sh.groupBy("s")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > 1)
    )
    if max_postings is not None:
        dfreq = dfreq.filter(F.col("__df") <= max_postings)
    # NO checkpoint on keyed: the self-join's two legs derive from
    # it and share its byte-identical keyed Exchange via
    # ReuseExchange; a localCheckpoint here comes back with
    # UnknownPartitioning (measured, see q227), so the self-join
    # would re-shuffle BOTH sides. Measured at sf0.1 (r11): no-ckpt
    # 2.15 s vs ckpt-BOTH (sh and keyed) 2.41 s warmed. Refined r12:
    # checkpointing ONLY sh in the callers is the opposite trade and
    # WINS — the distinct shingle build (scan→generate→sort→window)
    # is NOT an exchange boundary on (id, s) (the dedup piggybacks
    # the window's id partitioning), so without a checkpoint every
    # consumer branch recomputes the whole window pipeline (6 Scan/
    # Window repetitions in the q113 miner plan); with sh
    # checkpointed it runs once and keyed's exchange reuse is
    # untouched. Measured 2.43→2.17 / 2.09→1.93 s (two interleaved
    # A/B pairs, min of 3 each).
    keyed = sh.join(dfreq.select("s"), "s")
    ra = keyed.select(F.col(id_col).alias("doc_a"), "s")
    rb = keyed.select(F.col(id_col).alias("doc_b"), "s")
    return (
        ra.join(rb, "s")
        .filter(F.col("doc_b") > F.col("doc_a"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.1,
    max_postings: int | None = None,
) -> DataFrame:
    """Exact word-k-shingle Jaccard near-dup pairs (doc_a < doc_b,
    jaccard >= threshold). Columns: doc_a, doc_b, jaccard.

    Candidate generation is the skew-safe self-join form (see
    _candidate_intersections): one shuffle on the shingle hash, pair
    expansion streamed and AQE-splittable — no single-task posting
    arrays. ``max_postings`` is an optional df-cut: shingles shared
    by more than ``max_postings`` docs are dropped from candidate
    generation (standard in near-dup mining). The result is then
    exact EXCEPT for pairs whose entire overlap is ubiquitous
    shingles — their intersection is undercounted, which can only
    lower jaccard (never emits a false pair above the true value).
    The default None is fully exact and, since the self-join rewrite,
    safe from the straggler hazard; the cut remains a cost lever (it
    bounds total candidate volume). For corpora with heavy
    boilerplate prefer minhash_lsh_pairs, which bounds candidates by
    banding instead.
    """
    # distinct (id, s) so the self-join count equals |A∩B|. Lazily
    # checkpointed (r12): sh feeds four branches (sizes, dfreq, the
    # keyed join, and the final size attaches) and the shingle
    # window pipeline is not an exchange-sharing point — see the
    # measurement note in _candidate_intersections
    sh = _shingle_hashes(df, id_col, text_col, k, distinct=True)
    sh = checkpoint(sh)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    inter = _candidate_intersections(sh, id_col, max_postings)
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def shared_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    max_postings: int | None = None,
) -> DataFrame:
    """Exact-substring (verbatim span) near-dup pairs: doc pairs
    (doc_a < doc_b) sharing at least one verbatim run of ``k``
    consecutive tokens. Columns: doc_a, doc_b.

    This is the paragraph-level dedup class used alongside MinHash in
    public training-data pipelines (suffix-array "repeated verbatim
    span" detection, approximated at fixed span length): a long-k
    sliding window means only literally copied passages collide —
    topical similarity (which shingle-Jaccard scores) never does.
    Not in the reference (no reference cite possible); north-star
    extension.

    Scale: the skew-safe self-join candidate shape (see
    _candidate_intersections) — one shuffle on the span hash, pair
    expansion streamed and AQE-splittable, never single-task posting
    arrays. ``max_postings`` drops spans shared by more docs than the
    bound (ubiquitous boilerplate) from candidate generation; a span
    shared that widely is boilerplate, not plagiarism, by
    construction.
    """
    sh = _shingle_hashes(df, id_col, text_col, k, distinct=True)
    # two consumer branches (dfreq + the keyed join) — run the span
    # window pipeline once (see _candidate_intersections note)
    sh = checkpoint(sh)
    return _candidate_intersections(sh, id_col, max_postings).select(
        "doc_a", "doc_b"
    )


def span_star_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    max_postings: int | None = None,
) -> DataFrame:
    """Connectivity-preserving verbatim-span edges: per shared
    ``k``-token span, emit only (min-doc, other-doc) STAR edges
    instead of the full pairwise clique. Columns: doc_a, doc_b
    (doc_a = the span's minimum doc id, so doc_a < doc_b rowwise but
    a doc may appear on either side across spans).

    Connected components over these edges are IDENTICAL to
    components over ``shared_span_pairs`` (the star spans the same
    per-shingle clique), so this is the miner CLUSTERING consumers
    (q83) should use: per-span expansion is O(|postings|) instead of
    O(|postings|²), which at 100 TB is the difference between a
    linear shuffle and a quadratic one on boilerplate-heavy spans.
    Use ``shared_span_pairs`` only when the PAIR LIST itself is the
    product. ``max_postings`` df-cut matches shared_span_pairs
    (spans shared by 2..max_postings docs generate edges), so the
    resulting components match the all-pairs form under the same
    cut. Equality is pytest-pinned (test_span_star_edges_same_components).

    Plan shape: one partial-aggregating exchange on the span hash
    (min-doc + df per span), probe join reusing the same exchange
    via ReuseExchange, then a distinct on the (already small) edge
    set — no pair expansion stage at all.
    """
    sh = _shingle_hashes(df, id_col, text_col, k, distinct=True)
    # two consumer branches (grp + the probe join) — run the span
    # window pipeline once (see _candidate_intersections note)
    sh = checkpoint(sh)
    grp = sh.groupBy("s").agg(
        F.count("*").alias("__df"), F.min(id_col).alias("doc_a")
    )
    grp = grp.filter(F.col("__df") > 1)
    if max_postings is not None:
        grp = grp.filter(F.col("__df") <= max_postings)
    return (
        sh.join(grp.select("s", "doc_a"), "s")
        .filter(F.col(id_col) != F.col("doc_a"))
        .select("doc_a", F.col(id_col).alias("doc_b"))
        .distinct()
    )


def incremental_span_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """Admit an incoming ``batch`` against an existing ``corpus``:
    one row per batch document with flags dup_vs_corpus (shares a
    verbatim ``k``-token span with any corpus doc), dup_in_batch
    (shares one with an EARLIER batch doc — min-id survivor), and
    accepted (neither). Both frames need (id_col, text_col); ids must
    be comparable across the two frames.

    Scale — the shape that matters at 100 TB: the corpus span index
    is computed once and stored in practice, so per-increment cost is
    proportional to the BATCH (hash its spans, two semi-joins against
    the index). Semi-joins never expand posting lists into pairs, so
    the ubiquitous-span quadratic hazard of pair mining doesn't exist
    here; hot span keys are handled by AQE skew splitting. No driver
    state, no collect. Not in the reference; north-star extension.
    """
    # non-distinct: the semi-join build side is duplicate-insensitive
    # and doc_id is discarded below, so a corpus-wide
    # dropDuplicates([id, s]) would be a full extra shuffle for
    # nothing — on the function's own design point (corpus >> batch)
    # it would be the largest shuffle in the job
    sh_corpus = _shingle_hashes(corpus, id_col, text_col, k)
    # the batch span set feeds THREE plan branches (the corpus probe
    # and both sides of the earlier-doc self-probe) — checkpoint it
    # once or the k-gram shingle window pipeline runs three times
    # (house pattern: the minhash signature stage above)
    sh_batch = _shingle_hashes(
        batch, id_col, text_col, k, distinct=True
    ).transform(checkpoint, eager=True)
    vs_corpus = (
        sh_batch.join(sh_corpus.select("s"), "s", "leftsemi")
        .select(id_col)
        .distinct()
        .withColumn("__vc", F.lit(1))
    )
    x, y = sh_batch.alias("x"), sh_batch.alias("y")
    in_batch = (
        x.join(
            y,
            (F.col("x.s") == F.col("y.s"))
            & (F.col(f"y.{id_col}") < F.col(f"x.{id_col}")),
            "leftsemi",
        )
        .select(id_col)
        .distinct()
        .withColumn("__ib", F.lit(1))
    )
    return (
        batch.select(id_col)
        .join(vs_corpus, id_col, "left")
        .join(in_batch, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__vc"), F.lit(0)).cast("int").alias("dup_vs_corpus"),
            F.coalesce(F.col("__ib"), F.lit(0)).cast("int").alias("dup_in_batch"),
            (F.col("__vc").isNull() & F.col("__ib").isNull())
            .cast("int")
            .alias("accepted"),
        )
    )


def remove_shared_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-span REMOVAL (ExactSubstr deletion):
    rewrite each document dropping every token covered by at least
    one verbatim ``k``-token run whose exact content occurs in
    ``min_docs`` or more distinct documents. Where
    ``shared_span_pairs`` only CLUSTERS documents sharing such runs,
    this rewrites the text — the public-pipeline deletion shape
    (repeated verbatim passages are memorization fuel; dropping the
    span from every occurrence keeps the surrounding prose). Output:
    one row per input document — (id, clean_text, n_tokens,
    n_removed). Ids must be unique.

    Scale: reuses the positioned shingle run index (one shuffle on
    id for the lead-window shingle build), the repeated-span set is
    a span-hash aggregate (second shuffle) semi-joined back (AQE
    broadcasts it when small). Coverage is a per-document window
    over token positions — state bounded by DOCUMENT length, never
    corpus size — and unlike pair mining there is NO posting-list
    pair expansion, so ubiquitous spans carry no quadratic hazard
    and need no df-cut. Not in the reference (no cite possible);
    north-star extension.
    """
    from car_insurance_data_pipeline_spark_spark.functions.text import tokens

    sh = positioned_shingles(df, id_col, text_col, k).select(
        id_col, "__i", F.xxhash64("s").alias("h")
    )
    rep = (
        sh.select("h", id_col)
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("h")
    )
    starts = (
        sh.join(rep, "h", "leftsemi")
        .select(id_col, F.col("__i").alias("__sp"))
        .distinct()
        .withColumn("__st", F.lit(1))
    )

    base = df.select(
        F.col(id_col),
        # NULL text is an empty document here (0 tokens, nothing
        # removed) — without the coalesce, size(NULL) would surface
        # as NULL n_tokens while the oracle reports 0
        tokens(F.lower(F.coalesce(F.col(text_col), F.lit("")))).alias(
            "__toks"
        ),
    )
    tok = base.select(
        id_col, F.posexplode("__toks").alias("__p", "__w")
    )
    marked = tok.join(
        starts,
        (tok[id_col] == starts[id_col]) & (tok["__p"] == starts["__sp"]),
        "left",
    ).select(
        tok[id_col].alias(id_col),
        "__p",
        "__w",
        F.coalesce("__st", F.lit(0)).alias("__st"),
    )
    # token p is covered iff some repeated span STARTS in
    # [p-k+1, p]; positions are dense per document, so a rows-frame
    # window equals the range form in both engines
    wcov = (
        Window.partitionBy(id_col)
        .orderBy("__p")
        .rowsBetween(-(k - 1), Window.currentRow)
    )
    cov = marked.withColumn("__c", F.max("__st").over(wcov))
    agg = cov.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(  # collect_list drops the NULLs the
                        # when() leaves on covered tokens
                        F.when(
                            F.col("__c") == 0, F.struct("__p", "__w")
                        )
                    )
                ),
                lambda x: x["__w"],
            ),
            " ",
        ).alias("clean_text"),
        F.sum("__c").cast("bigint").alias("n_removed"),
    )
    return (
        base.select(id_col, F.size("__toks").cast("bigint").alias("n_tokens"))
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tokens",
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded-LSH candidate pairs, verified with exact
    Jaccard. Columns: doc_a, doc_b, jaccard.

    Banding defaults (16 bands × 2 rows from 32 hashes) target the
    standard near-dup regime: P(candidate) ≈ 1-(1-j²)^16 → 99% at
    j=0.5, 78% at j=0.3, while keeping random-pair candidates rare.
    Chasing lower thresholds with LSH inverts its economics (the
    candidate set degenerates toward all-pairs) — use jaccard_pairs
    for exhaustive low-threshold mining.

    Scale: signatures come from ONE grouped aggregation over the
    exploded shingles (32 codegen'd min(xxhash64(s, i)) columns —
    measured ~2× the speed of per-row array-fold lambdas, which
    Catalyst interprets per element); band keys are a projection on
    those columns; the candidate self-join shuffles only (band_key,
    doc_id) pairs. Verification joins the (small) candidate set back
    to per-doc shingle-hash sets and intersects in-memory per row.
    The signature stage feeds three plan branches (keys, both verify
    sides), so it is persisted — without it Spark recomputes the
    whole hash pipeline per branch (measured 5× cost at sf=0.1).
    """
    rows_per_band = num_hashes // bands
    # non-distinct is fine: min() and collect_set() are duplicate-
    # insensitive, and skipping the dedup saves a shuffle. A caller
    # that already materialized an (id, s) shingle frame (e.g.
    # near_dup_pairs' measurement pipeline) passes it via
    # ``exploded`` and the shingling pass is skipped entirely —
    # duplicate-insensitivity makes distinct and non-distinct
    # inputs equivalent here.
    if exploded is None:
        exploded = _shingle_hashes(df, id_col, text_col, k)
    sig = exploded.groupBy(id_col).agg(
        F.collect_set("s").alias("sh"),
        *[
            F.min(F.xxhash64("s", F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    sig = sig.select(
        id_col,
        "sh",
        F.array(
            *[
                F.concat_ws(
                    ":",
                    F.lit(b),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"h{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        )
                    ),
                )
                for b in range(bands)
            ]
        ).alias("band_keys"),
    )
    # The signature stage feeds three plan branches; materialize it
    # once. localCheckpoint (eager) both caches the partitions and
    # cuts lineage, and — unlike a bare persist() — the blocks are
    # released by the ContextCleaner as soon as the returned
    # DataFrame is dropped, so repeated calls in a long-lived session
    # don't accumulate cached partitions.
    sig = checkpoint(sig, eager=True)
    keys = sig.select(id_col, F.explode("band_keys").alias("bk"))
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    sh_a = sig.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = sig.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_common.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - n_common
    )
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_table(
    df: DataFrame, id_col: str, text_col: str, k: int = 2
) -> DataFrame:
    """Per-doc 64-bit SimHash. Columns: <id_col>, n_shingles, simhash.

    Implemented as explode → xxhash64 → packed-lane bit counting in
    ONE grouped aggregation: each of 16 sum columns accumulates 4
    bit-counters in 16-bit lanes of a long (valid for docs with up
    to 65,535 shingles — lane overflow would need wider lanes), then
    a bit-assembly projection recovers vote signs. Measured ~2×
    faster than 64 separate conditional sums, which were already ~2×
    the per-row array-fold form.
    """
    # distinct=True: bit votes must count each distinct shingle once
    h = _shingle_hashes(df, id_col, text_col, k, distinct=True).select(
        id_col, F.col("s").alias("h")
    )

    def packed_lane(lane: int):
        # bits [4*lane .. 4*lane+3] → 16-bit counters at offsets 0/16/32/48
        parts = [
            F.shiftleft(
                F.shiftright(F.col("h"), 4 * lane + j).bitwiseAND(F.lit(1).cast("long")),
                16 * j,
            )
            for j in range(4)
        ]
        return reduce(lambda a, b: a.bitwiseOR(b), parts)

    votes = h.groupBy(id_col).agg(
        F.count("*").alias("n_shingles"),
        *[F.sum(packed_lane(lane)).alias(f"p{lane}") for lane in range(16)],
    )

    def count_set(b: int):
        lane, j = b // 4, b % 4
        return F.shiftright(F.col(f"p{lane}"), 16 * j).bitwiseAND(F.lit(0xFFFF).cast("long"))

    bits = [
        F.when(
            2 * count_set(b) > F.col("n_shingles"),
            F.shiftleft(F.lit(1).cast("long"), b),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(64)
    ]
    simhash = reduce(lambda acc, x: acc.bitwiseOR(x), bits)
    return votes.select(id_col, "n_shingles", simhash.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 2,
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Candidate generation bands the 64 bits into ``max_hamming + 1``
    near-even contiguous chunks — by pigeonhole, any pair differing
    in ≤ max_hamming bits must agree on at least one whole chunk, so
    recall of the banding stage is exactly 1; exact bit_count
    verification then filters candidates. Columns: doc_a, doc_b,
    hamming.
    """
    sh = simhash_table(df, id_col, text_col, k)
    n_bands = min(max_hamming + 1, 64)
    # near-even contiguous bit chunks covering all 64 bits
    bounds = [round(i * 64 / n_bands) for i in range(n_bands + 1)]
    chunks = [(bounds[i], bounds[i + 1] - bounds[i]) for i in range(n_bands)]

    def _signed64(v: int) -> int:
        # Java longs are signed; masks touching bit 63 must wrap.
        return v - (1 << 64) if v >= (1 << 63) else v

    banded = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(i),
                        F.col("simhash")
                        .bitwiseAND(
                            F.lit(_signed64(((1 << width) - 1) << start))
                        )
                        .cast("string"),
                    )
                    for i, (start, width) in enumerate(chunks)
                ]
            )
        ).alias("bk"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def _prefix_tokens(
    sh: DataFrame, id_col: str, sizes: DataFrame, t_num: int, t_den: int
) -> DataFrame:
    """Each document's PREFIX tokens (id, s) under the global rarity
    order — the candidate-generation core shared by
    ``prefix_jaccard_pairs`` and ``count_prefix_candidates``.

    Per-doc global-order rank; prefix length p = n - ceil(t*n) + 1
    with ceil done in exact integers: ceil(t*n) = (t_num*n + t_den
    - 1) div t_den. df/n attach via hash aggregates + joins, NOT
    count-over-window passes: WindowExec sorts its partition even
    for unordered frames, and the measured window variant ran ~30%
    slower than the aggregate+join form at sf0.1."""
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df"))
    return (
        sh.join(dfreq, "s")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("df", "s")
            ),
        )
        .join(sizes, id_col)
        .filter(
            F.col("rn")
            <= F.col("n")
            - F.expr(f"({t_num} * n + {t_den} - 1) div {t_den}")
            + 1
        )
        .select(id_col, "s")
    )


def count_prefix_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.3,
) -> int:
    """Σ_s C(cnt_s, 2) over the prefix-token posting lists — the
    EXACT candidate-pair row count of prefix_jaccard_pairs' posting
    self-join (before the distinct and the length filter), i.e. the
    thing that decides whether exact threshold-Jaccard mining is
    affordable. The analogue of graph.count_wedges for the text
    near-dup family (round-10 verdict #1): shingling + one df
    aggregation + the per-doc prefix window + one posting-size
    aggregation — the same pipeline prefix both similarity paths
    start from (shingling dominates), with NO pair expansion."""
    t_num, t_den = _ratio(threshold)
    sh = _shingle_hashes(df, id_col, text_col, k, distinct=True)
    # three consumers (sizes, dfreq, the ranked join) — checkpoint
    # so shingling runs once, exactly as in prefix_jaccard_pairs
    sh = checkpoint(sh)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    ranked = _prefix_tokens(sh, id_col, sizes, t_num, t_den)
    return _candidate_volume(ranked)


def _candidate_volume(ranked: DataFrame) -> int:
    """Σ_s C(cnt_s, 2) over an already-built ranked-prefix frame —
    one posting-size aggregation + a scalar sum."""
    row = (
        ranked.groupBy("s")
        .agg(F.count("*").alias("c"))
        .agg(
            F.sum(
                F.expr("CAST(c AS BIGINT) * (c - 1) DIV 2")
            ).alias("w")
        )
        .first()
    )
    return int(row["w"] or 0)


# Calibrated on the round-11 fixture measurements (ARCHITECTURE.md
# round-11 note): the sf0.1 documents corpus generates 695,553
# prefix candidates and runs the exact path in 6.57 s isolated on
# 32 threads; the 10× weak-scaling fixture generates 6,953,631
# (exactly 10× — the disjoint-replica design) and costs 70.8 s —
# fully linear, ~100k candidates/s of end-to-end wall. 100k
# candidates/core × 32 puts the single-node auto boundary at 3.2M
# candidates (between the two measured points, ~32 s of exact work
# — the same exact-anchor acceptance class as graph.WEDGE_BUDGET).
# The budget is ABSOLUTE — the calibration measured single-node
# walls only — so an oracle-bearing consumer (q178) routes the same
# on any host. Read at call time (tests patch it).
CANDIDATE_BUDGET = 3_200_000


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    dispatch: str = "auto",
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """Cost-dispatched text near-duplicate pairs (round-10 verdict
    #1 — the wedge-dispatch template applied to the text family):
    routes between the two shingle-Jaccard paths instead of leaving
    the Θ(candidates)-vs-LSH choice to the caller.

    * ``dispatch='exact'`` — prefix_jaccard_pairs: lossless prefix
      filtering (All-Pairs/PPJoin), EVERY pair with J >= threshold,
      the recall anchor. Θ(prefix-candidate pairs).
    * ``dispatch='sketch'`` — minhash_lsh_pairs: MinHash + banded
      LSH candidates with exact-Jaccard verification,
      Θ(LSH candidates); per-pair values exact, recall
      probabilistic below J=1.0 (identical docs collide in every
      band, so J=1.0 recall is exactly 1 — the planted-dup oracle
      argument).
    * ``dispatch='auto'`` — MEASURE the prefix-candidate volume and
      compare to CANDIDATE_BUDGET. At or under budget the exact
      path runs; over it the sketch does.
      The measurement job builds the same localCheckpoint'ed
      (shingles, sizes, ranked-prefix) triple the exact miner
      consumes, and the exact route is handed THOSE frames
      (_prefix_exact_from) — so the measured decision costs one
      posting-size aggregation over already-materialized prefixes,
      not a second shingling pipeline. Same contract as
      adjacency_similarity(dispatch='auto').

    Both routes emit identical schemas (doc_a, doc_b, jaccard with
    doc_a < doc_b, jaccard >= threshold); planted EXACT duplicates
    appear in both routes' output by construction, which is what
    tests/test_prefix_jaccard.py pins for this helper.
    """
    if dispatch == "exact":
        return prefix_jaccard_pairs(
            df, id_col, text_col, k=k, threshold=threshold
        )
    if dispatch == "sketch":
        return minhash_lsh_pairs(
            df,
            id_col,
            text_col,
            k=k,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
        )
    if dispatch != "auto":
        raise ValueError(
            f"dispatch must be 'auto', 'exact' or 'sketch', got "
            f"{dispatch!r}"
        )
    t_num, t_den = _ratio(threshold)
    sh = _shingle_hashes(df, id_col, text_col, k, distinct=True)
    sh = checkpoint(sh)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    ranked = _prefix_tokens(sh, id_col, sizes, t_num, t_den)
    ranked = checkpoint(ranked)
    if _candidate_volume(ranked) <= CANDIDATE_BUDGET:
        return _prefix_exact_from(sh, sizes, ranked, id_col, t_num, t_den)
    # over budget: hand the sketch the already-checkpointed DISTINCT
    # shingle frame — min()/collect_set() are duplicate-insensitive,
    # so skipping minhash's own shingle explode is free correctness-
    # wise and saves a full Θ(corpus) shingling pass exactly in the
    # largest-corpus case the dispatch exists for (review finding).
    return minhash_lsh_pairs(
        df,
        id_col,
        text_col,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        exploded=sh,
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """EXACT threshold-Jaccard pairs via PREFIX FILTERING (the
    All-Pairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08; public literature): columns (doc_a, doc_b, jaccard),
    doc_a < doc_b, jaccard >= threshold.

    Where ``jaccard_pairs`` bounds its posting-list expansion with a
    df-cut (trading exactness on boilerplate-heavy corpora), prefix
    filtering is LOSSLESS: order every document's shingles by a
    single global order (document frequency ascending, hash
    tie-break — rarest first), keep only the first
    ``n - ceil(t*n) + 1`` as its PREFIX, and generate candidates
    from prefix co-occurrence alone. Pigeonhole guarantee: two sets
    with J >= t overlap in more than (1-t)-fractions of either, so
    they MUST share a prefix token — candidates ⊇ true pairs, and
    exact verification makes the output exactly the brute-force
    answer (the catalog oracle is the plain quadratic SQL with no
    algorithm mirroring — the strongest correctness form).

    Scale: posting lists are built only from PREFIX tokens, which
    are by construction the RAREST shingles of each doc — the dense
    boilerplate tokens that blow up ``jaccard_pairs`` postings sort
    to the END of the global order and never enter a prefix unless
    a doc is almost all boilerplate. Exchanges: one on the shingle
    for df-counts, one on the id for the per-doc prefix window, one
    posting expansion over prefix tokens, and two candidate-scale
    verify joins. The shingle frame feeds five consumers, so it is
    lazily localCheckpoint'ed — shingling runs once.
    """
    t_num, t_den = _ratio(threshold)
    sh = _shingle_hashes(df, id_col, text_col, k, distinct=True)
    sh = checkpoint(sh)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    ranked = _prefix_tokens(sh, id_col, sizes, t_num, t_den)
    # two join branches below consume `ranked`; checkpoint so the
    # df-join + per-doc prefix window runs once, not per-branch
    ranked = checkpoint(ranked)
    return _prefix_exact_from(
        sh, sizes, ranked, id_col, t_num, t_den
    )


def _prefix_exact_from(
    sh: DataFrame,
    sizes: DataFrame,
    ranked: DataFrame,
    id_col: str,
    t_num: int,
    t_den: int,
) -> DataFrame:
    """Candidate generation + exact verification over an ALREADY
    BUILT (shingles, sizes, ranked-prefix) triple — split out so
    near_dup_pairs(dispatch='auto') can hand the frames its
    measurement job materialized straight to the exact route
    instead of re-shingling the corpus (the measurement and the
    miner share localCheckpoint'ed inputs, so the measured decision
    costs one scalar aggregation, not a second pipeline)."""
    # Candidate pairs via a SELF-JOIN of the ranked prefix table on
    # the token — not collect_set + double explode. The array form
    # materialized each prefix token's full posting list as ONE row
    # and expanded |ids|^2 pairs inside the single task that owned
    # it; on a near-duplicate-saturated corpus one hot prefix token
    # becomes a straggler/OOM. The join form keeps rows narrow
    # (id, s), streams the expansion, and lets AQE's skew-join
    # handling split a hot token's partition across tasks (the
    # probe side is duplicated per split — correct for inner joins).
    ra = ranked.select(F.col(id_col).alias("doc_a"), "s")
    rb = ranked.select(F.col(id_col).alias("doc_b"), "s")
    cand = (
        ra.join(rb, "s")
        .filter(F.col("doc_b") > F.col("doc_a"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # size filter BEFORE the expensive intersection join: J >= t
    # forces t*max(|a|,|b|) <= min(|a|,|b|) (intersection is at most
    # the smaller set), so mismatched-length candidates drop on two
    # cheap integer comparisons — the standard All-Pairs length
    # filter, lossless like the prefix
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("n_b"))
    cand = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.least("n_a", "n_b") * t_den
            >= F.lit(t_num) * F.greatest("n_a", "n_b")
        )
    )
    # exact verification at candidate scale — ARRAY domain
    # (optimization r12, guide §2.3/§2.4): attach each side's full
    # shingle set ONCE as an array and hash-intersect in-task. The
    # old exploded form joined cand×sh on doc_a (Θ(Σ_cand |sh(a)|)
    # narrow rows), shuffled them again on (doc_b, s), and rolled up
    # per pair; the array form moves Θ(cand) rows (same payload
    # bytes, far fewer rows), drops the rollup exchange entirely,
    # and `size(array_intersect(...))` is one hash probe per
    # candidate inside a single codegen stage. Identical value: sh
    # is DISTINCT (id, s), so |array_intersect| = the old join-count
    # per pair; pairs with empty intersections appear as n_common=0
    # and die in the threshold filter exactly like they never
    # appeared before.
    arrs = sh.groupBy(id_col).agg(F.collect_list("s").alias("__arr"))
    aa = arrs.select(
        F.col(id_col).alias("doc_a"), F.col("__arr").alias("__arr_a")
    )
    bb = arrs.select(
        F.col(id_col).alias("doc_b"), F.col("__arr").alias("__arr_b")
    )
    inter = (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("__arr_a", "__arr_b"))
            .cast("bigint")
            .alias("n_common"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        inter
        # exact integer threshold: J >= t_num/t_den without float
        .filter(
            F.col("n_common") * t_den
            >= F.lit(t_num) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


def _ratio(threshold: float) -> tuple[int, int]:
    """Exact small-rational form of a threshold (e.g. 0.3 → (3, 10))
    so prefix lengths and the final filter are integer arithmetic."""
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(1000)
    return fr.numerator, fr.denominator


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. SIGMOD'03 —
    the MOSS scheme; public literature): rows (id, fp) where fp is
    the 32-char md5 hex of a selected k-word shingle — the minimum
    of the w consecutive shingle hashes ending at each position,
    ties broken by the EARLIEST position. The tie-break rides a
    sort key of hash || zero-padded position (one plain MIN over
    the window is the whole selection rule), but only the HASH is
    emitted: the position is document-local, so keeping it in the
    output would break cross-document fingerprint equality for
    shared runs at different offsets. The pad is 12 digits wide —
    Spark's lpad TRUNCATES longer inputs, so a 6-digit pad would
    alias positions in documents of ≥10⁶ tokens and corrupt the
    min tie-break; 12 digits is exact to 10¹² tokens per document.

    Guarantee (the winnowing property): any shared run of w+k-1
    words between two documents yields at least one IDENTICAL
    selected fingerprint in both — the basis of plagiarism/verbatim
    detection at a fraction of q83's full-inverted-index cost.

    Scale: one posexplode (narrow), k-1 lead windows + one ROWS
    window per doc — all partitioned by the doc id, no corpus-wide
    shuffle; the distinct on (id, fp) is the only exchange and its
    cardinality is ~n_shingles/w per doc (the winnowing density
    bound, 2/(w+1) expected selections per position).
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("pos", "word"),
    )
    win = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("word")] + [
        F.lead("word", j).over(win) for j in range(1, k)
    ]
    sh = (
        toks.select(
            F.col(id_col),
            F.col("pos"),
            F.concat_ws(" ", *parts).alias("sh"),
            F.lead("word", k - 1).over(win).alias("last_w"),
        )
        .filter(F.col("last_w").isNotNull())
        .select(
            id_col,
            "pos",
            F.concat(
                F.md5("sh"),
                F.lpad(F.col("pos").cast("string"), 12, "0"),
            ).alias("hk"),
        )
    )
    wv = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(w - 1), 0)
    )
    return (
        sh.select(
            F.col(id_col),
            F.col("pos"),
            # strip the 12-char position suffix: the fingerprint is
            # the HASH alone (document-local offsets must not leak
            # into the cross-document matching key)
            F.substring(F.min("hk").over(wv), 1, 32).alias("fp"),
        )
        .filter(F.col("pos") >= w - 1)  # full windows only
        .select(id_col, "fp")
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold_ppm: int = 600_000,
    max_postings: int | None = None,
) -> DataFrame:
    """ASYMMETRIC set-containment near-dup pairs: directed
    (contained, container) where the smaller document's shingle set
    is ≥ threshold contained in the larger's —
    C(A→B) = |A∩B| / |A| with A the smaller distinct-shingle set
    (ties break to the lower id as "contained"). Containment is the
    dedup relation symmetric Jaccard MISSES: a short document pasted
    verbatim inside a much longer one has low Jaccard (the union is
    large) but containment ≈ 1 — the "nested duplicate" class every
    pretraining-dedup pipeline handles separately (Broder's
    containment, the same sketchable quantity as resemblance).
    Columns: contained, container, n_small, containment_ppm.

    Same skew-safe self-join candidate generation and
    ``max_postings`` df-cut as jaccard_pairs (see
    _candidate_intersections: shared-shingle pairs only, never
    all-pairs, never single-task posting arrays; the cut can only
    lower the estimate, never emit a false positive).
    containment_ppm is an exact integer cross-multiply
    floor-division — no float ratio.
    """
    sh = _shingle_hashes(df, id_col, text_col, k, distinct=True)
    # four consumer branches, as in jaccard_pairs — run the shingle
    # window pipeline once (see _candidate_intersections note)
    sh = checkpoint(sh)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    inter = _candidate_intersections(sh, id_col, max_postings)
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("n_b"))
    a_small = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.when(a_small, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
                "contained"
            ),
            F.when(a_small, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
                "container"
            ),
            F.when(a_small, F.col("n_a"))
            .otherwise(F.col("n_b"))
            .cast("bigint")
            .alias("n_small"),
            "n_common",
        )
        .withColumn(
            "containment_ppm",
            F.expr("CAST(n_common * 1000000 DIV n_small AS BIGINT)"),
        )
        .filter(F.col("containment_ppm") >= threshold_ppm)
        .drop("n_common")
    )
