"""Text-analysis / dedup catalog queries (north-star extensions).

These are the LLM-training-data operators over the ``documents``
fixture: fingerprinting, exact dedup, token statistics, quality
scoring, language ID, n-gram Jaccard near-dup, MinHash-LSH and
SimHash. Everything runs as built-in Column expressions (no Python
UDFs in the hot path).

Scale design: exact dedup and fingerprint dedup are single
hash-shuffles on the dedup key. Near-dup is candidate-generation
(explode shingles / LSH band keys → shuffle only (doc_id, key)
pairs) followed by pair verification — never an all-pairs cross
join. MinHash/SimHash use Spark's xxhash64, so their signatures are
engine-specific: those two queries are rows-only checks (no DuckDB
oracle), while fingerprint/exact/Jaccard have full oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from car_insurance_data_pipeline_spark_spark.functions.text import (
    bpe_ish_token_count,
    fingerprint,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)
from car_insurance_data_pipeline_spark_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_table,
)
from car_insurance_data_pipeline_spark_spark.plans.catalog import query, table

# Normalization used by fingerprint(), duplicated in SQL for oracles.
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)


@query(
    "q29_fingerprint",
    oracle=f"""
SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
FROM (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents)
GROUP BY fp
""",
)
def q29_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (md5 of normalized text) + grouping —
    the exact-dedup key. md5 is engine-portable, so the fingerprints
    themselves are oracle-checked, not just counts.
    """
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("canonical_id"))
    )


@query(
    "q30_exact_dedup",
    oracle="""
SELECT doc_id, CAST(n_copies AS BIGINT) AS n_copies FROM (
  SELECT doc_id,
    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn,
    count(*) OVER (PARTITION BY text) AS n_copies
  FROM documents
) WHERE rn = 1
""",
)
def q30_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: keep the min-doc_id survivor per distinct
    text (deterministic A5 semantics). One shuffle on the text key.
    """
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("text")
    surv = (
        d.withColumn("rn", F.row_number().over(w.orderBy("doc_id")))
        .withColumn("n_copies", F.count("*").over(w))
        .filter(F.col("rn") == 1)
    )
    return surv.select("doc_id", "n_copies")


@query(
    "q31_text_metrics",
    oracle="""
WITH t AS (
  -- empty-text guard mirrors tokens(): '' tokenizes to ZERO tokens
  -- (regexp_split_to_array('') would yield [''] - one phantom token);
  -- NULL text propagates NULL through both engines identically
  SELECT doc_id, lang, n_chars,
    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\\s+') END AS ws_raw,
    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS ws,
    CAST(length(text) AS INT) AS n_chars_m,
    CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS INT)
      AS n_punct,
    CAST(COALESCE(list_sum(list_transform(
           CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                ELSE regexp_split_to_array(trim(text), '\\s+') END,
           w -> CAST(ceil(length(w) / 6.0) AS INT))),
         CASE WHEN text IS NULL THEN NULL ELSE 0 END)
       + length(regexp_replace(text, '[^.,;:!?()\\[\\]{}"'']', '', 'g')) AS INT)
      AS n_subword
  FROM documents
), r AS (
  SELECT doc_id, lang, n_chars, n_subword, ws,
    CAST(len(ws_raw) AS INT) AS n_tokens,
    CASE WHEN n_chars_m > 0
         THEN CAST(n_punct AS DOUBLE) / CAST(n_chars_m AS DOUBLE)
         ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(ws) > 0
         THEN CAST(len(list_filter(ws, w -> list_contains(
                ['the','and','of','to','is','in','that','it','for','with'], w)))
                AS DOUBLE) / CAST(len(ws) AS DOUBLE)
         ELSE 0.0 END AS stopword_ratio,
    -- COALESCE: NULL text must score 0 hits so pred_lang is 'und',
    -- exactly lang_id()'s NULL behavior
    COALESCE(len(list_filter(ws, w -> list_contains(
      ['der','die','das','und','ist','nicht','ein','mit','für','von'], w))), 0) AS sc_de,
    COALESCE(len(list_filter(ws, w -> list_contains(
      ['the','and','of','to','is','in','that','it','for','with'], w))), 0) AS sc_en,
    COALESCE(len(list_filter(ws, w -> list_contains(
      ['el','la','los','las','es','en','un','una','que','por'], w))), 0) AS sc_es,
    COALESCE(len(list_filter(ws, w -> list_contains(
      ['le','la','les','et','de','des','un','une','est','dans'], w))), 0) AS sc_fr
  FROM t
)
SELECT doc_id, n_tokens, n_subword, n_chars, punct_ratio, stopword_ratio,
  (CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END
   + CASE WHEN punct_ratio < 0.3 THEN 0.3 ELSE 0.0 END
   + CASE WHEN stopword_ratio > 0.05 THEN 0.3 ELSE 0.0 END) AS quality,
  lang,
  CASE WHEN greatest(sc_de, sc_en, sc_es, sc_fr) = 0 THEN 'und'
       WHEN sc_de = greatest(sc_de, sc_en, sc_es, sc_fr) THEN 'de'
       WHEN sc_en = greatest(sc_de, sc_en, sc_es, sc_fr) THEN 'en'
       WHEN sc_es = greatest(sc_de, sc_en, sc_es, sc_fr) THEN 'es'
       ELSE 'fr' END AS pred_lang,
  CAST(len(list_distinct(ws)) AS INT) AS n_unique,
  -- DuckDB slices an EMPTY list to NULL; Spark array_joins it to ''.
  -- Keep NULL only for NULL text.
  CASE WHEN ws IS NULL THEN NULL
       ELSE COALESCE(array_to_string(list_sort(list_distinct(ws))[1:5], ','), '')
  END AS first_vocab
FROM r
""",
)
def q31_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-analysis metrics in ONE narrow pass (merged
    r01 q31_token_stats + q32_quality_metrics + q33_lang_id +
    q49_array_functions so the whole block stays inside the driver's
    checked-query window).

    - token counting: whitespace tokens + a BPE-ish subword estimate
      (words split into ceil(len/6) pieces + punctuation runs) —
      corpus token budgeting without a tokenizer dependency;
    - quality scoring (C4-style heuristics): length band, punctuation
      ratio, stopword ratio → additive score (int/int divisions,
      cross-engine exact);
    - language ID via marker-word counts, deterministic alphabetical
      tie-break, 'und' when nothing hits;
    - array-function surface (split/distinct/sort/slice/join) over
      the token array; list output joined to strings (cross-engine
      list dtypes don't hash alike).

    Scale: pure Column expressions over the documents scan — codegen,
    no shuffle, no Python.
    """
    from car_insurance_data_pipeline_spark_spark.functions.text import (
        lang_id,
        tokens,
    )

    d = table(spark, sf_dir, "documents")
    toks_l = tokens(F.lower(F.col("text")))
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_subword"),
        "n_chars",
        punct_ratio("text").alias("punct_ratio"),
        stopword_ratio("text").alias("stopword_ratio"),
        quality_score("text").alias("quality"),
        "lang",
        lang_id("text").alias("pred_lang"),
        F.size(F.array_distinct(toks_l)).alias("n_unique"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct(toks_l)), 1, 5), ","
        ).alias("first_vocab"),
    )


@query(
    "q34_jaccard_pairs",
    oracle="""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS s
  FROM arr, unnest(range(1, len(a) - 1)) AS r(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), ok AS (
  -- mirrors the Spark side's max_postings=1000 df-cut: shingles
  -- shared by more docs are excluded from candidate generation
  SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000
), inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  JOIN ok ON ok.s = x.s
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.1
""",
)
def q34_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (3-word shingles, j≥0.1).

    Candidate generation by shingle co-occurrence (explode + equi
    self-join on the shingle), NOT an all-pairs cross join — the
    shuffle carries (doc_id, shingle) pairs only.

    max_postings=1000 is a pure scale guard: the fixture's densest
    shingle is shared by 7 docs at sf0.01 / 25 at sf0.1, so the cut
    never fires here and the result stays exactly the oracle's; on a
    boilerplate-heavy corpus it bounds the otherwise-quadratic
    posting-list expansion.
    """
    d = table(spark, sf_dir, "documents")
    return jaccard_pairs(
        d, "doc_id", "text", k=3, threshold=0.1, max_postings=1000
    )


@query("q35_minhash_lsh_pairs")  # rows-only: xxhash64 signatures are Spark-specific
def q35_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded-LSH near-dup candidates, verified with exact
    Jaccard (shingle k=3, 32 hashes, 16 bands × 2 rows, j≥0.5).

    The scale path for dedup at 100 TB: LSH candidate generation
    shuffles only (band_key, doc_id) pairs; exact verification runs
    on the candidate set alone. No oracle: signatures depend on
    Spark's xxhash64. Recall vs q34's exact pairs is asserted in
    tests/test_dedup.py.
    """
    d = table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d, "doc_id", "text", k=3, num_hashes=32, bands=16, threshold=0.5
    )


@query(
    "q372_verbatim_dup_lsh",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0
), arr AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM corpus
), sh AS (
  SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS s
  FROM arr, unnest(range(1, len(a) - 1)) AS r(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE n_common = sa.n AND n_common = sb.n
""",
)
def q372_verbatim_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERBATIM-duplicate detection via MinHash-LSH at threshold 1.0
    — the q35 machinery promoted to a hard driver row (round-10
    verdict #3, the q72/q370 planted-oracle pattern applied to the
    TEXT sketch family). At Jaccard exactly 1.0 the LSH sketch is
    DETERMINISTIC, not probabilistic: identical shingle sets take
    identical minhashes, so the pair collides in EVERY band (recall
    exactly 1), and verification recomputes exact Jaccard
    (precision 1) — so the output equals the brute-force answer and
    a plain quadratic oracle hash-checks the whole sketch pipeline
    (signature aggregation, banding, candidate self-join, verify
    joins) with no algorithm mirroring. Every 20th doc is
    re-inserted verbatim (doc_id + 1e6) so the result is non-empty
    at every SF; the corpus' own organic exact duplicates (present
    at sf0.1) surface identically on both sides. The jaccard column
    is 1.0 exactly in IEEE on both engines (n_common == n_a == n_b).
    q35 stays the organic rows-only entry (sub-1.0 recall pinned in
    tests/test_dedup.py).

    Routed through near_dup_pairs(dispatch='sketch') — this gives
    the round-11 dispatch surface's SKETCH route its own driver
    row (q178 exercises the exact route).

    Scale: identical to q35 — the LSH candidate stream carries
    (band_key, doc_id) only; verification runs at candidate scale;
    nothing is broadcast (the planted frame scales with the corpus
    and correctly never carries a hint).
    """
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        near_dup_pairs,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") % 20 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    corpus = d.unionByName(planted)
    return near_dup_pairs(
        corpus, "doc_id", "text", k=3, threshold=1.0, dispatch="sketch"
    )


@query("q36_simhash")  # rows-only: xxhash64-based signature
def q36_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 64-bit SimHash signatures (explode + bit-count
    aggregation form — scales as one shuffle on doc_id)."""
    d = table(spark, sf_dir, "documents")
    return simhash_table(d, "doc_id", "text", k=2)


@query(
    "q37_multimodal_meta",
    oracle="""
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
  MAX(octet_length(CAST(text AS BLOB))) AS max_bytes
FROM documents
GROUP BY source
""",
)
def q37_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata path: treat payloads as binary + typed
    metadata and aggregate sizes (the multimodal column model; the
    decode stage itself is the mapInPandas stub in
    operators/multimodal.py, exercised by tests).
    """
    d = table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return (
        d.select("source", F.octet_length(payload).alias("n_bytes"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("n_bytes").alias("max_bytes"),
        )
    )


@query(
    "q178_prefix_jaccard",
    oracle="""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS s
  FROM arr, unnest(range(1, len(a) - 1)) AS r(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE n_common * 10 >= 3 * (sa.n + sb.n - n_common)
""",
)
def q178_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs (3-word shingles, j >= 0.3) via LOSSLESS
    prefix filtering — the All-Pairs/PPJoin upgrade over q34's
    df-cut: candidates come from each document's RAREST
    ``n - ceil(t·n) + 1`` shingles under a global frequency order
    (the pigeonhole guarantee makes that superset exact), so dense
    boilerplate shingles never enter candidate generation and no
    accuracy-vs-postings trade remains.

    The oracle is the plain QUADRATIC brute force with NO algorithm
    mirroring — a hash match proves the prefix filter lost nothing.
    The threshold runs as exact integer arithmetic in both engines
    (10·inter >= 3·union), so no float comparison sits on the
    keep/drop boundary.

    Round-11: routed through near_dup_pairs(dispatch='auto') — the
    measured candidate volume against the absolute
    ``dedup.CANDIDATE_BUDGET`` (3.2M) picks the route, so the route
    is a function of the data alone. Both fixture SFs sit far under
    it (4.3k / 695k candidates), so the auto route runs the EXACT
    path here and the brute-force oracle still hash-matches; the
    10× fixture (6.95M candidates) routes to the MinHash-LSH
    sketch, which is the 100 TB behavior this dispatch exists for.
    """
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        near_dup_pairs,
    )

    d = table(spark, sf_dir, "documents")
    return near_dup_pairs(
        d, "doc_id", "text", k=3, threshold=0.3, dispatch="auto"
    )


@query(
    "q255_containment_pairs",
    oracle="""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS s
  FROM arr, unnest(range(1, len(a) - 1)) AS r(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), ok AS (
  SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000
), inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
    CAST(count(*) AS BIGINT) AS n_common
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  JOIN ok ON ok.s = x.s
  GROUP BY 1, 2
), directed AS (
  SELECT
    CASE WHEN sa.n < sb.n OR (sa.n = sb.n AND doc_a < doc_b)
         THEN doc_a ELSE doc_b END AS contained,
    CASE WHEN sa.n < sb.n OR (sa.n = sb.n AND doc_a < doc_b)
         THEN doc_b ELSE doc_a END AS container,
    CAST(LEAST(sa.n, sb.n) AS BIGINT) AS n_small,
    n_common
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
)
SELECT contained, container, n_small,
  CAST(n_common * 1000000 // n_small AS BIGINT) AS containment_ppm
FROM directed
WHERE n_common * 1000000 // n_small >= 600000
""",
)
def q255_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs (3-word shingles,
    C ≥ 0.6): the "nested duplicate" detector — a short document
    pasted inside a longer one has LOW Jaccard (large union) but
    HIGH containment, so q34's symmetric pass misses exactly the
    pairs this one exists for. Directed output: (contained,
    container) with the smaller shingle set as contained, exact
    integer-ppm containment. Columns: contained, container,
    n_small, containment_ppm.

    Scale: identical candidate machinery to q34 (the skew-safe
    self-join on the shingle + df-cut 1000, never all-pairs, never
    single-task posting arrays); the extra work over Jaccard is
    zero — same intersection counts, different final ratio.
    """
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        containment_pairs,
    )

    d = table(spark, sf_dir, "documents")
    return containment_pairs(
        d, "doc_id", "text", k=3, threshold_ppm=600_000, max_postings=1000
    )
