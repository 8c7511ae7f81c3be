"""Cross-engine parity under NULL / empty / whitespace text.

The shipped fixtures contain no NULL or '' documents, so plain
oracle parity can't see divergent NULL semantics (ADVICE r3 flagged
this class as latent). This suite injects NULL text, empty text,
and NULL n_chars into a copy of the documents table and re-runs
oracle parity for the text-pipeline queries — pinning the engine's
documented policy: ''/NULL documents tokenize to ZERO tokens (never
one '' phantom token), NULL measurements yield NULL verdicts, and
corpus-level statistics (unigram totals, BM25 doc counts) agree on
which documents exist."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from car_insurance_data_pipeline_spark_spark.testing import compare_query

# representative of every text-handling class: tokenize/metrics,
# explode-based weighting, shingles/dedup/CC, corpus-stat scoring,
# rewrite ops, composition gate, media synth keyed on doc_id
QUERIES = [
    "q31_text_metrics",
    "q61_tfidf_top_terms",
    "q84_pii_scrub",
    "q86_unigram_quality",
    "q89_corpus_gate",
    "q94_boilerplate_strip",
    "q95_token_budget_select",
    "q106_span_removal",
    "q107_snapshot_diff",
    "q111_bm25_rank",
    "q114_mad_outliers",
    # round-4 training-set assembly: NULL n_chars must sum away
    # identically (q127) and bin to the ELSE stage in both engines
    # (NULL <= threshold is NULL -> CASE falls through, q128); the
    # map rollup's counts see the same document set (q131)
    "q127_dataset_split",
    "q128_curriculum_bins",
    "q131_map_rollup",
    # round-5 analytics batch: sentence segmentation and readability
    # must DROP null/empty/whitespace docs identically; the shingle
    # consumers (contamination score, prefix jaccard) must emit zero
    # shingles for them; quantile normalization excludes NULL
    # features BEFORE ranking (the engines disagree on NULL sort
    # position, so an in-rank NULL would shift every index)
    "q167_sentence_stats",
    "q173_contamination_score",
    "q175_readability",
    "q178_prefix_jaccard",
    "q179_quantile_normalize",
    # round-6: winnowing must shingle NULL/empty/whitespace docs to
    # zero fingerprint rows in both engines (split-of-NULL → no
    # rows; trim of whitespace → single empty token → no 3-shingle)
    "q183_winnowing",
    "q196_hash_classifier",
    # asymmetric containment: NULL/empty docs shingle to zero rows
    # in both engines (same class as q34/q178)
    "q255_containment_pairs",
    # round-7: PMI and vocab richness filter NULL text on both
    # sides; ''/whitespace docs tokenize to ONE empty token in both
    # engines (split-of-'' → ['']) — counted identically in the
    # unigram histogram and excluded from bigrams by len >= 2
    "q260_pmi_collocations",
    "q270_vocab_richness",
    # FIM filters NULL text and requires n >= 9 tokens (''/ws docs
    # tokenize to one token -> excluded identically); Zipf rides the
    # same unigram histogram as q270
    "q271_fim_transform",
    "q272_zipf_fit",
    # Neyman filters NULL n_chars AND NULL lang explicitly both sides
    "q273_neyman_allocation",
    # round-8: novelty shingles NULL/empty docs to zero rows (the
    # q34/q178 class); waterfill filters NULL source/n_chars on both
    # sides explicitly
    "q283_ngram_novelty",
    "q284_waterfill_mixture",
]


@pytest.fixture(scope="module")
def null_sf_dir(sf_dir, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("sf_nulls"))
    for f in os.listdir(sf_dir):
        if f != "documents.parquet":
            shutil.copy(os.path.join(sf_dir, f), os.path.join(dst, f))
    con = duckdb.connect()
    con.sql(f"""
COPY (
  SELECT doc_id,
    CASE WHEN doc_id % 37 = 0 THEN NULL
         WHEN doc_id % 41 = 0 THEN ''
         WHEN doc_id % 43 = 0 THEN '   '
         ELSE text END AS text,
    lang, source,
    CASE WHEN doc_id % 37 = 0 THEN NULL ELSE n_chars END AS n_chars
  FROM '{sf_dir}/documents.parquet'
) TO '{dst}/documents.parquet' (FORMAT PARQUET)
""")
    con.close()
    return dst


@pytest.mark.parametrize("name", QUERIES)
def test_parity_with_null_and_empty_text(name, spark, null_sf_dir):
    res = compare_query(name, spark, null_sf_dir)
    assert res.ok, f"{name}: {res.detail}"


# ---------------------------------------------------------------------------
# Same treatment for the events/orders tables: NULL user_id / value /
# props, and NULL o_orderpriority (which requires null-safe run
# detection in the SCD2 build — a plain != silently merges NULL rows
# into the neighboring run with nondeterministic interval closes).
# ---------------------------------------------------------------------------

EVENT_QUERIES = [
    "q22_json_props",
    "q24_sessionization",
    "q108_scd2_history",
    "q110_key_skew_report",
    "q115_retention_cohorts",
    # NULL o_orderpriority propagates through concat -> a NULL JSON
    # document -> NULL extraction in BOTH engines (from_json and
    # json_extract agree NULL in, NULL out)
    "q130_json_extract",
    # round-5 sequence analytics: NULL user_id forms its own window
    # partition / group in both engines, NULL value rows are
    # filtered before weighting, and the basket self-join drops
    # NULL keys identically (SQL join semantics)
    "q164_markov_transitions",
    "q165_attribution_matrix",
    "q166_time_weighted_avg",
    "q171_association_rules",
    # round-6: NULL user_id/ts rows are filtered identically BEFORE
    # sessionization in both engines (explicit WHERE both sides)
    "q193_session_window",
    # round-6: NULL user_id forms its own funnel "user" identically
    # in both engines (one NULL window partition / group), and NULL
    # comparisons in the strictly-after predicates yield NULL →
    # stage not reached, same three-valued logic both sides
    "q200_funnel_stages",
    # round-6: q203/q204/q205 filter NULL user_id/value explicitly
    # on BOTH sides; q202 routes the NULL user to variant B through
    # identical CASE-over-NULL three-valued logic
    "q202_ab_ztest",
    "q203_bitmap_distinct",
    "q204_seasonal_anomaly",
    "q205_sequence_support",
    # round-6 tpchplus: NULL value rows vanish inside SUM identically
    # in both engines (SUM skips NULLs); hour buckets come from ts,
    # which the fixture never nulls
    "q214_hourly_acf",
    # round-6 stats: NULL value rows are filtered explicitly on BOTH
    # sides before the histogram; the NULL user routes to variant B
    # through identical CASE-over-NULL logic (the q202 precedent);
    # q223's contingency uses only (ts, event_type), never nulled
    "q218_mann_whitney_u",
    "q219_ks_two_sample",
    "q223_mutual_information",
    # NULL value rows filtered explicitly on BOTH sides before the
    # daily Theil-Sen series
    "q225_theil_sen_slope",
    # NULL o_orderpriority vanishes inside COUNT(DISTINCT) in both
    # engines; NULL user_id filtered explicitly before the survival
    # table; NULL value filtered before the Mann-Kendall series
    "q228_l_diversity",
    "q229_kaplan_meier",
    "q230_mann_kendall",
    # TPC-H shapes over the NULL-priority orders: a NULL priority
    # forms its own group (q237) and falls into NEITHER conditional
    # bucket via identical three-valued IN logic (q242)
    "q237_order_priority_check",
    "q242_shipping_priority_split",
    # same substrate/routing as q218/q219
    "q231_js_divergence",
    # model-eval family: NULL value filtered explicitly on BOTH
    # sides before the score histogram / bins / PSI split
    "q233_exact_auc",
    "q234_calibration_bins",
    "q235_psi_drift",
    # streaming PSI: NULL value rows filtered on BOTH sides before
    # binning (stream filter + oracle WHERE)
    "q249_stream_psi",
    # AP filters NULL value; group k-fold filters NULL user_id —
    # both explicit on BOTH sides
    "q250_average_precision",
    "q251_group_kfold",
    # same histogram substrate + explicit NULL-value filters
    "q252_qq_table",
    "q253_effect_size",
    # round-7: NDCG/MRR/BH-FDR/permutation filter NULL value AND
    # user_id explicitly on both sides; Wilson touches only
    # (ts, event_type), never nulled; the streaming top-k likewise
    "q256_ndcg",
    "q257_bh_fdr",
    "q262_permutation_test",
    "q263_mrr_recall",
    "q266_stream_topk",
    "q269_wilson_ci",
]


@pytest.fixture(scope="module")
def null_events_sf_dir(sf_dir, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("sf_nulls_events"))
    for f in os.listdir(sf_dir):
        if f not in ("events.parquet", "orders.parquet"):
            shutil.copy(os.path.join(sf_dir, f), os.path.join(dst, f))
    con = duckdb.connect()
    con.sql(f"""
COPY (
  SELECT event_id, ts,
    CASE WHEN event_id % 53 = 0 THEN NULL ELSE user_id END AS user_id,
    event_type,
    CASE WHEN event_id % 47 = 0 THEN NULL ELSE value END AS value,
    CASE WHEN event_id % 59 = 0 THEN NULL ELSE props END AS props
  FROM '{sf_dir}/events.parquet'
) TO '{dst}/events.parquet' (FORMAT PARQUET)
""")
    con.sql(f"""
COPY (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
    CASE WHEN o_orderkey % 61 = 0 THEN NULL
         ELSE o_orderpriority END AS o_orderpriority
  FROM '{sf_dir}/orders.parquet'
) TO '{dst}/orders.parquet' (FORMAT PARQUET)
""")
    con.close()
    return dst


@pytest.mark.parametrize("name", EVENT_QUERIES)
def test_parity_with_null_event_fields(name, spark, null_events_sf_dir):
    res = compare_query(name, spark, null_events_sf_dir)
    assert res.ok, f"{name}: {res.detail}"


# ---------------------------------------------------------------------------
# Unicode robustness: accented Latin, German sharp-s, CJK, emoji, and
# regex metacharacters injected into document text must not break
# cross-engine parity of any tokenizing / hashing / regex operator.
#
# Known (documented) exclusion: Turkish dotted capital I (U+0130).
# Java's lower() applies the full Unicode case mapping
# (İ → 'i' + U+0307 combining dot above), while DuckDB's non-ICU
# simple mapping yields plain 'i' — the one codepoint class where the
# engines' lower() differ. Spark's behavior is the engine's spec;
# test_turkish_dotted_i_is_spark_deterministic pins it Spark-side.
# ---------------------------------------------------------------------------

UNICODE_QUERIES = [
    "q29_fingerprint",
    "q31_text_metrics",
    "q61_tfidf_top_terms",
    "q78_chunk_documents",
    "q84_pii_scrub",
    "q94_boilerplate_strip",
    "q106_span_removal",
    "q107_snapshot_diff",
    "q111_bm25_rank",
    # round-6 continuation: whitespace-token-level only (no per-char
    # ops), so astral codepoints ride inside tokens identically in
    # UTF-16 Spark and UTF-8 DuckDB; lower() injections here avoid
    # the documented Turkish-İ exclusion
    "q221_textrank_keywords",
    "q222_token_entropy_filter",
    # round-7: PMI/vocab-richness/FIM/Zipf are whitespace-token-level
    # only (unicode rides inside tokens; the FIM digest covers the
    # reassembled stream byte-for-byte in both engines)
    "q260_pmi_collocations",
    "q270_vocab_richness",
    "q271_fim_transform",
    "q272_zipf_fit",
    # round-8: novelty is whitespace-token-level 3-shingles — same
    # class as the q34/q178 shingle consumers
    "q283_ngram_novelty",
]


@pytest.fixture(scope="module")
def unicode_sf_dir(sf_dir, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("sf_unicode"))
    for f in os.listdir(sf_dir):
        if f != "documents.parquet":
            shutil.copy(os.path.join(sf_dir, f), os.path.join(dst, f))
    con = duckdb.connect()
    sql = """
COPY (
  SELECT doc_id,
    CASE WHEN doc_id % 11 = 0 THEN text || ' für straße ÄÖÜ émigré 東京 🙂 a b x y'
         WHEN doc_id % 13 = 0 THEN 'ß über çöl ' || text
         WHEN doc_id % 17 = 0 THEN text || ' a.b (c) [d] {e} x*y z+w q?r'
         ELSE text END AS text,
    lang, source, n_chars
  FROM 'SRC/documents.parquet'
) TO 'DST/documents.parquet' (FORMAT PARQUET)
""".replace("SRC", sf_dir).replace("DST", dst)
    con.sql(sql)
    con.close()
    return dst


@pytest.mark.parametrize("name", UNICODE_QUERIES)
def test_parity_with_unicode_text(name, spark, unicode_sf_dir):
    res = compare_query(name, spark, unicode_sf_dir)
    assert res.ok, f"{name}: {res.detail}"


def test_turkish_dotted_i_is_spark_deterministic(spark):
    """The excluded codepoint: Spark's lower('İ') is the full case
    mapping ('i' + combining dot above) — stable run to run, so
    hashes/dedup stay deterministic WITHIN the engine even though a
    non-ICU DuckDB disagrees."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("İstanbul İZMİR",)], "t string")
    out = df.select(F.lower("t").alias("lo"), F.md5(F.lower("t")).alias("h"))
    row1 = out.first()
    assert row1["lo"] == "i̇stanbul i̇zmi̇r"
    assert out.first()["h"] == row1["h"]


# ---------------------------------------------------------------------------
# Degenerate embeddings: all-zero vectors (cosine's norm division hits
# 0/0 → NaN) and denormal-range values must keep cross-engine parity —
# NaN similarities fail every threshold/rank cut identically.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def degenerate_emb_sf_dir(sf_dir, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("sf_emb"))
    for f in os.listdir(sf_dir):
        if f != "embeddings.parquet":
            shutil.copy(os.path.join(sf_dir, f), os.path.join(dst, f))
    con = duckdb.connect()
    con.sql("""
COPY (
  SELECT vec_id,
    CASE WHEN vec_id % 97 = 0
         THEN CAST(list_transform(embedding, x -> CAST(0.0 AS FLOAT)) AS FLOAT[])
         WHEN vec_id % 89 = 0
         THEN CAST(list_transform(embedding, x -> CAST(x * 1e-20 AS FLOAT)) AS FLOAT[])
         ELSE embedding END AS embedding,
    label
  FROM 'SRC/embeddings.parquet'
) TO 'DST/embeddings.parquet' (FORMAT PARQUET)
""".replace("SRC", sf_dir).replace("DST", dst))
    con.close()
    return dst


@pytest.mark.parametrize(
    "name", ["q38_cosine_topk", "q41_embedding_dup_pairs"]
)
def test_parity_with_degenerate_embeddings(name, spark, degenerate_emb_sf_dir):
    res = compare_query(name, spark, degenerate_emb_sf_dir)
    assert res.ok, f"{name}: {res.detail}"


# ---------------------------------------------------------------------------
# Heavy key skew: routing HALF of all events to one user must not
# change any answer (AQE may re-plan; results are plan-invariant) —
# sessionization, retention, and the skew report itself hold parity.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def skewed_sf_dir(sf_dir, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("sf_skew"))
    for f in os.listdir(sf_dir):
        if f != "events.parquet":
            shutil.copy(os.path.join(sf_dir, f), os.path.join(dst, f))
    con = duckdb.connect()
    con.sql("""
COPY (
  SELECT event_id, ts,
    CASE WHEN event_id % 2 = 0 THEN 7 ELSE user_id END AS user_id,
    event_type, value, props
  FROM 'SRC/events.parquet'
) TO 'DST/events.parquet' (FORMAT PARQUET)
""".replace("SRC", sf_dir).replace("DST", dst))
    con.close()
    return dst


@pytest.mark.parametrize(
    "name",
    ["q110_key_skew_report", "q24_sessionization", "q115_retention_cohorts"],
)
def test_parity_under_heavy_key_skew(name, spark, skewed_sf_dir):
    res = compare_query(name, spark, skewed_sf_dir)
    assert res.ok, f"{name}: {res.detail}"


def test_pandas_route_matches_jvm_route_on_degenerate_embeddings(
    spark, degenerate_emb_sf_dir
):
    """q40 (Arrow/numpy route) returns q38's rows (JVM route): vec_id
    0, one of the ten queries, is all-zero, so every one of its sims
    is NULL on both routes, and the tiny vectors score as usual."""
    from car_insurance_data_pipeline_spark_spark.plans.catalog import specs

    def rows(name):
        df = specs()[name].fn(spark, degenerate_emb_sf_dir)
        return sorted((r.qid, r.rn, r.cid, r.sim) for r in df.collect())

    jvm = rows("q38_cosine_topk")
    assert rows("q40_cosine_topk_pandas") == jvm
    assert [r[3] for r in jvm if r[0] == 0] == [None] * 5
