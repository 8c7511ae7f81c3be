"""LLM-pipeline catalog queries, part 3: PII scrubbing, incremental
corpus dedup, unigram-LM quality scoring, temperature-scaled mixture
sampling, quality-aware dedup survivors, and the composed
corpus-selection gate (q89). All north-star extensions (not in the
reference — no reference cite possible), all oracle-checked.

Cross-engine determinism notes specific to this module:

- Regexes avoid constructs where Java (Spark) and RE2 (DuckDB)
  disagree: no lookaround, no backreferences, plain greedy
  quantifiers over disjoint character classes — leftmost-first
  (Java) and leftmost-longest (RE2) coincide for every pattern here.
- DuckDB's regexp_replace replaces the FIRST match unless passed the
  'g' flag; Spark always replaces all. Every oracle passes 'g'.
- Scores that would naively be summed doubles (order-dependent, so
  never hash-stable) are reformulated over exact integer/decimal
  sums, divided once at the end: identical operands + IEEE division
  = bit-identical doubles in both engines. sqrt IS correctly rounded
  per IEEE-754 (unlike ln/exp), so sqrt-based weights are safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from car_insurance_data_pipeline_spark_spark.functions.text import (
    pii_scrub,
    tokens,
)
from car_insurance_data_pipeline_spark_spark.plans.catalog import query, table
from car_insurance_data_pipeline_spark_spark.session import checkpoint


@query(
    "q84_pii_scrub",
    oracle="""
WITH aug AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 3 > 0 THEN ' contact user'
         || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END
    || CASE WHEN doc_id % 2 = 0 THEN ' from 10.'
         || CAST(doc_id % 200 AS VARCHAR) || '.0.'
         || CAST(doc_id % 250 + 1 AS VARCHAR) ELSE '' END
    || CASE WHEN doc_id % 5 < 2 THEN ' or +1555'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0') ELSE '' END
    AS t
  FROM documents
), m1 AS (
  -- counts are taken at each masking step (email -> ip -> phone), so
  -- each count equals the tags of that type in the final masked text
  SELECT doc_id, t,
    regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}',
                   '[EMAIL]', 'g') AS t1
  FROM aug
), m2 AS (
  SELECT doc_id, t, t1,
    regexp_replace(t1, '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}',
                   '[IP]', 'g') AS t2
  FROM m1
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(t1, '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}')) AS INT) AS n_ips,
  CAST(len(regexp_extract_all(t2, '\\+\\d{10,12}')) AS INT) AS n_phones,
  md5(regexp_replace(t2, '\\+\\d{10,12}', '[PHONE]', 'g')) AS masked_md5
FROM m2
""",
)
def q84_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the scrub step every training-data
    pipeline runs before a corpus ships: count and mask emails, IPv4
    addresses, and phone numbers. The fixture corpus contains no PII,
    so the query first APPENDS deterministic synthetic PII derived
    from doc_id (varying per-modulus so zero-count docs exist too),
    then detects and masks it; the masked text's md5 is what the
    oracle value-checks, so a masking divergence of even one byte
    fails the gate. Columns: doc_id, n_emails, n_ips, n_phones,
    masked_md5.

    Scale: a narrow per-row map over the documents scan — no shuffle,
    no UDF (JVM regexp_count / regexp_replace, whole-stage codegen).
    Regex dialect notes in the module docstring.
    """
    d = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 3 > 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@mail.example.com"),
            ),
        ).otherwise(""),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 200).cast("string"),
                F.lit(".0."),
                (did % 250 + 1).cast("string"),
            ),
        ).otherwise(""),
        F.when(
            did % 5 < 2,
            F.concat(
                F.lit(" or +1555"),
                F.lpad((did % 10000).cast("string"), 7, "0"),
            ),
        ).otherwise(""),
    )
    base = d.select("doc_id", aug.alias("t"))
    counts, masked = pii_scrub("t")
    return base.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_ips"].alias("n_ips"),
        counts["n_phones"].alias("n_phones"),
        F.md5(masked).alias("masked_md5"),
    )


@query(
    "q85_incremental_dedup",
    oracle="""
WITH d AS (
  SELECT doc_id, text,
    CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT)
         % 10 AS INT) AS b
  FROM documents
), arr AS (
  SELECT doc_id, b, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM d
), sh AS (
  SELECT DISTINCT doc_id, b,
    md5(array_to_string(list_slice(a, i, i + 19), ' ')) AS h
  FROM arr, unnest(range(1, len(a) - 18)) AS r(i)
), vs_corpus AS (
  SELECT DISTINCT x.doc_id FROM sh x
  JOIN sh y ON x.h = y.h AND y.b < 8 WHERE x.b >= 8
), in_batch AS (
  SELECT DISTINCT x.doc_id FROM sh x
  JOIN sh y ON x.h = y.h AND y.b >= 8 AND y.doc_id < x.doc_id
  WHERE x.b >= 8
)
SELECT d.doc_id,
  CAST(CASE WHEN vc.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS dup_vs_corpus,
  CAST(CASE WHEN ib.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS dup_in_batch,
  CAST(CASE WHEN vc.doc_id IS NULL AND ib.doc_id IS NULL
       THEN 1 ELSE 0 END AS INT) AS accepted
FROM d
LEFT JOIN vs_corpus vc ON vc.doc_id = d.doc_id
LEFT JOIN in_batch ib ON ib.doc_id = d.doc_id
WHERE d.b >= 8
""",
)
def q85_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the admit-a-new-batch step of a
    continuously growing training corpus: a deterministic 80/20
    hash split stands in for (existing corpus, incoming batch); a
    batch document is rejected if it shares a verbatim 20-token span
    with the corpus (dup_vs_corpus) or with an EARLIER batch document
    (dup_in_batch, min-doc_id survivor). Columns: doc_id,
    dup_vs_corpus, dup_in_batch, accepted — one row per batch doc.

    Scale: see operators/dedup.py:incremental_span_dedup — the
    corpus span index is computed once (stored in practice), batch
    cost ∝ batch size, semi-joins keep output bounded. The operator
    takes ARBITRARY (corpus, batch) frames; this query feeds it the
    hash split so membership is oracle-checkable.
    """
    from car_insurance_data_pipeline_spark_spark.functions.sampling import (
        md5_bucket,
    )
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        incremental_span_dedup,
    )

    d = table(spark, sf_dir, "documents")
    dd = d.select(
        "doc_id", "text", md5_bucket("doc_id", hex_digits=4, mod=10).alias("b")
    )
    return incremental_span_dedup(
        dd.filter(F.col("b") < 8), dd.filter(F.col("b") >= 8), k=20
    )


@query(
    "q86_unigram_quality",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents WHERE trim(text) <> ''
), cnt AS (
  SELECT w, count(*) AS c FROM tok GROUP BY w
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cnt
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
    CAST(sum(c) AS BIGINT) AS sum_df
  FROM tok JOIN cnt USING (w) GROUP BY doc_id
)
SELECT doc_id, n_tokens, sum_df,
  ROUND(CAST(sum_df AS DOUBLE) / CAST(n_tokens * n_total AS DOUBLE), 9)
    AS avg_token_p,
  CAST(CASE WHEN CAST(sum_df AS DOUBLE) / CAST(n_tokens * n_total AS DOUBLE)
       < 0.033 THEN 1 ELSE 0 END AS INT) AS flagged
FROM per_doc CROSS JOIN tot
""",
)
def q86_unigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (CCNet-style perplexity filtering,
    arithmetic-mean form): train a unigram model on the corpus itself
    and score each document by its mean token probability — documents
    full of rare/noisy tokens score low and get flagged. The
    arithmetic mean over exact integer count sums is used instead of
    the textbook log-space geometric mean deliberately: ln() differs
    in last-ulp across libm implementations and summed doubles are
    partial-aggregation-order dependent, while integer sums are exact
    and one final IEEE division is bit-identical in both engines.
    Columns: doc_id, n_tokens, sum_df, avg_token_p, flagged.

    Scale: two shuffles (token counts; per-doc re-aggregation after
    the count join); the vocabulary frame stays distributed (no
    driver collect), the 1-row total is a broadcast cross join.
    Integer ranges: sum_df ~ corpus_tokens x doc_tokens and
    n_tokens x n_total both stay inside long range up to ~10^18
    (roughly a 100 TB corpus with 10^5-token docs; beyond that,
    swap the long products for decimal). Cross-engine hash parity
    needs only that both engines round the IDENTICAL long through
    the same IEEE long→double conversion and division — which they
    do regardless of whether the product exceeds 2^53.
    """
    d = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    tok = d.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("w")
    )
    # vocabulary counts feed two branches (the per-doc join and the
    # corpus total); checkpoint the (vocab-sized, small) frame so the
    # token explode + count agg runs once, not twice
    cnt = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .transform(checkpoint, eager=True)
    )
    tot = cnt.agg(F.sum("c").cast("long").alias("n_total"))
    per_doc = (
        tok.join(cnt, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.sum("c").cast("long").alias("sum_df"),
        )
    )
    p = F.col("sum_df").cast("double") / (
        F.col("n_tokens").cast("long") * F.col("n_total")
    ).cast("double")
    return per_doc.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        "sum_df",
        F.round(p, 9).alias("avg_token_p"),
        (p < 0.033).cast("int").alias("flagged"),
    )


@query(
    "q87_temperature_mixture",
    oracle="""
WITH g AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY lang
), t AS (
  SELECT CAST(sum(n) AS BIGINT) AS total,
    sum(CAST(sqrt(n) AS DECIMAL(28,12))) AS s
  FROM g
), p AS (
  SELECT lang,
    ROUND(LEAST(1.0, (0.5 * total * sqrt(n)) / (CAST(s AS DOUBLE) * n)), 6)
      AS p_keep
  FROM g CROSS JOIN t
)
SELECT d.doc_id, d.lang, p.p_keep
FROM documents d JOIN p ON p.lang = d.lang
WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) AS INT)
      / 16777216.0 < p.p_keep
""",
)
def q87_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (UNIMAX / multilingual-
    pretraining style): per-language keep probabilities are computed
    FROM the data — weight w_l ∝ n_l^0.5 (temperature alpha = 0.5
    upsamples tail languages), target half the corpus, p_l =
    min(1, 0.5·N·w_l / n_l) — then membership is the same
    deterministic md5-threshold coin as q75/q77, so the exact sample
    is oracle-checked. Unlike q77's fixed hand-set proportions, the
    thresholds here adapt to whatever distribution the corpus has.
    Columns: doc_id, lang, p_keep (kept rows only).

    Scale: one tiny per-language count agg (broadcast back), then a
    narrow filter over the scan — changing alpha or the target never
    reshuffles the corpus. Determinism: sqrt is IEEE-correctly-
    rounded (safe cross-engine, unlike ln); the weight-sum goes
    through an exact decimal accumulator; the final compare uses one
    rounded double in both engines.
    """
    d = table(spark, sf_dir, "documents")
    # per-language counts feed two branches (the weight-sum agg and
    # the keep-probability join); checkpointing the tiny frame means
    # ONE column-pruned pass over the corpus computes the counts
    g = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .transform(checkpoint, eager=True)
    )
    t = g.agg(
        F.sum("n").cast("long").alias("total"),
        F.sum(F.sqrt(F.col("n")).cast("decimal(28,12)")).alias("s"),
    )
    p_keep = F.round(
        F.least(
            F.lit(1.0),
            (F.lit(0.5) * F.col("total") * F.sqrt(F.col("n")))
            / (F.col("s").cast("double") * F.col("n")),
        ),
        6,
    )
    from car_insurance_data_pipeline_spark_spark.functions.sampling import (
        md5_uniform,
    )

    p = g.crossJoin(F.broadcast(t)).select("lang", p_keep.alias("p_keep"))
    return (
        d.join(F.broadcast(p), "lang")
        .filter(md5_uniform("doc_id") < F.col("p_keep"))
        .select("doc_id", "lang", "p_keep")
    )


@query(
    "q88_quality_survivors",
    oracle="""
WITH RECURSIVE arr AS (
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
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  JOIN ok ON ok.s = x.s
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.1
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) AS nodes(u)
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), comp AS (
  SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u
), labeled AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, d.n_chars
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, component, CAST(n_chars AS BIGINT) AS n_chars,
  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS is_survivor
FROM (
  SELECT doc_id, component, n_chars,
    row_number() OVER (
      PARTITION BY component ORDER BY n_chars DESC, doc_id
    ) AS rn
  FROM labeled
)
""",
)
def q88_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor selection: same near-dup clusters
    as q73 (jaccard k=3, j>=0.1 → connected components), but the
    survivor per cluster is the BEST document — argmax(n_chars), a
    keep-the-longest quality heuristic — rather than q73's min-id
    canonical. This is how production dedup actually chooses which
    copy to keep (quality score, not arbitrary id order); tie-break
    on doc_id keeps the window deterministic. Columns: doc_id,
    component, n_chars, is_survivor.

    Scale: adds one window over the component labels to q73's plan —
    partitioned by component (unbounded cardinality, no skew beyond
    cluster size, which the pair miner's df-cut already bounds).
    """
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        jaccard_pairs,
    )
    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        connected_components,
    )

    d = table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        d, "doc_id", "text", k=3, threshold=0.1, max_postings=1000
    )
    comp = connected_components(pairs, "doc_a", "doc_b")
    labeled = (
        d.select("doc_id", "n_chars")
        .join(comp, d["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
            "n_chars",
        )
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    return labeled.select(
        "doc_id",
        "component",
        "n_chars",
        (F.row_number().over(w) == 1).cast("int").alias("is_survivor"),
    )


@query(
    "q89_corpus_gate",
    oracle="""
WITH RECURSIVE arr AS (
  -- tokens() semantics: ''/NULL docs have an EMPTY token array, so
  -- they emit no shingles, no unigram tokens, and never inflate the
  -- corpus totals (unguarded split would give '' one phantom token)
  SELECT doc_id,
    CASE WHEN trim(lower(COALESCE(text, ''))) = ''
         THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS a
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS s
  FROM arr, unnest(range(1, len(a) - 1)) AS r(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), ok AS (
  SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000
), inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  JOIN ok ON ok.s = x.s
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.1
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) AS nodes(u)
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), comp AS (
  SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u
), surv AS (
  SELECT doc_id,
    CASE WHEN row_number() OVER (
      PARTITION BY component ORDER BY n_chars DESC, doc_id) = 1
    THEN 1 ELSE 0 END AS is_survivor
  FROM (
    SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
      d.n_chars
    FROM documents d LEFT JOIN comp c USING (doc_id))
), grams AS (
  SELECT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS s
  FROM arr, unnest(range(1, len(a) - 1)) AS r(i)
), rep AS (
  SELECT doc_id,
    1.0 - CAST(count(DISTINCT s) AS DOUBLE) / count(*) AS rep_ratio
  FROM grams GROUP BY doc_id
), tok AS (
  SELECT doc_id, unnest(a) AS w FROM arr WHERE len(a) > 0
), cnt AS (
  SELECT w, count(*) AS c FROM tok GROUP BY w
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cnt
), uni AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
    CAST(sum(c) AS DOUBLE)
      / CAST(count(*) * (SELECT n_total FROM tot) AS DOUBLE) AS avg_p
  FROM tok JOIN cnt USING (w) GROUP BY doc_id
)
SELECT d.doc_id,
  s.is_survivor AS dedup_ok,
  CAST(COALESCE(r.rep_ratio <= 0.2, TRUE) AS INT) AS rep_ok,
  CAST(COALESCE(u.avg_p >= 0.033, FALSE) AS INT) AS uni_ok,
  CAST(COALESCE(u.n_tokens BETWEEN 12 AND 4000, FALSE) AS INT) AS len_ok,
  CAST(s.is_survivor = 1
    AND COALESCE(r.rep_ratio <= 0.2, TRUE)
    AND COALESCE(u.avg_p >= 0.033, FALSE)
    AND COALESCE(u.n_tokens BETWEEN 12 AND 4000, FALSE) AS INT) AS accepted
FROM documents d
JOIN surv s USING (doc_id)
LEFT JOIN rep r USING (doc_id)
LEFT JOIN uni u USING (doc_id)
""",
)
def q89_corpus_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition: one accept/reject verdict per
    document, chaining the pipeline's independent filters the way a
    production corpus-selection gate does — near-dup survivor
    (q88's keep-longest clusters), repetition (q82, <= 0.2),
    unigram-LM likelihood (q86, >= 0.033), and token-length bounds.
    Columns: doc_id, dedup_ok, rep_ok, uni_ok, len_ok, accepted.
    Missing-score semantics are explicit: a doc with no 3-grams
    passes rep (nothing repeats), a doc with no tokens fails uni and
    length.

    Scale: each component keeps its own documented plan (the gate
    adds only doc_id equi-joins over doc-cardinality frames); the
    tokenization underlying rep/uni/len shares one scan per branch
    and the dedup branch is the same mining+CC as q73/q88. This is
    also the regression guard that the operators COMPOSE — column
    contracts meeting in one plan — not just pass alone.
    """
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        jaccard_pairs,
        positioned_shingles,
    )
    from car_insurance_data_pipeline_spark_spark.operators.graph import (
        connected_components,
    )

    d = table(spark, sf_dir, "documents")
    # dedup branch (q88 semantics)
    pairs = jaccard_pairs(
        d, "doc_id", "text", k=3, threshold=0.1, max_postings=1000
    )
    comp = connected_components(pairs, "doc_a", "doc_b")
    labeled = (
        d.select("doc_id", "n_chars")
        .join(comp, d["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
            "n_chars",
        )
    )
    wsurv = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    surv = labeled.select(
        "doc_id",
        (F.row_number().over(wsurv) == 1).cast("int").alias("dedup_ok"),
    )
    # repetition branch (q82 semantics)
    g = positioned_shingles(d, "doc_id", "text", 3)
    rep = g.groupBy("doc_id").agg(
        (
            1.0
            - F.count_distinct("s").cast("double") / F.count("*")
        ).alias("rep_ratio")
    )
    # unigram branch (q86 semantics)
    tok = d.filter(F.trim(F.col("text")) != "").select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("w")
    )
    cnt = checkpoint(
        tok.groupBy("w").agg(F.count("*").alias("c")), eager=True
    )
    tot = cnt.agg(F.sum("c").cast("long").alias("n_total"))
    uni = (
        tok.join(cnt, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.sum("c").cast("long").alias("sum_df"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("sum_df").cast("double")
                / (F.col("n_tokens").cast("long") * F.col("n_total")).cast(
                    "double"
                )
            ).alias("avg_p"),
        )
    )
    rep_ok = F.coalesce(F.col("rep_ratio") <= 0.2, F.lit(True))
    uni_ok = F.coalesce(F.col("avg_p") >= 0.033, F.lit(False))
    len_ok = F.coalesce(
        F.col("n_tokens").between(12, 4000), F.lit(False)
    )
    return (
        d.select("doc_id")
        .join(surv, "doc_id")
        .join(rep, "doc_id", "left")
        .join(uni, "doc_id", "left")
        .select(
            "doc_id",
            "dedup_ok",
            rep_ok.cast("int").alias("rep_ok"),
            uni_ok.cast("int").alias("uni_ok"),
            len_ok.cast("int").alias("len_ok"),
            (
                (F.col("dedup_ok") == 1) & rep_ok & uni_ok & len_ok
            ).cast("int").alias("accepted"),
        )
    )


@query(
    "q106_span_removal",
    oracle="""
WITH arr AS (
  -- tokens() maps blank/NULL text to an EMPTY array (not ['']) —
  -- the CASE mirrors that exactly
  SELECT doc_id,
    CASE WHEN trim(lower(COALESCE(text, ''))) = ''
         THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS a
  FROM documents
), sp AS (
  SELECT doc_id, CAST(i AS INT) AS sp,
    array_to_string(list_slice(a, i, i + 19), ' ') AS s
  FROM arr, unnest(range(1, len(a) - 18)) AS r(i)
), rep AS (
  SELECT s FROM (SELECT DISTINCT s, doc_id FROM sp)
  GROUP BY s HAVING count(*) >= 2
), starts AS (
  SELECT DISTINCT doc_id, sp FROM sp SEMI JOIN rep USING (s)
), tok AS (
  SELECT doc_id, CAST(i AS INT) AS p, a[i] AS w
  FROM arr, unnest(range(1, len(a) + 1)) AS r(i)
), marked AS (
  SELECT t.doc_id, t.p, t.w,
    CASE WHEN st.sp IS NULL THEN 0 ELSE 1 END AS stt
  FROM tok t LEFT JOIN starts st ON t.doc_id = st.doc_id AND t.p = st.sp
), cov AS (
  SELECT doc_id, p, w,
    MAX(stt) OVER (PARTITION BY doc_id ORDER BY p
      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS c
  FROM marked
), agg AS (
  SELECT doc_id,
    string_agg(CASE WHEN c = 0 THEN w END, ' ' ORDER BY p) AS kept,
    SUM(c) AS n_removed
  FROM cov GROUP BY doc_id
)
SELECT a.doc_id,
  COALESCE(g.kept, '') AS clean_text,
  CAST(len(a.a) AS BIGINT) AS n_tokens,
  CAST(COALESCE(g.n_removed, 0) AS BIGINT) AS n_removed
FROM arr a LEFT JOIN agg g USING (doc_id)
""",
)
def q106_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span removal (the ExactSubstr-deletion
    shape public dedup pipelines run after clustering): every token
    covered by a verbatim 20-token run occurring in >= 2 distinct
    documents is dropped; each document's residual prose is rejoined
    in order. Extends q83 — which only LABELS the documents sharing
    runs — to the actual rewrite. Columns: doc_id, clean_text,
    n_tokens, n_removed. The rewritten text is value-checked whole
    (like q84's masked text), not just counted.
    """
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        remove_shared_spans,
    )

    return remove_shared_spans(
        table(spark, sf_dir, "documents"), "doc_id", "text", k=20, min_docs=2
    )


@query(
    "q124_bpe_merge_pairs",
    oracle="""
WITH w AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents WHERE COALESCE(trim(text), '') != ''
), wc AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wn
  FROM w WHERE length(w) >= 2 GROUP BY w
), idx AS (
  -- range(1, n) is the half-open list [1, n) — unnest in the SELECT
  -- list is per-row lateral (the FROM-clause generate_series table
  -- function cannot take column arguments)
  SELECT w, wn, unnest(range(1, length(w))) AS i FROM wc
), p AS (
  SELECT substring(w, i, 1) AS left_sym,
         substring(w, i + 1, 1) AS right_sym, wn
  FROM idx
), a AS (
  SELECT left_sym, right_sym, CAST(SUM(wn) AS BIGINT) AS freq
  FROM p GROUP BY left_sym, right_sym
)
SELECT left_sym, right_sym, freq, CAST(rn AS INT) AS rank
FROM (
  SELECT left_sym, right_sym, freq,
    row_number() OVER (ORDER BY freq DESC, left_sym, right_sym) AS rn
  FROM a
) WHERE rn <= 50
""",
)
def q124_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-pair counting — the inner loop of byte-pair-encoding
    tokenizer training: corpus-weighted frequencies of ADJACENT
    symbol pairs at the character level (iteration zero of the merge
    loop), top-50 merge candidates ranked (freq desc, pair asc).

    The classic scale trick is built in: pairs are counted over the
    DEDUPLICATED word table weighted by word frequency, so the
    pair-explosion stage is bounded by |vocab| · max_word_len — not
    corpus size. A full BPE trainer re-runs this query after each
    merge over the re-segmented vocab; each iteration is this same
    bounded shape.

    Scale: two hash exchanges (word counts — high-cardinality
    uniform key; pair counts — ≤ |charset|² keys with map-side
    partial agg absorbing the skew) and one TakeOrdered top-50; the
    50-row rank window is single-partition by construction.
    """
    d = table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("wn"))
    )
    pairs = wc.select(
        "wn",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> struct(substring(w, i, 1) AS l,"
                "             substring(w, i + 1, 1) AS r))"
            )
        ).alias("p"),
    )
    agg = pairs.groupBy(
        F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym")
    ).agg(F.sum("wn").cast("bigint").alias("freq"))
    top = agg.orderBy(
        F.desc("freq"), "left_sym", "right_sym"
    ).limit(50)
    return top.select(
        "left_sym",
        "right_sym",
        "freq",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), "left_sym", "right_sym"))
        .cast("int")
        .alias("rank"),
    )


def _bpe_tokenize_oracle_sql(n_merges: int = 40) -> str:
    """Unrolled-SQL mirror of the FULL BPE train+apply loop (round-5
    upgrade of q132 from rows-only to oracle-bearing).

    Encoding trick: each word's current segmentation is a string of
    symbols joined by DOUBLE spaces, wrapped in single spaces
    (' l  o  w '). A merge of pair (l, r) is then a plain
    non-overlapping replace of ' l  r ' with ' lr ' — and because
    replace() scans left-to-right, consuming two symbols per match
    and resuming after the (space-terminated) replacement, it
    reproduces the trainer's greedy i+=2 merge loop EXACTLY,
    including self-overlapping pairs: ' a  a  a  a ' → ' aa  aa '
    (pairs 1+2 and 3+4 merge; the trainer does the same). Symbols
    never contain whitespace (words are split on \\s+), so matches
    are always symbol-aligned.

    Each of the ``n_merges`` unrolled iterations recounts adjacent
    pairs over the vocab (weighted by word count), picks the top
    pair (freq desc, then lexicographically smallest — the trainer's
    tie-break), guards the trainer's top_freq >= 2 stop as a no-op
    LEFT JOIN on an empty 1-row CTE, and rewrites the vocab. The
    final segmentation equals segment_word's rank-priority result
    because applying merges exhaustively in learned order is
    equivalent: a merge's pair can only contain symbols created by
    EARLIER merges, so later merges never create occurrences of
    earlier pairs. CTEs are MATERIALIZED so each iteration is
    computed once (inlined CTEs would recompute the chain
    exponentially)."""
    parts = [
        """WITH wsrc AS MATERIALIZED (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents
), wc AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wn FROM wsrc WHERE w != '' GROUP BY w
), w0 AS MATERIALIZED (
  SELECT w, wn,
    ' ' || array_to_string(regexp_split_to_array(w, ''), '  ') || ' ' AS s
  FROM wc
)"""
    ]
    prev = "w0"
    for i in range(1, n_merges + 1):
        parts.append(
            f""",
p{i} AS MATERIALIZED (
  SELECT a[i] AS l, a[i+1] AS r, CAST(SUM(wn) AS BIGINT) AS freq
  FROM (SELECT wn, string_split(trim(s), '  ') AS a FROM {prev}),
       unnest(range(1, len(a))) AS t(i)
  GROUP BY 1, 2
), b{i} AS MATERIALIZED (
  SELECT l, r FROM p{i} WHERE freq >= 2
  ORDER BY freq DESC, l, r LIMIT 1
), w{i} AS MATERIALIZED (
  SELECT w, wn,
    CASE WHEN b.l IS NOT NULL
      THEN replace(s, ' ' || b.l || '  ' || b.r || ' ',
                   ' ' || b.l || b.r || ' ')
      ELSE s END AS s
  FROM {prev} LEFT JOIN b{i} b ON TRUE
)"""
        )
        prev = f"w{i}"
    parts.append(
        f""",
wtok AS MATERIALIZED (
  SELECT w, CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS nt
  FROM {prev}
), dw AS (
  SELECT doc_id, n_chars,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents
), agg AS (
  SELECT d.doc_id, CAST(SUM(t.nt) AS BIGINT) AS n_tokens,
         MIN(d.n_chars) AS n_chars
  FROM dw d JOIN wtok t USING (w) WHERE d.w != ''
  GROUP BY d.doc_id
)
SELECT doc_id, n_tokens,
  CAST(FLOOR(n_tokens * 10000.0 / n_chars) AS BIGINT) AS tokens_per_char_bp
FROM agg"""
    )
    return "".join(parts)


@query("q132_bpe_tokenize", oracle=_bpe_tokenize_oracle_sql(40))
def q132_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 40-merge BPE table on the corpus word counts (q124 is
    one iteration of this loop under the oracle; the full loop runs
    in memory over the VOCAB-bounded word table, as production
    tokenizer trainers do) and tokenize every document with it —
    per-document token counts and compression ratio vs raw
    characters, in integer basis points for cross-run determinism.

    Oracle (round 5): the ENTIRE train+apply loop is mirrored in
    DuckDB as 40 unrolled merge iterations over a double-space
    symbol encoding — see _bpe_tokenize_oracle_sql. Determinism is
    exact, not tolerance-based: pair frequencies are integer sums,
    the tie-break is lexicographic, and the compression ratio is
    floor'd integer basis points (Spark's double→bigint cast
    truncates toward zero; FLOOR matches it for the non-negative
    ratios here).

    Scale: corpus touches Python nowhere except one Arrow batch per
    DISTINCT word; the word→tokens map broadcast-joins back and
    documents reassemble in-order JVM-side
    (operators/tokenizer.py docstring has the full story).
    """
    from car_insurance_data_pipeline_spark_spark.operators.tokenizer import (
        bpe_tokenize,
        train_bpe_from_corpus,
    )

    d = table(spark, sf_dir, "documents")
    merges = train_bpe_from_corpus(d, n_merges=40)
    toks = bpe_tokenize(d, merges)
    return (
        toks.join(d.select("doc_id", "n_chars"), "doc_id")
        .select(
            "doc_id",
            F.size("tokens").cast("bigint").alias("n_tokens"),
            (F.size("tokens") * F.lit(10000) / F.col("n_chars"))
            .cast("bigint")
            .alias("tokens_per_char_bp"),
        )
    )


@query(
    "q138_heavy_hitters",
    oracle="""
WITH w AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents
), ww AS (
  SELECT w FROM w WHERE w != ''
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ww
)
SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
FROM ww
GROUP BY w
HAVING COUNT(*) * 200 > (SELECT n FROM t)
""",
)
def q138_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token heavy hitters — every word carrying more than
    1/200th of the token stream, with its exact count (stop-word /
    boilerplate-token discovery; the key-skew primitive for any
    column). Runs as a Misra-Gries candidate sketch (≤199 counters
    per partition, so candidates are broadcast-sized at ANY corpus
    volume) closed by an exact count over the candidate superset —
    the sketch-prunes/exact-closes pattern of the bloom join and LSH
    dedup, which is what makes an approximate-sketch operator carry
    a hard oracle: the oracle is the brute-force query, and a
    candidate-set bug (a dropped true heavy hitter) hash-mismatches.

    Scale: the full token stream crosses one map-side-combined count
    (candidates only) and the MG map — no global word groupBy; the
    threshold compare is integer cross-multiplication (cnt·k > n)
    against an in-plan 1-row broadcast total, so the whole query is
    lazy end-to-end.
    """
    from car_insurance_data_pipeline_spark_spark.operators.frequent import (
        heavy_hitters,
    )

    d = table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("w")
    ).filter(F.col("w") != "")
    return heavy_hitters(words, "w", 200)


def _textrank_iter_sql(prev: str) -> str:
    return f"""
  SELECT node,
    CAST(150000000000 // (SELECT n FROM nn)
      + (17 * s) // 20 AS BIGINT) AS r
  FROM (
    SELECT e.dst AS node,
      CAST(SUM((p.r * e.cnt) // e.outw) AS BIGINT) AS s
    FROM ew e JOIN {prev} p ON p.node = e.src
    GROUP BY e.dst
  )
"""


@query(
    "q221_textrank_keywords",
    oracle=f"""
WITH arr AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents
), bg AS (
  SELECT a[i] AS w1, a[i+1] AS w2
  FROM arr, unnest(range(1, len(a))) AS r(i)
  WHERE a[i] <> a[i+1]
), und AS (
  SELECT LEAST(w1, w2) AS a, GREATEST(w1, w2) AS b,
    CAST(COUNT(*) AS BIGINT) AS cnt
  FROM bg GROUP BY 1, 2
), edges AS (
  SELECT a AS src, b AS dst, cnt FROM und
  UNION ALL
  SELECT b AS src, a AS dst, cnt FROM und
), ow AS (
  SELECT src, CAST(SUM(cnt) AS BIGINT) AS outw FROM edges GROUP BY src
), ew AS (
  SELECT e.src, e.dst, e.cnt, o.outw
  FROM edges e JOIN ow o ON o.src = e.src
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ow
), it0 AS (
  SELECT src AS node,
    CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS r
  FROM ow
), it1 AS ({_textrank_iter_sql("it0")}
), it2 AS ({_textrank_iter_sql("it1")}
), it3 AS ({_textrank_iter_sql("it2")})
SELECT node AS word, r AS rank_scaled
FROM it3 ORDER BY r DESC, word LIMIT 20
""",
)
def q221_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    weighted PageRank over the word co-occurrence graph — vertices
    are words, undirected edges join ADJACENT words weighted by
    corpus adjacency count, and three unrolled rank iterations pick
    the top-20 most central words. The whole loop runs in integer
    fixed point (total rank mass 10¹², damping 0.85 as the rational
    17/20, per-edge transfer (r·w) DIV out_weight), so every
    iteration is exact integer arithmetic — bit-deterministic across
    engines, partitionings, and reduce orders, with no float
    accumulation anywhere. Columns: word, rank_scaled.

    Determinism: all-integer updates; integer DIV only on
    non-negative operands (both engines floor identically there);
    the top-20 cutoff tie-breaks by word.

    Scale: the co-occurrence build is the q62 bigram shape (explode
    + one hash agg, map-side combined); the symmetrized weighted
    edge list localCheckpoints once and the three rank iterations
    are each ONE src-hash join + ONE dst-hash aggregate over it —
    the q113 Pregel shape with vocabulary-sized state. At 100 TB the
    vocabulary (not the corpus) bounds every frame after the first
    aggregate; a df-cut on edge weight (cnt ≥ k) is the standard
    knob if the long tail of hapax adjacencies ever dominates.
    """
    from car_insurance_data_pipeline_spark_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents")
    # one split per document, then an O(n) adjacent-pair transform —
    # word_shingles(k=2) re-slices per element and was 5x slower on
    # the single-partition local fixture; indices stay in bounds so
    # ANSI subscripting is safe (size >= 2 guarded first)
    ws = d.select(tokens(F.lower(F.col("text"))).alias("ws")).filter(
        F.size("ws") >= 2
    )
    pairs = (
        ws.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(ws[i-1] AS w1, ws[i] AS w2))"
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter(F.col("w1") != F.col("w2"))
    )
    # checkpoint the UNDIRECTED weighted pair table — it is the
    # expensive corpus aggregate, and the symmetrize-union plus the
    # out-weight rollup each consume it twice (un-checkpointed, the
    # tokenize+agg subtree executed 4x: 45 s -> 12 s at 10x data)
    und = (
        pairs.select(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .transform(checkpoint)
    )
    edges = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "cnt"
    ).unionByName(und.select(F.col("b").alias("src"), F.col("a").alias("dst"), "cnt"))
    ow = edges.groupBy("src").agg(F.sum("cnt").cast("bigint").alias("outw"))
    ew = edges.join(ow, "src").transform(checkpoint)
    # derive the node count from the CHECKPOINTED frame — deriving it
    # from `ow` would recompute the tokenize+aggregate subtree once
    # per broadcast consumer (caught at 8 parquet scans pre-fix)
    nn = ew.select("src").distinct().agg(F.count("*").cast("bigint").alias("n"))
    r = (
        ew.select("src")
        .distinct()
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("src").alias("node"),
            F.expr("CAST(1000000000000 DIV n AS BIGINT)").alias("r"),
        )
    )
    for _ in range(3):
        s = (
            ew.join(r, ew["src"] == r["node"])
            .select("dst", F.expr("(r * cnt) DIV outw").alias("t"))
            .groupBy("dst")
            .agg(F.sum("t").cast("bigint").alias("s"))
        )
        r = s.crossJoin(F.broadcast(nn)).select(
            F.col("dst").alias("node"),
            F.expr(
                "CAST(150000000000 DIV n + (17 * s) DIV 20 AS BIGINT)"
            ).alias("r"),
        )
    return (
        r.orderBy(F.col("r").desc(), "node")
        .limit(20)
        .select(F.col("node").alias("word"), F.col("r").alias("rank_scaled"))
    )


@query(
    "q283_ngram_novelty",
    oracle="""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents WHERE text IS NOT NULL
), sh AS (
  SELECT DISTINCT doc_id,
    md5(array_to_string(list_slice(a, i, i + 2), ' ')) AS h
  FROM arr, unnest(range(1, len(a) - 1)) AS r(i)
), df AS (
  SELECT h, CAST(COUNT(*) AS BIGINT) AS d FROM sh GROUP BY h
)
SELECT sh.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_shingles,
  CAST(SUM(CASE WHEN df.d <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
  CAST(SUM(CASE WHEN df.d <= 2 THEN 1 ELSE 0 END) * 1000000
    // COUNT(*) AS BIGINT) AS novelty_ppm
FROM sh JOIN df USING (h)
GROUP BY sh.doc_id
""",
)
def q283_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the memorization-risk /
    informativeness screen a training-data pipeline runs alongside
    dedup: the fraction of a document's distinct 3-grams that are
    RARE corpus-wide (document frequency <= 2). High novelty marks
    unique content worth keeping (or PII-risk worth auditing); low
    novelty marks template text that q94's boilerplate strip handles.
    The complement of q82's within-doc repetition and q173's
    benchmark contamination — this one scores against the corpus's
    own n-gram frequency table. Columns: doc_id, n_shingles, n_rare,
    novelty_ppm.

    Determinism: counts are exact integers over distinct
    (doc, shingle) rows; engines hash shingles differently (xxhash64
    vs md5) but only within-engine equality feeds the df table; the
    ppm is integer DIV on non-negative operands. NULL/empty docs
    shingle to zero rows in both engines and are absent from the
    output (the q34/q178 class, pinned in the NULL-robustness suite).

    Scale: the q34 substrate — one exchange to distinct (doc,
    shingle), one keyed df aggregate, one join back (ReuseExchange
    shares the distinct's exchange); per-doc rollup is the final
    exchange. No posting arrays, no pair expansion at all — novelty
    is strictly cheaper than any dedup miner.
    """
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        _shingle_hashes,
    )

    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sh = _shingle_hashes(d, "doc_id", "text", 3, distinct=True)
    df = sh.groupBy("s").agg(F.count("*").cast("bigint").alias("d"))
    return (
        sh.join(df, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("d") <= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_rare",
            F.expr(
                "CAST(n_rare * 1000000 DIV n_shingles AS BIGINT)"
            ).alias("novelty_ppm"),
        )
    )


@query(
    "q318_luhn_pan_audit",
    oracle="""
WITH aug AS (
  SELECT doc_id,
    text || CASE WHEN doc_id % 3 > 0 THEN ' card 4'
      || lpad(CAST(doc_id % 100000000 AS VARCHAR), 14, '0')
      || CAST(doc_id % 10 AS VARCHAR) ELSE '' END AS t
  FROM documents
), cand AS (
  SELECT doc_id, t,
    regexp_extract_all(t, '[0-9]{16}') AS pans
  FROM aug
), luhn AS (
  SELECT doc_id, t, pans,
    CASE WHEN len(pans) = 0 THEN NULL ELSE (
      SELECT SUM(CASE WHEN r.i % 2 = 1 THEN
          2 * (ascii(substr(pans[1], CAST(r.i AS INT), 1)) - 48)
          - CASE WHEN 2 * (ascii(substr(pans[1],
              CAST(r.i AS INT), 1)) - 48) > 9 THEN 9 ELSE 0 END
        ELSE ascii(substr(pans[1], CAST(r.i AS INT), 1)) - 48
        END)
      FROM unnest(range(1, 17)) AS r(i)
    ) END AS luhn_sum
  FROM cand
)
SELECT doc_id,
  CAST(len(pans) AS INT) AS n_candidates,
  CAST(CASE WHEN luhn_sum IS NOT NULL AND luhn_sum % 10 = 0
    THEN 1 ELSE 0 END AS INT) AS n_luhn_valid,
  md5(CASE WHEN luhn_sum IS NOT NULL AND luhn_sum % 10 = 0
    THEN replace(t, pans[1], '[PAN]') ELSE t END) AS masked_md5
FROM luhn
""",
)
def q318_luhn_pan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated card-number (PAN) audit — the DLP scan that
    separates q84's pattern matching from actual leakage: a 16-digit
    run is only PII if its Luhn mod-10 checksum validates (ISO/IEC
    7812; public standard), which is exactly how production DLP
    engines suppress false positives. The fixture corpus has no
    digits, so deterministic 16-digit candidates derived from doc_id
    are appended first (doc_id%3==0 docs get none; the data-driven
    check digit makes ~10% of candidates Luhn-valid) — then the scan
    extracts candidates, computes the doubled-digit checksum as an
    exact integer fold over the 16 positions, and masks ONLY
    validated numbers; the masked text's md5 is the value gate.
    Columns: doc_id, n_candidates, n_luhn_valid, masked_md5.

    Determinism: pure integer checksum arithmetic over ASCII
    digits; exact string replace; md5.

    Scale: narrow per-document map — regexp extract + a 16-step
    integer fold; no shuffle at all. A corpus-wide DLP sweep at
    100 TB is scan-bound by construction.
    """
    aug = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "text || CASE WHEN doc_id % 3 > 0 THEN ' card 4'"
            " || lpad(CAST(doc_id % 100000000 AS STRING), 14, '0')"
            " || CAST(doc_id % 10 AS STRING) ELSE '' END"
        ).alias("t"),
    )
    cand = aug.select(
        "doc_id",
        "t",
        F.expr("regexp_extract_all(t, '[0-9]{16}', 0)").alias("pans"),
    )
    luhn = cand.select(
        "doc_id",
        "t",
        "pans",
        F.expr(
            "CASE WHEN size(pans) = 0 THEN NULL ELSE"
            " aggregate(sequence(1, 16), 0, (acc, i) -> acc +"
            " CASE WHEN i % 2 = 1 THEN"
            " 2 * (ascii(substring(pans[0], i, 1)) - 48)"
            " - CASE WHEN 2 * (ascii(substring(pans[0], i, 1)) - 48)"
            " > 9 THEN 9 ELSE 0 END"
            " ELSE ascii(substring(pans[0], i, 1)) - 48 END)"
            " END"
        ).alias("luhn_sum"),
    )
    return luhn.select(
        "doc_id",
        F.expr("CAST(size(pans) AS INT)").alias("n_candidates"),
        F.expr(
            "CAST(CASE WHEN luhn_sum IS NOT NULL AND luhn_sum % 10 = 0"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("n_luhn_valid"),
        F.expr(
            "md5(CASE WHEN luhn_sum IS NOT NULL AND luhn_sum % 10 = 0"
            " THEN replace(t, pans[0], '[PAN]') ELSE t END)"
        ).alias("masked_md5"),
    )


# --------------------------------------------------------------------------
# q333: RAKE keyword extraction
# --------------------------------------------------------------------------


@query(
    "q333_rake_keywords",
    oracle="""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents
), tok AS (
  SELECT doc_id, i, a[i] AS w,
    CASE WHEN a[i] IN ('a', 'the') THEN 1 ELSE 0 END AS stop
  FROM arr, unnest(range(1, len(a) + 1)) AS r(i)
), ph AS (
  SELECT doc_id, w, stop,
    SUM(stop) OVER (PARTITION BY doc_id ORDER BY i) AS pid
  FROM tok
), words AS (
  SELECT doc_id, pid, w,
    CAST(COUNT(*) OVER (PARTITION BY doc_id, pid) AS BIGINT) AS plen
  FROM ph WHERE stop = 0
), wd AS (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq,
    CAST(SUM(plen) AS BIGINT) AS deg
  FROM words GROUP BY w
)
SELECT word, freq, deg,
  CAST(deg * 1000000 // freq AS BIGINT) AS score_ppm
FROM wd ORDER BY score_ppm DESC, word LIMIT 25
""",
)
def q333_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction, Rose et al. '10)
    word scores over the documents corpus — the cheap degree/
    frequency keyword ranker that needs no graph iteration (the
    one-shot alternative to q221's TextRank): split each document
    into candidate phrases at stopword boundaries ('a'/'the' in this
    corpus's vocabulary), then score each word by deg(w)/freq(w)
    where deg sums the lengths of every phrase containing the word —
    words that live in long multi-word phrases outrank words that
    appear alone. Top-25 by the exact ppm ratio. Columns: word,
    freq, deg, score_ppm.

    Determinism: integer deg/freq counts; non-negative floor ppm
    ratio; (score, word) unique order.

    Scale: tokenize+explode is a narrow map; the phrase-id cumsum
    and phrase-length windows partition BY DOCUMENT (millions of
    independent tiny windows); the word rollup is one partial-agg
    shuffle on the vocabulary key; top-25 is TakeOrdered. No joins.
    """
    from car_insurance_data_pipeline_spark_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(tokens(F.lower(F.trim(F.col("text"))))).alias("i", "w"),
    ).withColumn(
        "stop", F.when(F.col("w").isin("a", "the"), 1).otherwise(0)
    )
    ph = tok.select(
        "doc_id",
        "w",
        "stop",
        F.sum("stop")
        .over(Window.partitionBy("doc_id").orderBy("i"))
        .alias("pid"),
    )
    words = ph.filter(F.col("stop") == 0).select(
        "w",
        F.count("*")
        .over(Window.partitionBy("doc_id", "pid"))
        .cast("bigint")
        .alias("plen"),
    )
    wd = words.groupBy(F.col("w").alias("word")).agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    return (
        wd.select(
            "word",
            "freq",
            "deg",
            F.expr("CAST(deg * 1000000 DIV freq AS BIGINT)").alias(
                "score_ppm"
            ),
        )
        .orderBy(F.col("score_ppm").desc(), "word")
        .limit(25)
    )


# --------------------------------------------------------------------------
# q348: Good-Turing frequency estimates (unseen-mass + smoothed counts)
# --------------------------------------------------------------------------


@query(
    "q348_good_turing",
    oracle="""
WITH tok AS (
  SELECT w.w
  FROM documents d,
    unnest(regexp_split_to_array(trim(lower(d.text)), '\\s+'))
      AS w(w)
), wc AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS r FROM tok GROUP BY w
), freqfreq AS (
  SELECT r, CAST(COUNT(*) AS BIGINT) AS nr FROM wc GROUP BY r
), tot AS (
  SELECT CAST(SUM(r * nr) AS BIGINT) AS n,
    CAST(SUM(nr) AS BIGINT) AS vocab
  FROM freqfreq
)
SELECT f.r, f.nr,
  CAST((f.r + 1) * COALESCE(f2.nr, 0) * 1000000 // f.nr AS BIGINT)
    AS r_star_ppm,
  CAST(COALESCE(
    (SELECT nr FROM freqfreq WHERE r = 1), 0) * 1000000
    // tot.n AS BIGINT) AS p0_ppm,
  tot.n AS n_tokens, tot.vocab AS vocab
FROM freqfreq f
LEFT JOIN freqfreq f2 ON f2.r = f.r + 1, tot
ORDER BY f.r
""",
)
def q348_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency-of-frequency estimates over the corpus
    vocabulary — the language-modeling primitive behind Katz
    smoothing and the standard answer to "how much probability mass
    belongs to words we have NEVER seen": p₀ = N₁/N (the singleton
    share), and the smoothed count r* = (r+1)·N_{r+1}/N_r for every
    observed frequency r. A corpus whose p₀ is still high is
    under-sampled — the same diagnostic q270's vocabulary-richness
    curve reads, made probabilistic. Frequencies of frequencies are
    one double aggregation; r* is an exact cross-multiplied floor
    ppm (N_{r+1} missing → 0, the raw Good-Turing convention).
    Columns: r, nr, r_star_ppm, p0_ppm, n_tokens, vocab.

    Determinism: integer counts all the way; floor ppm ratios.

    Scale: tokenize (narrow map) → vocabulary hash-agg (the only
    corpus-sized exchange) → frequency-of-frequency agg on the
    |vocab| frame → self-join on the tiny |distinct r| table.
    """
    from car_insurance_data_pipeline_spark_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents")
    wc = (
        d.select(
            F.explode(tokens(F.lower(F.trim(F.col("text"))))).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("r"))
    )
    ff = wc.groupBy("r").agg(F.count("*").cast("bigint").alias("nr"))
    tot = ff.agg(
        F.sum(F.col("r") * F.col("nr")).cast("bigint").alias("n_tokens"),
        F.sum("nr").cast("bigint").alias("vocab"),
    )
    n1 = (
        ff.filter(F.col("r") == 1)
        .agg(F.coalesce(F.sum("nr"), F.lit(0)).cast("bigint").alias("n1"))
    )
    f2 = ff.select(
        (F.col("r") - 1).alias("r"), F.col("nr").alias("nr_next")
    )
    return (
        ff.join(f2, "r", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n1))
        .select(
            "r",
            "nr",
            F.expr(
                "CAST((r + 1) * COALESCE(nr_next, 0) * 1000000 DIV nr"
                " AS BIGINT)"
            ).alias("r_star_ppm"),
            F.expr("CAST(n1 * 1000000 DIV n_tokens AS BIGINT)").alias(
                "p0_ppm"
            ),
            "n_tokens",
            "vocab",
        )
        .orderBy("r")
    )


# --------------------------------------------------------------------------
# q349: capture-recapture estimate of undetected duplicates
# --------------------------------------------------------------------------


@query(
    "q349_dedup_capture_recapture",
    oracle="""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents
), pass_a AS (
  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
  FROM arr a JOIN arr b
    ON a.doc_id < b.doc_id
   AND a.a[1] || ' ' || a.a[2] = b.a[1] || ' ' || b.a[2]
), pass_b AS (
  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
  FROM arr a JOIN arr b
    ON a.doc_id < b.doc_id
   AND len(a.a) = len(b.a)
   AND a.a[len(a.a)] = b.a[len(b.a)]
), m AS (
  SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM pass_a) AS na,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM pass_b) AS nb,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM pass_a a
      JOIN pass_b b ON a.ida = b.ida AND a.idb = b.idb) AS nboth
)
SELECT na AS pass_a_pairs, nb AS pass_b_pairs, nboth AS overlap,
  CAST((na + 1) * (nb + 1) // (nboth + 1) - 1 AS BIGINT)
    AS chapman_estimate,
  CAST(CASE WHEN na > 0
    THEN nboth * 1000000 // na ELSE 0 END AS BIGINT)
    AS recall_b_given_a_ppm
FROM m
""",
)
def q349_dedup_capture_recapture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Capture-recapture (Chapman) estimate of the TRUE duplicate-
    pair population from two independent cheap dedup passes — the
    ecology estimator applied to the question every dedup pipeline
    owner actually faces: "my heuristics found 12k duplicate pairs;
    how many exist?" Pass A blocks on the leading bigram, pass B on
    (length, last token) — two deliberately weak, roughly
    independent signals; the Chapman estimator
    N̂ = (n_A+1)(n_B+1)/(m+1) − 1 (bias-corrected Lincoln-Petersen)
    then sizes the full population, and m/n_A doubles as pass B's
    recall proxy. Feeding N̂ against q35's MinHash-LSH yield says
    whether the production pass is actually catching the tail.
    Columns: pass_a_pairs, pass_b_pairs, overlap, chapman_estimate,
    recall_b_given_a_ppm.

    Determinism: integer pair counts; non-negative floor divisions.

    Scale: both passes are equality-key self-joins (blocking keys,
    never all-pairs); the overlap is a join on pair keys. The same
    estimator composes over q35/q36's candidate sets at 100 TB.
    """
    from car_insurance_data_pipeline_spark_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.lower(F.trim(F.col("text")))).alias("a")
    )
    keyed = d.select(
        "doc_id",
        F.concat_ws(" ", F.col("a")[0], F.col("a")[1]).alias("k_bigram"),
        F.concat_ws(
            "|",
            F.size("a").cast("string"),
            F.element_at(F.col("a"), -1),
        ).alias("k_tail"),
    )

    def pairs(df: DataFrame, key: str) -> DataFrame:
        a = df.select(F.col("doc_id").alias("ida"), F.col(key).alias("k"))
        b = df.select(F.col("doc_id").alias("idb"), F.col(key).alias("kb"))
        return (
            a.join(
                b,
                (F.col("k") == F.col("kb")) & (F.col("ida") < F.col("idb")),
            )
            .select("ida", "idb")
            .distinct()
        )

    # Each pass feeds BOTH its own count and the overlap join —
    # checkpoint the pair sets so the blocking self-joins run once
    # (lazy lineage re-ran them twice; 12.3 s -> measured drop at 30×).
    pa = pairs(keyed, "k_bigram").transform(checkpoint)
    pb = pairs(keyed, "k_tail").transform(checkpoint)
    na = pa.agg(F.count("*").cast("bigint").alias("na"))
    nb = pb.agg(F.count("*").cast("bigint").alias("nb"))
    nboth = pa.join(pb, ["ida", "idb"]).agg(
        F.count("*").cast("bigint").alias("nboth")
    )
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nboth))
        .select(
            F.col("na").alias("pass_a_pairs"),
            F.col("nb").alias("pass_b_pairs"),
            F.col("nboth").alias("overlap"),
            F.expr(
                "CAST((na + 1) * (nb + 1) DIV (nboth + 1) - 1 AS BIGINT)"
            ).alias("chapman_estimate"),
            F.expr(
                "CAST(CASE WHEN na > 0 THEN nboth * 1000000 DIV na"
                " ELSE 0 END AS BIGINT)"
            ).alias("recall_b_given_a_ppm"),
        )
    )


# --------------------------------------------------------------------------
# q350: TextTiling-style topic-boundary segmentation
# --------------------------------------------------------------------------


@query(
    "q350_texttiling_boundaries",
    oracle="""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
  FROM documents
), tok AS (
  SELECT doc_id, (i - 1) // 10 AS blk, a[i] AS w
  FROM arr, unnest(range(1, len(a) + 1)) AS r(i)
), bw AS (
  SELECT DISTINCT doc_id, blk, w FROM tok
), sizes AS (
  SELECT doc_id, blk, CAST(COUNT(*) AS BIGINT) AS sz
  FROM bw GROUP BY doc_id, blk
), inter AS (
  SELECT a.doc_id, a.blk,
    CAST(COUNT(*) AS BIGINT) AS ix
  FROM bw a JOIN bw b
    ON a.doc_id = b.doc_id AND b.blk = a.blk + 1 AND a.w = b.w
  GROUP BY a.doc_id, a.blk
), gaps AS (
  SELECT s1.doc_id, s1.blk AS gap_idx,
    1000000 - COALESCE(i.ix, 0) * 1000000
      // (s1.sz + s2.sz - COALESCE(i.ix, 0)) AS gap_ppm
  FROM sizes s1
  JOIN sizes s2 ON s2.doc_id = s1.doc_id AND s2.blk = s1.blk + 1
  LEFT JOIN inter i ON i.doc_id = s1.doc_id AND i.blk = s1.blk
), scored AS (
  SELECT doc_id, gap_idx, gap_ppm,
    LAG(gap_ppm) OVER w AS prev_g,
    LEAD(gap_ppm) OVER w AS next_g
  FROM gaps WINDOW w AS (PARTITION BY doc_id ORDER BY gap_idx)
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_gaps,
  CAST(MAX(gap_ppm) AS BIGINT) AS max_gap_ppm,
  CAST(SUM(CASE WHEN gap_ppm > COALESCE(prev_g, -1)
    AND gap_ppm >= COALESCE(next_g, -1)
    AND gap_ppm > 500000 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_boundaries
FROM scored GROUP BY doc_id ORDER BY doc_id
""",
)
def q350_texttiling_boundaries(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TextTiling-style topic-boundary detection per document
    (Hearst '97, with the cosine gap replaced by the exact-integer
    Jaccard gap): tokens tile into 10-token blocks, adjacent blocks
    compare as word SETS (gap = 1 − |A∩B|/|A∪B|, exact ppm), and a
    block boundary is a strict local maximum above 0.5 — the
    SEMANTIC chunker that complements q78's length-based chunking
    for RAG/packing pipelines (split where the vocabulary actually
    shifts, not at an arbitrary byte count). Columns: doc_id,
    n_gaps, max_gap_ppm, n_boundaries.

    Determinism: integer set sizes and intersections; floor ppm;
    strict-left/tied-right local-max rule with sentinel −1 at the
    edges.

    Scale: tokenize+explode narrow; the block-set dedup and the
    adjacent-block join key on (doc, block) — per-document locality,
    no corpus-sized shuffle beyond the rollup.
    """
    from car_insurance_data_pipeline_spark_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(tokens(F.lower(F.trim(F.col("text"))))).alias("i", "w"),
    ).select(
        "doc_id", F.expr("i DIV 10").alias("blk"), "w"
    )
    bw = tok.distinct()
    sizes = bw.groupBy("doc_id", "blk").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    b2 = bw.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("blk").alias("blk_b"),
        F.col("w").alias("w_b"),
    )
    inter = (
        bw.join(
            b2,
            (F.col("doc_id") == F.col("doc_id_b"))
            & (F.col("blk_b") == F.col("blk") + 1)
            & (F.col("w") == F.col("w_b")),
        )
        .groupBy("doc_id", "blk")
        .agg(F.count("*").cast("bigint").alias("ix"))
    )
    s2 = sizes.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("blk").alias("blk_2"),
        F.col("sz").alias("sz2"),
    )
    gaps = (
        sizes.join(
            s2,
            (F.col("doc_id") == F.col("doc_id_2"))
            & (F.col("blk_2") == F.col("blk") + 1),
        )
        .join(inter, ["doc_id", "blk"], "left")
        .select(
            "doc_id",
            F.col("blk").alias("gap_idx"),
            F.expr(
                "1000000 - COALESCE(ix, 0) * 1000000"
                " DIV (sz + sz2 - COALESCE(ix, 0))"
            ).alias("gap_ppm"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("gap_idx")
    scored = gaps.select(
        "doc_id",
        "gap_idx",
        "gap_ppm",
        F.lag("gap_ppm").over(w).alias("prev_g"),
        F.lead("gap_ppm").over(w).alias("next_g"),
    )
    is_b = (
        (F.col("gap_ppm") > F.coalesce(F.col("prev_g"), F.lit(-1)))
        & (F.col("gap_ppm") >= F.coalesce(F.col("next_g"), F.lit(-1)))
        & (F.col("gap_ppm") > 500000)
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_gaps"),
            F.max("gap_ppm").cast("bigint").alias("max_gap_ppm"),
            F.sum(F.when(is_b, 1).otherwise(0))
            .cast("bigint")
            .alias("n_boundaries"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q364: term burstiness (Church-Gale) over the corpus
# --------------------------------------------------------------------------


@query(
    "q364_term_burstiness",
    oracle="""
WITH tok AS (
  SELECT d.doc_id, w.w
  FROM documents d,
    unnest(regexp_split_to_array(trim(lower(d.text)), '\\s+'))
      AS w(w)
), tf AS (
  SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS f
  FROM tok GROUP BY w, doc_id
), nd AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
), m AS (
  SELECT w,
    CAST(COUNT(*) AS BIGINT) AS df,
    CAST(SUM(f) AS BIGINT) AS cf,
    CAST(SUM(f * f) AS BIGINT) AS cf2
  FROM tf GROUP BY w
)
SELECT w AS term, df, cf,
  CAST(cf * 1000000 // df AS BIGINT) AS burst_ppm,
  CAST((nd.n_docs * cf2 - cf * cf) * 1000000
    // (cf * nd.n_docs) AS BIGINT) AS vmr_ppm
FROM m, nd
ORDER BY burst_ppm DESC, term
LIMIT 15
""",
)
def q364_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness over the corpus — Church & Gale's observation
    that content words CLUMP (high per-document frequency where they
    appear at all) while function words spread evenly, measured two
    ways per term: burstiness B = cf/df (mean occurrences per
    containing document, the classic ratio) and the corpus-wide
    variance-to-mean ratio of the per-document counts (VMR > 1 ⇒
    over-dispersed vs Poisson — the signal that a unigram LM
    underestimates repeats and a retrieval TF curve should
    saturate). Top-15 by B. Both are exact integer
    cross-multiplications over (df, cf, Σf²). Columns: term, df,
    cf, burst_ppm, vmr_ppm.

    Determinism: integer counts; non-negative floor ppm (the VMR
    numerator n·Σf² − (Σf)² is a variance form over the zero-padded
    per-doc counts, ≥ 0); (burst, term) unique order.

    Scale: tokenize narrow; (term, doc) and term rollups are two
    partial-agg exchanges on bounded keys; top-15 is TakeOrdered.
    """
    from car_insurance_data_pipeline_spark_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(tokens(F.lower(F.trim(F.col("text"))))).alias("w"),
    )
    tf = tok.groupBy("w", "doc_id").agg(
        F.count("*").cast("bigint").alias("f")
    )
    nd = d.agg(F.count("*").cast("bigint").alias("n_docs"))
    m = tf.groupBy("w").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("f").cast("bigint").alias("cf"),
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("cf2"),
    )
    return (
        m.crossJoin(F.broadcast(nd))
        .select(
            F.col("w").alias("term"),
            "df",
            "cf",
            F.expr("CAST(cf * 1000000 DIV df AS BIGINT)").alias(
                "burst_ppm"
            ),
            F.expr(
                "CAST((n_docs * cf2 - cf * cf) * 1000000"
                " DIV (cf * n_docs) AS BIGINT)"
            ).alias("vmr_ppm"),
        )
        .orderBy(F.col("burst_ppm").desc(), "term")
        .limit(15)
    )
