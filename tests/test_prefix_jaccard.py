"""Prefix-filtered exact Jaccard (All-Pairs/PPJoin family): lossless
vs brute force, equality with the df-cut miner where the cut doesn't
fire, and the boilerplate regime where the df-cut LOSES pairs but the
prefix filter cannot."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F


def brute_pairs(texts: dict[int, str], k: int, t: float):
    def sh(s):
        w = s.lower().strip().split()
        return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}

    sets = {i: sh(x) for i, x in texts.items()}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and inter / union >= t:
            out[(a, b)] = inter / union
    return out


def test_equals_exact_miner_on_fixture(spark):
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        jaccard_pairs,
        prefix_jaccard_pairs,
    )
    from car_insurance_data_pipeline_spark_spark.sources.readers import read_table

    d = read_table(spark, "/root/testdata/sf0.001", "documents")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(
            d, "doc_id", "text", k=3, threshold=0.3, max_postings=None
        ).collect()
    }
    mine = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_jaccard_pairs(
            d, "doc_id", "text", k=3, threshold=0.3
        ).collect()
    }
    assert mine == exact


def _boilerplate_corpus(spark):
    # every doc shares a long legal header (ubiquitous shingles);
    # pairs (2i, 2i+1) are planted near-dups that overlap ONLY in
    # the header plus their unique tail
    header = "this document is provided as is without warranty of any kind "
    rows = []
    for i in range(30):
        tail = f"unique tail {i} alpha beta gamma delta epsilon zeta"
        rows.append((2 * i, header + tail))
        rows.append((2 * i + 1, header + tail + " extra"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_boilerplate_dfcut_loses_prefix_filter_does_not(spark):
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        jaccard_pairs,
        prefix_jaccard_pairs,
    )

    d = _boilerplate_corpus(spark)
    texts = {r.doc_id: r.text for r in d.collect()}
    truth = brute_pairs(texts, 3, 0.5)
    # df-cut at 10: header shingles (shared by all 60 docs) are
    # dropped AND so is most of the planted overlap -> pairs lost
    cut = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(
            d, "doc_id", "text", k=3, threshold=0.5, max_postings=10
        ).collect()
    }
    assert len(cut) < len(truth)
    # prefix filter: exact, regardless of boilerplate
    mine = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in prefix_jaccard_pairs(
            d, "doc_id", "text", k=3, threshold=0.5
        ).collect()
    }
    assert set(mine) == set(truth)
    for p, j in mine.items():
        assert abs(j - truth[p]) < 1e-9


def test_prefix_postings_stay_small_under_boilerplate(spark):
    """The scale claim: prefix tokens are the RAREST shingles, so a
    ubiquitous header never enters candidate generation WHEN unique
    content fills the prefix (prefix length is (1-t)·n + 1 — a doc
    more than (1-t) boilerplate necessarily promotes some header
    shingles, which is the inherent PPJoin bound, not a defect; the
    df-cut-loses test above covers that regime). Here tails are long
    enough that every prefix is pure-unique: the densest PREFIX
    posting stays at the planted-pair size of 2 while the densest
    FULL posting is the whole corpus."""
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        _ratio,
        _shingle_hashes,
    )
    from pyspark.sql import Window

    header = "this document is provided as is without warranty of any kind "
    rows = []
    for i in range(30):
        tail = " ".join(f"w{i}x{j}" for j in range(24))
        rows.append((2 * i, header + tail))
        rows.append((2 * i + 1, header + tail + " extra"))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sh = _shingle_hashes(d, "doc_id", "text", 3, distinct=True)
    full_max = (
        sh.groupBy("s").count().agg(F.max("count")).collect()[0][0]
    )
    t_num, t_den = _ratio(0.5)
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    ranked = (
        sh.join(dfreq, "s")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "s")
            ),
        )
        .join(sizes, "doc_id")
        .filter(
            F.col("rn")
            <= F.col("n") - F.expr("(1 * n + 2 - 1) div 2") + 1
        )
    )
    prefix_max = (
        ranked.groupBy("s").count().agg(F.max("count")).collect()[0][0]
    )
    assert full_max == 60  # header shingles hit every doc
    assert prefix_max <= 2  # only the planted pair shares a prefix token


def test_hot_prefix_token_skew_corpus(spark):
    """Round-6 de-skew regression (r5 verdict #3): on a corpus where
    one prefix token is shared by EVERY doc (all docs are near-dups
    of one template, so their rarest shingle is the same), candidate
    generation must still be exact — and must not route through a
    collect_set posting array, which would pin the |ids|^2 expansion
    on the single task owning that one row. The plan assertion locks
    the self-join form in."""
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    # 40 docs, all sharing one long template with a tiny unique
    # suffix: every doc's shingle set is ~the template's, so the
    # global df-order makes the SAME tokens rarest for everyone and
    # prefixes collide corpus-wide (the adversarial case for the
    # posting-array form).
    template = " ".join(f"tok{j}" for j in range(30))
    rows = [(i, template + f" tail{i}") for i in range(40)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    texts = {r.doc_id: r.text for r in d.collect()}
    truth = brute_pairs(texts, 3, 0.8)
    assert len(truth) > 100  # saturated: most pairs qualify
    result = prefix_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.8)
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan
    mine = {(r.doc_a, r.doc_b): round(r.jaccard, 9) for r in result.collect()}
    assert set(mine) == set(truth)
    for p, j in mine.items():
        assert abs(j - truth[p]) < 1e-9


def test_ratio_exact():
    from car_insurance_data_pipeline_spark_spark.operators.dedup import _ratio

    assert _ratio(0.3) == (3, 10)
    assert _ratio(0.5) == (1, 2)
    assert _ratio(0.25) == (1, 4)


def test_near_dup_dispatch_routes_and_agrees(spark, monkeypatch):
    """Round-11 cost dispatch (the wedge-dispatch template applied
    to the text family): explicit routes run their named paths;
    auto MEASURES the prefix-candidate volume and routes under /
    over the budget; and on a corpus with planted EXACT duplicates
    both routes surface every planted pair (J=1.0 collides in every
    LSH band — the q72 oracle argument), with identical values."""
    from car_insurance_data_pipeline_spark_spark.operators import dedup
    from car_insurance_data_pipeline_spark_spark.operators.dedup import (
        count_prefix_candidates,
        near_dup_pairs,
    )
    from car_insurance_data_pipeline_spark_spark.sources.readers import read_table

    d = read_table(spark, "/root/testdata/sf0.001", "documents")
    # plant exact duplicates: every 10th doc re-inserted under
    # doc_id + 1e6 (the q72 pattern)
    planted = d.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    corpus = d.select("doc_id", "text").unionByName(
        planted.select("doc_id", "text")
    )
    expected_planted = {
        (int(r.doc_id), int(r.doc_id) + 1_000_000)
        for r in d.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
        .collect()
    }

    def rows(res):
        return {
            (r.doc_a, r.doc_b): round(r.jaccard, 9) for r in res.collect()
        }

    exact = rows(
        near_dup_pairs(corpus, "doc_id", "text", threshold=0.5,
                       dispatch="exact")
    )
    sketch = rows(
        near_dup_pairs(corpus, "doc_id", "text", threshold=0.5,
                       dispatch="sketch")
    )
    # every planted pair in both routes, at J exactly 1.0
    for pair in expected_planted:
        assert exact.get(pair) == 1.0, f"exact route missed {pair}"
        assert sketch.get(pair) == 1.0, f"sketch route missed {pair}"
    # the sketch is a verified SUBSET of the exact answer: every
    # emitted pair appears in the exact output with the same value
    for pair, j in sketch.items():
        assert exact.get(pair) == j, f"sketch emitted a wrong pair {pair}"

    n_cand = count_prefix_candidates(
        corpus, "doc_id", "text", threshold=0.5
    )
    assert n_cand > 0
    # auto under budget -> exact answer, identically
    monkeypatch.setattr(dedup, "CANDIDATE_BUDGET", n_cand)
    under = rows(
        near_dup_pairs(corpus, "doc_id", "text", threshold=0.5,
                       dispatch="auto")
    )
    assert under == exact
    # auto over budget -> the sketch route (recall still 1.0 on the
    # planted pairs; subset of exact)
    monkeypatch.setattr(dedup, "CANDIDATE_BUDGET", 0)
    over = rows(
        near_dup_pairs(corpus, "doc_id", "text", threshold=0.5,
                       dispatch="auto")
    )
    assert over == sketch
    with pytest.raises(ValueError):
        near_dup_pairs(corpus, "doc_id", "text", dispatch="nonsense")
