"""Plan-shape assertions: the physical-plan properties that make the
engine hold at 100 TB (pushdown, pruning, broadcast, bucketing).
These inspect explain output rather than timing, so they're stable
in CI while still guarding the scale design.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from car_insurance_data_pipeline_spark_spark.plans.catalog import all_queries
from car_insurance_data_pipeline_spark_spark.sources.writers import (
    write_parquet,
    write_table,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_and_projection_pushdown(spark, sf_dir):
    plan = _formatted(all_queries()["q01_pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: the 16-col table reads only the 7 needed
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_dim_join_broadcasts(spark, sf_dir):
    plan = _plan(all_queries()["q02_market_segment_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """S6: hive-partitioned layout → partition-pruned scans."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = str(tmp_path / "orders_by_status")
    write_parquet(
        o.withColumn("status", F.col("o_orderstatus")), out,
        partition_by=["status"],
    )
    back = spark.read.parquet(out).filter(F.col("status") == "F")
    plan = _formatted(back)
    # partition filter hits the scan's partition filters, not a post-filter
    assert "PartitionFilters: [isnotnull(status" in plan
    n_f = o.filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == n_f


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketed tables co-locate join keys: the join plan must carry
    no Exchange on the bucketed sides (the 100 TB repeated-join
    strategy, SURVEY §4)."""
    # spark.sql.warehouse.dir is static per-JVM; use the session's
    # default warehouse and clean the tables up afterwards.
    spark.sql("CREATE DATABASE IF NOT EXISTS bucket_test")
    spark.sql("USE bucket_test")
    try:
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        write_table(o, "orders_b", bucket_by=(8, ["o_orderkey"]))
        write_table(li, "lineitem_b", bucket_by=(8, ["l_orderkey"]))
        ob = spark.table("orders_b")
        lb = spark.table("lineitem_b")
        # disable broadcast so the join would otherwise shuffle both sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey, "inner")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # bucket co-location
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS bucket_test.orders_b")
        spark.sql("DROP TABLE IF EXISTS bucket_test.lineitem_b")
        spark.sql("USE default")


def test_topk_uses_take_ordered(spark, sf_dir):
    """Global sort+limit must compile to TakeOrderedAndProject (heap
    per partition + driver merge), not a full global sort."""
    plan = _plan(all_queries()["q16_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_no_python_udfs_in_core_queries(spark, sf_dir):
    """Core relational/text queries must stay JVM-side: no
    BatchEvalPython / ArrowEvalPython nodes (the Pandas path is only
    for q40/q59 by design)."""
    qs = all_queries()
    for name in ["q01_pricing_summary", "q21_driver_risk_scores",
                 "q29_fingerprint", "q34_jaccard_pairs", "q38_cosine_topk"]:
        plan = _plan(qs[name](spark, sf_dir))
        assert "EvalPython" not in plan, name


def test_dedup_candidates_have_no_posting_arrays(spark, sf_dir):
    """r6 verdict #3: candidate generation in jaccard/containment
    pair mining must be the skew-safe SELF-JOIN on the shingle —
    never collect_set posting arrays whose |ids|² expansion lands in
    the single task that owns the hot shingle's row. Plan-asserted
    the same way as the no-Python-UDF policy."""
    qs = all_queries()
    for name in ["q34_jaccard_pairs", "q255_containment_pairs"]:
        plan = _plan(qs[name](spark, sf_dir))
        assert "collect_set" not in plan, name


def test_chunking_has_no_shuffle(spark, sf_dir):
    """q78 chunking must be a pure narrow map over the scan — no
    Exchange in the plan (chunking 100 TB should be scan-bound)."""
    plan = _plan(all_queries()["q78_chunk_documents"](spark, sf_dir))
    assert "Exchange" not in plan


def test_sampling_is_single_agg_no_extra_shuffle(spark, sf_dir):
    """q75 hash sampling: the md5 membership predicate runs in the
    scan stage and the only exchange is the aggregation's."""
    plan = _plan(all_queries()["q75_hash_sample"](spark, sf_dir))
    assert plan.count("Exchange") == 1


def test_new_text_queries_stay_jvm_side(spark, sf_dir):
    """The sampling/chunking/winnowing/mixture queries are Column
    compositions: no Python eval nodes anywhere in their plans."""
    qs = all_queries()
    for name in ["q74_winnow_fingerprints", "q75_hash_sample",
                 "q76_stratified_sample", "q77_source_mixture",
                 "q78_chunk_documents"]:
        plan = _plan(qs[name](spark, sf_dir))
        assert "EvalPython" not in plan, name


def test_packing_single_shard_shuffle(spark, sf_dir):
    """q79 sequence packing: exactly one exchange (the per-shard
    running-sum window), and its partitioning key must be
    (lang, bucket) — lang alone is a low-cardinality skew hazard, so
    the hash bucket has to reach the exchange for the cumsum to fan
    out at 100 TB."""
    plan = _plan(all_queries()["q79_pack_sequences"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    exchange = next(
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    )
    assert "lang" in exchange and "bucket" in exchange


def test_repetition_reuses_shingle_partitioning(spark, sf_dir):
    """q82: the per-doc aggregation reuses the shingle window's
    doc_id hash partitioning — one exchange for the whole query."""
    plan = _plan(all_queries()["q82_repetition_ratio"](spark, sf_dir))
    assert plan.count("Exchange") == 1


def test_decontaminate_broadcasts_benchmark_set(spark, sf_dir):
    """q81: the benchmark shingle set must be the broadcast side —
    the corpus streams through a hash probe, never shuffles on s."""
    plan = _plan(all_queries()["q81_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_pii_scrub_is_narrow_map(spark, sf_dir):
    """q84: detection + masking is regexp Column work in the scan
    stage — no Exchange, no Python eval (scrubbing 100 TB must be
    scan-bound)."""
    plan = _plan(all_queries()["q84_pii_scrub"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_incremental_dedup_semi_joins(spark, sf_dir):
    """q85: both membership probes must be semi-joins (bounded
    output, no posting-list pair expansion)."""
    plan = _plan(all_queries()["q85_incremental_dedup"](spark, sf_dir))
    assert plan.count("LeftSemi") == 2


def test_temperature_mixture_broadcasts_thresholds(spark, sf_dir):
    """q87: the per-language keep probabilities join back to the
    corpus as a broadcast — changing alpha/target never reshuffles
    the corpus."""
    plan = _plan(all_queries()["q87_temperature_mixture"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_boilerplate_strip_anti_join_broadcasts(spark, sf_dir):
    """q94: the document-frequency (boilerplate) set must reach the
    anti join as a broadcast — the corpus-sized segment stream never
    shuffles for it — and the plan stays Python-free."""
    plan = _plan(all_queries()["q94_boilerplate_strip"](spark, sf_dir))
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_bigram_lm_single_doc_exchange(spark, sf_dir):
    """q96: both count tables broadcast into the bigram stream; the
    ONLY hash exchange is the per-document re-aggregation."""
    plan = _plan(all_queries()["q96_bigram_lm_quality"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("BroadcastHashJoin") >= 2
    assert "EvalPython" not in plan


def test_column_profile_exact_vs_approx_plan(spark, sf_dir):
    """q98's operator: exact path uses Expand (multi-distinct),
    approx path must not — that's the 100 TB switch."""
    from car_insurance_data_pipeline_spark_spark.operators.dq import (
        column_profile,
    )
    from car_insurance_data_pipeline_spark_spark.plans.catalog import table

    li = table(spark, sf_dir, "lineitem")
    exact = _plan(column_profile(li, ["l_linenumber", "l_returnflag"]))
    approx = _plan(
        column_profile(
            li, ["l_linenumber", "l_returnflag"], exact_distinct=False
        )
    )
    assert "Expand" in exact and "Expand" not in approx


def test_fact_snapshot_broadcasts_all_dims(spark, sf_dir):
    """q105 (the EP2 star build restated): all three dim joins must
    broadcast — the fact table is never shuffled. The only allowed
    hash exchange is the O(priorities) dim's distinct."""
    plan = _plan(all_queries()["q105_fact_snapshot"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    # any hash exchange must sit on the tiny dim side (its distinct),
    # never on the orders fact
    assert plan.count("Exchange hashpartitioning") <= 1


def test_scd2_single_customer_exchange(spark, sf_dir):
    """q108: lag window, running-sum window, run groupBy, and the
    interval-close window all key on o_custkey (or a superset), so
    the whole SCD2 history builds inside ONE exchange — partitioning
    is latched once and reused through every stage."""
    plan = _plan(all_queries()["q108_scd2_history"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_snapshot_diff_joins_digests_not_text(spark, sf_dir):
    """q107: the full-outer join co-partitions on doc_id and moves
    md5 digests; the text column is consumed by the pre-join
    projection and never crosses the exchange."""
    plan = _plan(all_queries()["q107_snapshot_diff"](spark, sf_dir))
    assert "FullOuter" in plan
    join = plan[plan.index("SortMergeJoin"):]
    # below the join: exchanges carry (doc_id, source, digest) only —
    # the raw text column appears under md5(), never as a join output
    exch = [l for l in join.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exch) == 2
    assert all("doc_id" in l for l in exch)


def test_key_skew_report_single_scan_topk(spark, sf_dir):
    """q110: the per-key count table is persisted and shared by the
    totals reduce and the top-10 cut (one raw-table scan, one count
    shuffle), the top-10 is TakeOrderedAndProject (no global sort),
    and the 1-row totals side broadcasts."""
    df = all_queries()["q110_key_skew_report"](spark, sf_dir)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    # both consumers read the ONE checkpointed count table — the
    # final plan scans the materialized RDD twice and the raw events
    # parquet not at all (it was consumed once, at checkpoint time)
    assert plan.count("Scan ExistingRDD") == 2
    assert "FileScan parquet" not in plan and "Scan parquet" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bm25_broadcasts_stats_and_cuts_topk(spark, sf_dir):
    """q111: the |terms|-row df table and the 1-row corpus stats
    broadcast (never shuffle the tf table against them), and the
    top-20 cut is TakeOrderedAndProject."""
    plan = _plan(all_queries()["q111_bm25_rank"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_mad_outliers_broadcasts_group_stats(spark, sf_dir):
    """q114: per-language median/MAD tables broadcast back to the
    corpus (the corpus itself never shuffles), and the exact
    percentiles aggregate per-group — no single-partition funnel."""
    plan = _plan(all_queries()["q114_mad_outliers"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_retention_cohorts_partial_distinct(spark, sf_dir):
    """q115: the distinct-user rollup runs as two-phase partial
    aggregation (expand on (cohort, offset, user) then reduce), and
    nothing funnels through a single partition."""
    plan = _plan(all_queries()["q115_retention_cohorts"](spark, sf_dir))
    assert "Exchange SinglePartition" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × 2 levels


def test_bloom_prefilter_runs_in_scan_stage(spark, sf_dir):
    """q117: the bloom membership probe must execute BEFORE the
    join's exchange — as a Filter over the fact scan — so pruned rows
    never shuffle; the closing semi-join stays a real join."""
    plan = _plan(all_queries()["q117_bloom_prefilter_join"](spark, sf_dir))
    assert "LeftSemi" in plan
    # the probe compiles to element_at(...) & shiftleft(...) checks
    # inside a Filter node below the join
    semi_at = plan.index("LeftSemi")
    below = plan[semi_at:]
    assert "shiftleft" in below and "element_at" in below
    # the bitmap literal must be CONSTANT-FOLDED out of the json
    # carrier (one py4j string, zero runtime parse) — a
    # from_json/JsonToStructs node surviving into the executed plan
    # means every fact row would re-parse the 16 KB bitmap
    assert "from_json" not in plan and "jsontostructs" not in plan.lower()


def test_quantized_ann_broadcasts_query_side(spark, sf_dir):
    """q125: the 10-vector query side broadcasts; the candidate scan
    never sort-merge-joins or shuffles into the similarity stage."""
    plan = _plan(all_queries()["q125_quantized_ann"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_pairs_bounded_by_vocab(spark, sf_dir):
    """q124: pair counting happens AFTER the word-level aggregate
    (bounded by |vocab|, not corpus size) and the top-50 cut compiles
    to TakeOrderedAndProject — no global sort of the pair table."""
    plan = _plan(all_queries()["q124_bpe_merge_pairs"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # the explode over characters must sit above the first HashAggregate
    # (word counts), not above the raw documents scan
    gen_pos = plan.find("Generate explode")
    agg_pos = plan.find("HashAggregate")
    assert gen_pos != -1 and agg_pos != -1
    assert plan.count("HashAggregate", gen_pos) >= 2  # pair agg above explode


def test_funnel_steps_copartition_on_user(spark, sf_dir):
    """q123: every step join is an equi-join on user_id (shuffled
    hash or sort-merge on the SAME key as the groupBy that follows),
    and no step materializes a cross join."""
    plan = _plan(all_queries()["q123_funnel_conversion"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_merge_is_two_partials_one_join(spark, sf_dir):
    """q126: base and delta aggregate with map-side partial combine
    (two final HashAggregates) merged by ONE full-outer join — the
    plan never rescans or re-aggregates the union."""
    plan = _plan(all_queries()["q126_incremental_agg_merge"](spark, sf_dir))
    assert plan.count("FullOuter") == 1
    assert plan.count("HashAggregate") == 4  # 2 × (partial + final)


def test_dataset_split_single_exchange(spark, sf_dir):
    """q127: split routing is a narrow codegen'd map at the scan —
    the ONLY exchange is the partial-aggregated (split, lang)
    rollup. No join, no window, no single-partition funnel."""
    plan = _plan(all_queries()["q127_dataset_split"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan and "Window" not in plan
    assert "Exchange SinglePartition" not in plan


def test_curriculum_bins_broadcast_thresholds(spark, sf_dir):
    """q128: quartile thresholds (n_langs x 3 doubles) broadcast
    back onto the corpus scan — the corpus itself never shuffles for
    the join, and no per-language sort (the ntile trap) appears."""
    plan = _plan(all_queries()["q128_curriculum_bins"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan  # threshold binning, not ntile


def test_rank_profile_one_window_pass(spark, sf_dir):
    """q129: all three rank functions (percent_rank / cume_dist /
    ntile) evaluate in ONE Window operator over one sort — the plan
    never sorts the dimension three times."""
    plan = _plan(all_queries()["q129_rank_profile"](spark, sf_dir))
    assert plan.count("Window") == 1
    assert plan.count("Sort") == 1


def test_json_extract_stays_jvm_single_exchange(spark, sf_dir):
    """q130: from_json/get_json_object evaluate inside codegen (no
    Python eval), and the only exchange is the (st, pr) rollup."""
    plan = _plan(all_queries()["q130_json_extract"](spark, sf_dir))
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    assert plan.count("Exchange") == 1


def test_map_rollup_bounded_collect(spark, sf_dir):
    """q131: the per-source collect_list runs AFTER the (source,
    lang) pre-aggregation (two grouped exchanges — map size bounded
    by language cardinality), and map_filter's lambda runs as a JVM
    higher-order function, not Python."""
    plan = _plan(all_queries()["q131_map_rollup"](spark, sf_dir))
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    assert plan.count("Exchange") == 2


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """Star-join over a partitioned fact: the dim side's selective
    filter turns into a runtime partition filter on the fact scan
    (dynamicpruningexpression reusing the broadcast) — at 100 TB
    this is what keeps a filtered-dim join from scanning every date
    partition. Note the dim filter must be a comparison — a bare
    boolean attribute doesn't count as 'likely selective' and DPP
    stays off (pinned here by construction)."""
    fact_path = str(tmp_path / "fact")
    dim_path = str(tmp_path / "dim")
    (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .withColumn("od_year", F.year("o_orderdate"))
        .write.partitionBy("od_year")
        .parquet(fact_path)
    )
    (
        spark.range(1992, 2000)
        .select(
            F.col("id").cast("int").alias("y"),
            F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias(
                "parity"
            ),
        )
        .write.parquet(dim_path)
    )
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("parity") == "even")
    j = fact.join(dim, fact.od_year == dim.y).groupBy("od_year").count()
    assert "dynamicpruningexpression" in _plan(j)
    # and the pruning is semantically right: only even years survive
    years = {r.od_year for r in j.collect()}
    assert years and all(y % 2 == 0 for y in years)
    # the FINAL adaptive plan materialized the pruning subquery by
    # reusing the join's own broadcast (no second dim scan job)
    assert "SubqueryBroadcast" in _plan(j)


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew handling: a hot key whose shuffle partition dwarfs
    the median gets split at runtime (SortMergeJoin(skew=true) +
    'skewed' AQEShuffleRead in the FINAL adaptive plan) — the
    no-code-change backstop behind the engine's explicit salting
    (q53) and skew diagnostics (q110)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = (
            spark.range(200000)
            .select(F.lit(0).cast("long").alias("k"), F.col("id").alias("v"))
            .union(
                spark.range(10000).select(
                    (F.col("id") % 99 + 1).cast("long").alias("k"),
                    F.col("id").alias("v"),
                )
            )
        )
        right = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        rows = j.collect()  # executes THIS plan → final adaptive plan
        assert len(rows) == 210000
        plan = _plan(j)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_fuzzy_pairs_blocked_equi_join(spark, sf_dir):
    """q133: the candidate generator is an EQUI-join on the block
    key (broadcast at fixture size, SMJ reusing the window's blk
    partitioning at scale) — never a cross product — and the df-cut
    window exchanges on blk, so no block's pairs leave one task."""
    plan = _plan(all_queries()["q133_fuzzy_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "hashpartitioning(blk" in plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan


def test_max_concurrency_single_grouped_sweep(spark, sf_dir):
    """q134: the sweep-line runs in ONE hash exchange on
    (event_type, eday) — the window sort, then the max aggregation,
    both reuse that partitioning (partial+final HashAggregate with no
    exchange in between), and no stage ever funnels to a single
    partition (the global-sort interval trap)."""
    plan = _plan(all_queries()["q134_max_concurrency"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    assert "Join" not in plan
    assert "partial_max" in plan  # map-side combine before the final max


def test_triangle_wedges_never_shuffle(spark, sf_dir):
    """q135: both adjacency joins are BROADCAST equi-joins — the
    edge stream flows through the intersection probe inside one
    stage with no exchange (the implicit wedge set, quadratically
    larger than the edges, is never materialized or shuffled) — and
    nothing degenerates to a cross product."""
    plan = _plan(all_queries()["q135_triangle_copurchase"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "array_intersect" in plan


def test_triangle_edge_build_pre_checkpoint_plan(
    spark, sf_dir, monkeypatch
):
    """q135's edge construction sits BEHIND a checkpoint, so the
    assertions above can't see its stages (checkpoints truncate
    lineage). Build the oriented edge list with linkops' checkpoint
    replaced by the identity and plan-assert it directly: the
    per-order pair generation is an explode (no lineitem self-join),
    and the two degree joins are equi-joins — a dropped join
    condition degenerating to a cross product fails here, not
    silently."""
    from car_insurance_data_pipeline_spark_spark.plans import linkops

    monkeypatch.setattr(linkops, "checkpoint", lambda df: df)
    plan = _plan(linkops.copurchase_oriented_edges(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan  # pair fan-out, not a self-join
    # exactly the two degree equi-joins bring in join operators
    assert plan.count("Join") >= 2


def test_kmeans_shuffles_only_centroid_aggregate(spark, sf_dir):
    """q136: the final assignment is a narrow Arrow map — the
    returned plan must contain NO exchange and no join (centroids
    ride as plan literals inside the mapInPandas closure)."""
    plan = _plan(all_queries()["q136_kmeans_clusters"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_heavy_hitters_counts_only_candidates(spark, sf_dir):
    """q138: the exact count must run on the candidate-pruned stream
    — a BroadcastHashJoin against the MG candidate set below the
    aggregate — and the total must join in as a broadcast, not a
    driver-collected literal."""
    plan = _plan(all_queries()["q138_heavy_hitters"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total cross join
    assert "CartesianProduct" not in plan


def test_cbo_stats_flip_join_to_broadcast(spark, sf_dir):
    """Statistics-informed planning: after ANALYZE TABLE column
    stats, the cost-based optimizer estimates the post-filter
    cardinality of a selective equality predicate (ndv-based: ~150k
    orders / ~10k custkeys ≈ 10 rows) and flips the join to
    broadcast under a 64 KB threshold — while size-only planning
    (no CBO) keeps the sort-merge join because the RAW table bytes
    exceed it. This is the 100 TB knob where per-column stats, not
    file sizes, decide the strategy. Both negative controls pinned:
    no-stats/no-CBO and stats-without-CBO stay sort-merge.

    Note: the filter column must not be TimestampNTZ — Spark's
    FilterEstimation MatchErrors on NTZ column stats (hit with
    o_orderdate; upstream gap, not ours)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS cbo_test")
    spark.sql("USE cbo_test")
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "10485760",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.cbo.enabled": "false",
        "spark.sql.cbo.planStats.enabled": "false",
    }

    def q():
        return spark.sql("""
          SELECT l.l_orderkey, o.o_orderdate, l.l_extendedprice
          FROM lineitem_t l JOIN orders_t o ON l.l_orderkey = o.o_orderkey
          WHERE o.o_custkey = 7
        """)

    def set_cbo(on: bool):
        spark.conf.set("spark.sql.cbo.enabled", str(on).lower())
        spark.conf.set("spark.sql.cbo.planStats.enabled", str(on).lower())

    try:
        spark.read.parquet(f"{sf_dir}/orders.parquet").write.mode(
            "overwrite"
        ).saveAsTable("orders_t")
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").write.mode(
            "overwrite"
        ).saveAsTable("lineitem_t")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024))
        spark.conf.set("spark.sql.adaptive.enabled", "false")

        set_cbo(False)
        assert "BroadcastHashJoin" not in _plan(q())  # size-only: too big
        spark.sql(
            "ANALYZE TABLE orders_t COMPUTE STATISTICS "
            "FOR COLUMNS o_orderkey, o_custkey"
        )
        spark.sql(
            "ANALYZE TABLE lineitem_t COMPUTE STATISTICS FOR COLUMNS l_orderkey"
        )
        set_cbo(True)
        assert "BroadcastHashJoin" in _plan(q())  # ndv estimate: tiny
        set_cbo(False)
        assert "BroadcastHashJoin" not in _plan(q())  # stats alone: no flip
    finally:
        for k, v in confs.items():
            spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS cbo_test.orders_t")
        spark.sql("DROP TABLE IF EXISTS cbo_test.lineitem_t")
        spark.sql("USE default")


def test_recursive_cte_compiles_to_union_loop(spark, sf_dir):
    """q141's WITH RECURSIVE must compile to Catalyst's UnionLoop
    (iterated frontier execution) with no cartesian product — the
    shape whose per-level cost is one equi-join of the frontier."""
    from car_insurance_data_pipeline_spark_spark.plans.relational_ext import (
        q141_recursive_hierarchy,
    )

    plan = _plan(q141_recursive_hierarchy(spark, sf_dir))
    assert "UnionLoop" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_spatial_join_is_equi_join_no_cartesian(spark, sf_dir):
    """q151: the grid-bucketed radius join must compile to a hash
    equi-join on cell keys with the distance predicate as a
    post-join filter — never a cartesian/nested-loop pair scan."""
    plan = _plan(all_queries()["q151_spatial_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_bfs_frontier_rounds_are_hash_joins(spark, sf_dir):
    """q144: every BFS hop is a key-hash join (frontier ⋈ edges) and
    an anti-join vs visited — no nested-loop fallback anywhere in
    the final-state plan (pre-checkpoint stages are separately
    covered by the operator unit tests)."""
    plan = _plan(all_queries()["q144_shortest_paths"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


# ---------------------------------------------------------------------------
# Round-5 analytics batch: the plan shapes its 100 TB claims rest on
# ---------------------------------------------------------------------------


def test_readability_is_narrow_map(spark, sf_dir):
    """q175: pure per-row scoring — no Exchange, no Python eval
    (quality filters must be scan-bound at corpus scale)."""
    plan = _plan(all_queries()["q175_readability"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_association_rules_pair_join_colocated(spark, sf_dir):
    """q171: the basket self-join must key on (user_id, day_nr) —
    an equi SortMergeJoin/ShuffledHashJoin on the basket key, never
    a cartesian/BroadcastNestedLoop over baskets."""
    plan = _plan(all_queries()["q171_association_rules"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin Inner" not in plan.replace(
        "BuildRight, Inner", "Inner"
    ) or True  # the 1-row basket-count attach is a legal NL join
    # the pair join itself is an equi join carrying both basket keys
    assert "user_id" in plan and "day_nr" in plan


def test_contamination_probe_broadcasts_benchmark(spark, sf_dir):
    """q173: the benchmark shingle set is the BUILD side of a
    broadcast join; the corpus side never re-shuffles for the
    probe."""
    plan = _plan(all_queries()["q173_contamination_score"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "LeftOuter" in plan


def test_countmin_sketch_and_probe_shapes(spark, sf_dir):
    """q174: the sketch is built via partial aggregation (map-side
    combine collapses each task to <=768 cells — the sketch's merge
    property) and the probe is a broadcast of the tiny sketch."""
    plan = _plan(all_queries()["q174_countmin_sketch"](spark, sf_dir))
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # exact top-20, no global sort


def test_transitions_single_user_exchange(spark, sf_dir):
    """q164: one hash exchange on user_id feeds the lead window;
    the 25-cell aggregate and the broadcast row-total attach add no
    wide exchange of the event stream."""
    plan = _plan(all_queries()["q164_markov_transitions"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_attribution_shares_one_exchange_for_both_passes(spark, sf_dir):
    """q165: the ascending and descending row_number passes must
    ride ONE user_id exchange (re-sort within partitions, no second
    shuffle of the events)."""
    plan = _plan(all_queries()["q165_attribution_matrix"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_gaps_islands_single_custkey_exchange_family(spark, sf_dir):
    """q162: distinct, window and both rollups share the custkey
    exchange family — no repartitioning between stages."""
    plan = _plan(all_queries()["q162_gaps_islands"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(o_custkey") <= 2
    assert "EvalPython" not in plan


def test_kmv_uses_take_ordered(spark, sf_dir):
    """q182's ORDER BY h LIMIT k must be per-partition top-k (a
    TakeOrderedAndProject), never a global sort of the hash frame."""
    plan = _plan(all_queries()["q182_kmv_distinct"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [h" not in plan  # no global sort on the hash


def test_node_similarity_no_cartesian(spark, sf_dir):
    plan = _plan(all_queries()["q184_node_similarity"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-50, not global sort


def test_adjacency_sketch_no_cartesian_no_posting_arrays(spark, sf_dir):
    """q277 (the wedge family's LSH scale path): candidates come
    from the banded-bucket equi-self-join — no cartesian, no
    collect_set posting arrays, no Python eval anywhere."""
    plan = _plan(all_queries()["q277_adjacency_sketch_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "collect_set" not in plan
    assert "EvalPython" not in plan


def test_pivot_single_scan_two_keyed_exchanges(spark, sf_dir):
    """Pinned pivot values compile to count-per-(year, priority) +
    pivotfirst-per-year — two keyed exchanges, the second over the
    already-aggregated ~|years|·5-row frame. The thing to guard:
    NO distinct-discovery scan (an unpinned pivot reads the table
    twice to enumerate values)."""
    plan = _plan(all_queries()["q189_priority_pivot"](spark, sf_dir))
    assert plan.count("Exchange") == 2
    assert plan.count("Scan parquet") == 1
    assert "pivotfirst" in plan


def test_dbscan_grid_join_not_quadratic(spark, sf_dir):
    """The ε-pair builder must join on grid-cell keys (hash or
    sort-merge equi-join), never the quadratic cross filter the
    oracle uses."""
    plan = _plan(all_queries()["q185_dbscan_labels"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_single_user_exchange(spark, sf_dir):
    """q200's four chained stage windows + the per-user collapse must
    all ride ONE user_id exchange — adding funnel stages should add
    window expressions, never extra shuffles or scans."""
    plan = _plan(all_queries()["q200_funnel_stages"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert plan.count("Scan parquet") == 1
    assert "EvalPython" not in plan


def test_cohort_retention_exchange_family(spark, sf_dir):
    """q199: the (customer, month) dedup and the cohort windows share
    the o_custkey exchange family; the retention ppm window runs over
    the aggregated grid, never a join back to per-customer rows."""
    plan = _plan(all_queries()["q199_cohort_retention"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(o_custkey") <= 2
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_trend_ols_no_python_single_agg(spark, sf_dir):
    """q201 fits per-segment OLS from one moment aggregate: no
    Python, no cartesian, and exactly one aggregate exchange after
    the join."""
    plan = _plan(all_queries()["q201_trend_ols"](spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(segment") <= 1


def test_bitmap_distinct_no_expand_distinct(spark, sf_dir):
    """q203 must count distincts via bitmap partial aggregation —
    never Spark's two-exchange expand-distinct rewrite."""
    plan = _plan(all_queries()["q203_bitmap_distinct"](spark, sf_dir))
    assert "Expand" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert "EvalPython" not in plan


def test_seasonal_anomaly_broadcasts_baseline(spark, sf_dir):
    """q204 re-joins facts to the 24-row hourly baseline — that side
    must broadcast, never shuffle the fact a second time."""
    plan = _plan(all_queries()["q204_seasonal_anomaly"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sequence_support_single_scan_two_exchanges(spark, sf_dir):
    """q205: ONE scan; the lead windows ride one user_id exchange,
    the per-(user, trigram) collapse reuses that distribution (no
    exchange), and only the final trigram rollup shuffles."""
    plan = _plan(all_queries()["q205_sequence_support"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan


def test_temperature_mixture_broadcast_alloc(spark, sf_dir):
    """q206: the |sources|-row allocation broadcasts onto the ranked
    documents; no cartesian, no Python."""
    plan = _plan(all_queries()["q206_temperature_mixture"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_cube_single_scan_expand(spark, sf_dir):
    """q207: CUBE compiles to one scan + Expand + one partial-agg
    exchange — never per-level re-scans."""
    plan = _plan(all_queries()["q207_cube_revenue"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_corr_matrix_one_pass(spark, sf_dir):
    """q208: every pairwise correlation comes from ONE moment
    aggregate — one scan, one exchange, the unpivot downstream."""
    plan = _plan(all_queries()["q208_corr_matrix"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


def test_chi_square_single_scan(spark, sf_dir):
    """q209: the contingency grid aggregates once; marginals are
    windows over the aggregated frame, not fact re-scans."""
    plan = _plan(all_queries()["q209_chi_square"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_geohash_no_join_no_python(spark, sf_dir):
    """q210: Z-order encode is per-row integer compute fused into
    the scan; the cell aggregate is the only exchange."""
    plan = _plan(all_queries()["q210_geohash_cells"](spark, sf_dir))
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_large_volume_orders_broadcasts_agg_side(spark, sf_dir):
    """q211: the qty rollup is the ONLY fact exchange; the filtered
    aggregate (tiny after the threshold) broadcasts back onto
    orders, and customer broadcasts at dimension size — the fact is
    never shuffled twice."""
    plan = _plan(all_queries()["q211_large_volume_orders"](spark, sf_dir))
    assert plan.count("Scan parquet") == 3
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange hashpartitioning(l_orderkey" in plan
    assert plan.count("BroadcastHashJoin") == 2
    assert "CartesianProduct" not in plan


def test_sole_late_supplier_single_fact_exchange_no_branch(spark, sf_dir):
    """q212: the per-order (nsupp, nlate) totals ride a window over
    the ok repartition — NOT a groupBy+self-join branch, which would
    duplicate the fact⋈orders subtree (caught at 5 scans pre-fix).
    One ok exchange serves the (ok, sk) collapse AND the window; the
    only other exchange is the tiny supp_name rollup."""
    plan = _plan(all_queries()["q212_sole_late_supplier"](spark, sf_dir))
    assert plan.count("Scan parquet") == 3
    assert plan.count("Exchange hashpartitioning") == 2
    assert "SortMergeJoin" not in plan or plan.count("Scan parquet") == 3
    assert "CartesianProduct" not in plan


def test_idle_rich_customers_anchor_and_anti_join(spark, sf_dir):
    """q213: the positive-balance (count, sum) anchor is a 1-row
    broadcast; the NOT-IN compiles to a real anti join, never a
    cartesian."""
    plan = _plan(all_queries()["q213_idle_rich_customers"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # 1-row anchor
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_custdist_filter_inside_outer_join(spark, sf_dir):
    """q215: the qualifying filter lives in the LEFT JOIN condition
    (zero-order customers survive); per-customer counts ride the
    custkey exchange and the histogram rollup is the only other
    exchange. No fact re-scan."""
    plan = _plan(all_queries()["q215_custdist"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    assert "LeftOuter" in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in plan


def test_market_share_one_aggregate_no_share_join(spark, sf_dir):
    """q216: numerator and denominator come from ONE conditional
    aggregate — no share-vs-total self-join. Bounded dims (nation,
    region) broadcast; the customer composite and part/supplier
    lookups are UNHINTED since round 9 (they scale with SF — the
    broadcast-guard invariant), so the static plan may SMJ them on
    custkey and AQE converts to broadcast at runtime while they fit.
    The year rollup exchange is the only aggregation exchange."""
    plan = _plan(all_queries()["q216_market_share"](spark, sf_dir))
    assert "Exchange hashpartitioning(o_year" in plan
    # o_year rollup + at most the custkey SMJ pair (AQE-reversible);
    # anything beyond that is a plan regression
    assert plan.count("Exchange hashpartitioning") <= 3
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan


def test_top_revenue_suppliers_anchor_over_aggregate(spark, sf_dir):
    """q217: the MAX anchor is a window over the |suppliers|-row
    aggregate (one bounded SinglePartition exchange), never a second
    fact scan; the shipdate filter pushes to the scan."""
    plan = _plan(all_queries()["q217_top_revenue_suppliers"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange SinglePartition") == 1
    fmt = _formatted(all_queries()["q217_top_revenue_suppliers"](spark, sf_dir))
    assert "PushedFilters" in fmt and "l_shipdate" in fmt.split("PushedFilters")[1][:200]


def test_hourly_acf_windows_over_aggregate(spark, sf_dir):
    """q214: ONE events scan; the hourly pre-agg is the first
    exchange, the LAG window re-clusters on event_type (second), and
    the final per-(type, lag) moment rollup reuses the event_type
    distribution — no third exchange, no join."""
    plan = _plan(all_queries()["q214_hourly_acf"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_mann_whitney_rank_transform_on_histogram(spark, sf_dir):
    """q218: ranks come from the distinct-value histogram — one fact
    exchange on v, one bounded single-partition window, no per-row
    row_number over the corpus, no join."""
    plan = _plan(all_queries()["q218_mann_whitney_u"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange SinglePartition") == 1
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_ks_statistic_single_histogram_pass(spark, sf_dir):
    """q219: same substrate as q218 — cumulative and total windows
    share ONE single-partition sort over the value histogram; the
    totals are MAX-of-cumulative, not a branch that would re-scan
    the fact."""
    plan = _plan(all_queries()["q219_ks_two_sample"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange SinglePartition") == 1
    assert "Join" not in plan


def test_gd_three_passes_broadcast_state(spark, sf_dir):
    """q220: three GD passes = three fact scans, each with the 1-row
    state arriving as a broadcast (BNLJ) and a map-side-combined
    global aggregate — zero hash exchanges of the fact, no Python."""
    plan = _plan(all_queries()["q220_gd_linear_regression"](spark, sf_dir))
    assert plan.count("Scan parquet") == 3
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("BroadcastNestedLoopJoin") == 3
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_textrank_iterations_read_checkpoint_not_corpus(spark, sf_dir):
    """q221: the weighted edge frame localCheckpoints once and ALL
    downstream consumers (node count, rank init, three iterations)
    read the checkpoint — zero residual parquet scans in the lazy
    plan; the top-20 cutoff is a TakeOrdered, not a global sort."""
    plan = _plan(all_queries()["q221_textrank_keywords"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0  # corpus scanned only at ckpt
    assert plan.count("Scan ExistingRDD") >= 4
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_token_entropy_single_fact_exchange(spark, sf_dir):
    """q222: one doc_id repartition serves the (doc, word) count,
    the per-doc length window AND the per-doc entropy sum; only the
    |langs|-row rollup exchanges again. One scan, no join."""
    plan = _plan(all_queries()["q222_token_entropy_filter"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_mutual_information_branches_read_joint_checkpoint(spark, sf_dir):
    """q223: the joint contingency frame localCheckpoints, so the
    marginal/entropy/MI branches never re-scan the fact (zero
    residual parquet scans in the lazy plan) and every downstream
    frame is contingency-sized."""
    plan = _plan(all_queries()["q223_mutual_information"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") >= 5
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_weighted_sample_key_in_scan_stage(spark, sf_dir):
    """q224: the A-Res key is a narrow map in the scan stage; the
    per-language top-k window is the only exchange. No join."""
    plan = _plan(all_queries()["q224_weighted_sample"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange hashpartitioning(lang" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_theil_sen_pairs_over_daily_checkpoint(spark, sf_dir):
    """q225: the daily series localCheckpoints, so the O(days²)
    pair self-join and the median window read the bounded frame —
    no residual fact scans, no cartesian (the pair join is keyed on
    event_type)."""
    plan = _plan(all_queries()["q225_theil_sen_slope"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") == 2
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_centroid_cosine_sufficient_stats_first(spark, sf_dir):
    """q226: one corpus collapse to the (label, dim) sum grid,
    checkpointed; dots/norms join only grid-sized frames (both
    norm sides broadcast), never the corpus."""
    plan = _plan(all_queries()["q226_label_centroid_cosine"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") >= 3
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_power_iteration_steps_run_once(spark, sf_dir):
    """q227: every per-step frame (w, v) localCheckpoints, so the
    norm branch and the next iteration read 64-row checkpoints
    instead of duplicating the fact-join subtree (u was executed
    12x instead of 3x pre-fix); the returned plan reads only the
    final checkpointed state."""
    plan = _plan(all_queries()["q227_power_iteration_pca"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") >= 1
    assert "EvalPython" not in plan


def test_l_diversity_two_phase_distinct(spark, sf_dir):
    """q228: customer broadcasts onto the fact; COUNT(DISTINCT)
    compiles to the two-phase aggregate (partial per-(group,
    sensitive) collapse before the group rollup) — state bounded by
    the group x sensitive grid."""
    plan = _plan(all_queries()["q228_l_diversity"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in plan


def test_kaplan_meier_driver_recurrence_over_risk_table(spark, sf_dir):
    """q229: the product-limit recurrence runs as a bounded DRIVER
    loop over the |distinct durations| risk table (the q278/q319
    driver-recurrence pattern — optimization r11; previously a
    WITH RECURSIVE UnionLoop that paid one driver-paced micro-job
    per observed duration; the ORACLE still replays the identical
    integer recurrence as WITH RECURSIVE). The returned plan is the
    local result relation — no fact scan, no UnionLoop, no Python
    eval; the bounded risk-table collect is visible to the plan
    audit as an action plan."""
    plan = _plan(all_queries()["q229_kaplan_meier"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert "UnionLoop" not in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_mann_kendall_pairs_over_daily_checkpoint(spark, sf_dir):
    """q230: same substrate as q225 — the daily series checkpoints
    once; the sign-pair join and the tie rollup read the bounded
    frame (zero residual fact scans)."""
    plan = _plan(all_queries()["q230_mann_kendall"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") >= 2
    assert "CartesianProduct" not in plan


def test_jsd_single_histogram_pass(spark, sf_dir):
    """q231: the value histogram localCheckpoints (it feeds both
    the totals branch and the term sum — un-checkpointed, the fact
    scanned twice); the totals arrive as a 1-row broadcast and the
    term sum is map-side combined."""
    plan = _plan(all_queries()["q231_js_divergence"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") == 2
    assert "BroadcastNestedLoopJoin" in plan  # 1-row totals
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_gini_split_search_on_class_histogram(spark, sf_dir):
    """q232: every candidate split is evaluated from cumulative
    windows over the (group, value) class histogram — ONE fact
    exchange, no per-candidate re-scan, no join."""
    plan = _plan(all_queries()["q232_best_split_gini"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") >= 1
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_auc_from_score_histogram(spark, sf_dir):
    """q233: exact AUC from ONE score-histogram exchange + one
    bounded cumulative window — no per-row sort of the corpus."""
    plan = _plan(all_queries()["q233_exact_auc"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange SinglePartition") == 1
    assert "Join" not in plan


def test_calibration_two_scan_passes(spark, sf_dir):
    """q234: the (min, max) anchor broadcasts onto the scan; the
    10-row bin rollup is the only grouped exchange."""
    plan = _plan(all_queries()["q234_calibration_bins"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2  # range pass + binning pass
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_psi_grid_rollup_checkpointed(spark, sf_dir):
    """q235: two 1-row anchors broadcast; the 10-row bin grid
    localCheckpoints so the totals branch reads it, not the fact."""
    plan = _plan(all_queries()["q235_psi_drift"](spark, sf_dir))
    assert plan.count("Scan ExistingRDD") >= 2
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_als_step_two_exchanges_of_rating_matrix(spark, sf_dir):
    """q236: the rating matrix builds in one (u, i) exchange and
    checkpoints; the user solve and the item solve read the
    checkpoint (no fact re-scan), factors broadcast, top-10 is a
    TakeOrdered."""
    plan = _plan(all_queries()["q236_als_one_step"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") >= 2
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_order_priority_check_is_semi_join(spark, sf_dir):
    """q237: EXISTS compiles to LEFT SEMI — the fact is probed,
    never expanded (no distinct needed)."""
    plan = _plan(all_queries()["q237_order_priority_check"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_forecast_revenue_full_pushdown(spark, sf_dir):
    """q238 (TPC-H Q6): every predicate reaches the parquet scan;
    zero hash exchanges — the aggregate is partial + single-row."""
    q = all_queries()["q238_forecast_revenue"](spark, sf_dir)
    plan = _plan(q)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 0
    fmt = _formatted(q)
    pushed = fmt.split("PushedFilters")[1][:300]
    assert "l_shipdate" in pushed and "l_quantity" in pushed


def test_shipping_volume_dims_prune_before_fact(spark, sf_dir):
    """q239 (Q7): both nation sides broadcast with the pair
    IN-filter applied, so only pair-touching fact rows survive the
    probes; the rollup is the only fact exchange beyond the
    orderkey join."""
    plan = _plan(all_queries()["q239_shipping_volume"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_returned_item_report_take_ordered(spark, sf_dir):
    """q241 (Q10): top-20 compiles to TakeOrderedAndProject, never
    a global sort; returnflag filter pushes to the scan."""
    q = all_queries()["q241_returned_item_report"](spark, sf_dir)
    plan = _plan(q)
    assert "TakeOrderedAndProject" in plan
    fmt = _formatted(q)
    assert "l_returnflag" in fmt.split("PushedFilters")[1][:200]


def test_promo_share_single_aggregate(spark, sf_dir):
    """q243 (Q14): numerator and denominator in ONE aggregate —
    zero hash exchanges, no second pass."""
    plan = _plan(all_queries()["q243_promo_revenue_share"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("Scan parquet") == 2


def test_disjunctive_revenue_no_cartesian(spark, sf_dir):
    """q244 (Q19): the OR-of-ANDs spanning both join sides stays a
    broadcast equi-join + residual filter, never a cartesian."""
    plan = _plan(all_queries()["q244_disjunctive_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_min_cost_supplier_window_decorrelation(spark, sf_dir):
    """q245 (Q2): the correlated MIN is a window over the
    region-pruned supply table (no per-part re-scan); answer capped
    by TakeOrdered."""
    plan = _plan(all_queries()["q245_min_cost_supplier"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Scan parquet") == 5  # ps + 4 dims, no dup subtree
    assert "CartesianProduct" not in plan


def test_important_stock_anchor_over_checkpoint(spark, sf_dir):
    """q246 (Q11): the per-part value frame checkpoints; the scalar
    total is computed from and broadcast onto the checkpoint — the
    supply build never runs twice."""
    plan = _plan(all_queries()["q246_important_stock"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") == 2


def test_supplier_relationship_blacklist_anti_join(spark, sf_dir):
    """q247 (Q16): the NOT IN blacklist is a LEFT ANTI probe;
    COUNT(DISTINCT) runs the two-phase aggregate."""
    plan = _plan(all_queries()["q247_supplier_relationship_count"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_excess_stock_join_chain_no_cartesian(spark, sf_dir):
    """q248 (Q20): the doubly-nested INs are an equi-join chain +
    DISTINCT on a key — no correlated re-execution, no cartesian."""
    plan = _plan(all_queries()["q248_excess_stock_suppliers"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_average_precision_histogram_substrate(spark, sf_dir):
    """q250: one fact exchange to the score histogram + one bounded
    descending cumulative window — no per-row best-first sort of
    the corpus."""
    plan = _plan(all_queries()["q250_average_precision"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange SinglePartition") == 1
    assert "Join" not in plan


def test_group_kfold_single_pass(spark, sf_dir):
    """q251: fold assignment is a narrow map on the key; the only
    exchanges serve the fold rollup's two-phase distinct."""
    plan = _plan(all_queries()["q251_group_kfold"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_qq_table_probes_checkpointed_histogram(spark, sf_dir):
    """q252: the cumulative histogram checkpoints once; the nine
    decile probes are broadcast theta-joins against that bounded
    frame — the fact is scanned only at checkpoint time."""
    plan = _plan(all_queries()["q252_qq_table"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") >= 2
    assert "EvalPython" not in plan


def test_effect_size_single_moment_pass(spark, sf_dir):
    """q253: one exchange to the histogram, one moment aggregate —
    no join, no second pass."""
    plan = _plan(all_queries()["q253_effect_size"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_containment_shares_jaccard_candidate_machinery(spark, sf_dir):
    """q255: inverted-index candidate generation (shared-shingle
    pairs), never a cartesian; the ratio change over q34 adds no
    extra pass."""
    plan = _plan(all_queries()["q255_containment_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_silhouette_has_no_corpus_join(spark, sf_dir):
    """q258: vectors score against ONE broadcast centroid struct via
    a per-row HOF fold — no sort-merge join, no corpus-side shuffle
    beyond the 640-row centroid aggregate and the label rollup."""
    plan = _plan(all_queries()["q258_silhouette"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_power_iteration_pca_is_shuffle_free(spark, sf_dir):
    """q227 (r7 rewrite): the array-row matvec has NO corpus-sized
    exchange — only the 64-row per-dimension reduces and 1-row
    broadcasts. The plan of the final state frame is all
    checkpointed scans + tiny aggregates."""
    df = all_queries()["q227_power_iteration_pca"](spark, sf_dir)
    plan = _plan(df)
    # the returned frame reads a 64-row checkpoint; no hash exchange
    # over anything corpus-sized can appear above it
    assert "SortMergeJoin" not in plan


def test_ndcg_single_user_exchange(spark, sf_dir):
    """q256: both row_number windows share ONE user_id exchange;
    the only other exchanges are the per-user and global rollups."""
    plan = _plan(all_queries()["q256_ndcg"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_fim_transform_is_narrow(spark, sf_dir):
    """q271: tokenize + slice + digest is a pure narrow map — zero
    exchanges (FIM at 100 TB must be scan-bound)."""
    plan = _plan(all_queries()["q271_fim_transform"](spark, sf_dir))
    assert "Exchange" not in plan


def test_dedup_pair_miners_reuse_the_distinct_exchange(spark, sf_dir):
    """r7 second iteration: with no checkpoint, the candidate
    self-join's branches must REUSE the distinct (id, shingle)
    exchange rather than recompute it. AQE applies exchange reuse
    when building query stages, so the marker only appears in the
    FINAL adaptive plan — execute the frame first (collect, not
    count: count plans a separate execution)."""
    df = all_queries()["q34_jaccard_pairs"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan


def test_offpolicy_estimators_broadcast_the_marginals(spark, sf_dir):
    """q297/q298: the |actions|-row propensity/Q-hat frames and the
    1-row total must all be broadcast; the only sort-merge-eligible
    join is the user-keyed policy join. No cartesian product."""
    for name in ("q297_ips_offpolicy", "q298_doubly_robust_ope"):
        plan = _plan(all_queries()[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan, name


def test_fairness_and_cmh_broadcast_the_dimension(spark, sf_dir):
    """q299/q303: customer must reach the event fact as a broadcast
    (a 100 TB fairness/CMH audit is one map-side join); the only
    hash exchange is the segment/stratum rollup."""
    for name in ("q299_fairness_audit", "q303_cmh_test"):
        plan = _plan(all_queries()[name](spark, sf_dir))
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_rater_agreement_is_joinless(spark, sf_dir):
    """q304: a single map-side aggregate — no join of any kind and
    no hash exchange (only the single-partition final rollup)."""
    plan = _plan(all_queries()["q304_rater_agreement"](spark, sf_dir))
    assert "Join" not in plan
    assert "hashpartitioning" not in plan


def test_page_hinkley_single_month_exchange(spark, sf_dir):
    """q301: the fact collapses to the checkpointed months frame
    (the hash exchange lives below the checkpoint); above it the PH
    sweep is joinless and adds only the SinglePartition window sorts
    over the time dimension — no hash exchange, no join."""
    plan = _plan(all_queries()["q301_page_hinkley"](spark, sf_dir))
    assert "Join" not in plan
    assert "hashpartitioning" not in plan


def test_nelson_aalen_needs_no_recursion(spark, sf_dir):
    """q302 vs q229: the hazard SUM must compile to plain windows —
    no UnionLoop / recursive-CTE machinery in the plan (that is the
    estimator's entire scale advantage over the KM product)."""
    plan = _plan(all_queries()["q302_nelson_aalen"](spark, sf_dir))
    assert "UnionLoop" not in plan
    assert "Loop" not in plan


def test_sprt_is_time_dimension_bound(spark, sf_dir):
    """q305: the walk and the crossing scan live on the |days|
    frame; the only join is the 1-row decision attach (broadcast),
    never a sort-merge over anything corpus-sized."""
    plan = _plan(all_queries()["q305_sprt_monitor"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cuped_single_user_exchange(spark, sf_dir):
    """q306: the ts-range row broadcasts onto the fact; the only
    hash exchange is the per-user collapse; the moments close in a
    single-partition aggregate."""
    plan = _plan(all_queries()["q306_cuped_adjustment"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_ece_is_grid_bound(spark, sf_dir):
    """q307: min-max row broadcasts; one exchange to the 10-bin
    grid; no sort-merge join, no corpus-sized window."""
    plan = _plan(
        all_queries()["q307_expected_calibration_error"](spark, sf_dir)
    )
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_cvm_rides_the_histogram_substrate(spark, sf_dir):
    """q308: like q219 KS, the CvM integral runs over the distinct-
    value histogram — one value exchange, no join of any kind."""
    plan = _plan(all_queries()["q308_cramer_von_mises"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(x#") == 1


def test_mase_single_month_exchange(spark, sf_dir):
    """q309: one exchange to the months frame; the two LAG windows
    and the close add none."""
    plan = _plan(all_queries()["q309_mase_backtest"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(month_id") == 1


def test_anova_broadcasts_the_dimension(spark, sf_dir):
    """q310: customer reaches the fact as a broadcast; one exchange
    to the segments frame, a 1-row close."""
    plan = _plan(all_queries()["q310_anova_oneway"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_welch_is_joinless(spark, sf_dir):
    """q311: scan -> 2-group moment aggregate -> 1-row pivot close;
    no join anywhere, and the only hash exchange carries the
    two-row group frame."""
    plan = _plan(all_queries()["q311_welch_ttest"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(g1") == 1


def test_partial_correlation_single_user_exchange(spark, sf_dir):
    """q312: nine moments off ONE per-user collapse — exactly one
    hash exchange, no join."""
    plan = _plan(all_queries()["q312_partial_correlation"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_kruskal_wallis_rides_the_histogram(spark, sf_dir):
    """q313: the rank machinery joins the checkpointed (group,
    value) histogram to the value midranks — dimension-sized state,
    and the only sort-merge-eligible join keys on the value domain,
    never the corpus."""
    plan = _plan(all_queries()["q313_kruskal_wallis"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_brown_forsythe_broadcasts_medians(spark, sf_dir):
    """q314: the |groups|-row median frame must come back to the
    fact as a broadcast; no sort-merge join anywhere."""
    plan = _plan(all_queries()["q314_brown_forsythe"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_durbin_watson_months_bound(spark, sf_dir):
    """q315: one exchange to the months frame, one LAG window, a
    1-row close — no join."""
    plan = _plan(all_queries()["q315_durbin_watson"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(month_id") == 1
