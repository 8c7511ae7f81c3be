"""Data-quality validation as a report DataFrame (SURVEY.md §2.11 X5).

The reference's 06_validate_data_quality.py prints [OK]/[WARN] lines;
here validation is a reusable operator returning an assertable
DataFrame (check, metric, value, status), so it composes with sinks
and alerting instead of stdout.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from car_insurance_data_pipeline_spark_spark.session import driver_frame


@dataclass
class ValidationRules:
    """Declarative DQ rules for one table."""

    min_rows: int = 1
    not_null: list[str] = field(default_factory=list)
    positive: list[str] = field(default_factory=list)
    unique: list[str] = field(default_factory=list)  # duplicate count == 0
    stats: list[str] = field(default_factory=list)  # sum/avg/min/max reported


def validate(df: DataFrame, rules: ValidationRules) -> DataFrame:
    """Run all rules in ONE aggregation pass (the reference re-scans
    per check; at 100 TB every extra pass matters).

    Returns rows (check string, metric string, value double, status
    'OK'|'WARN').
    """
    aggs = [F.count("*").cast("double").alias("__n")]
    for c in rules.not_null:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("double")
            .alias(f"__null__{c}")
        )
    for c in rules.positive:
        aggs.append(
            F.sum(F.when(F.col(c) < 0, 1).otherwise(0))
            .cast("double")
            .alias(f"__neg__{c}")
        )
    for c in rules.unique:
        # duplicates among NON-NULL values: count(c) ignores NULLs in
        # both terms, so NULL keys are the not_null rule's business
        aggs.append(
            (F.count(F.col(c)) - F.count_distinct(F.col(c)))
            .cast("double")
            .alias(f"__dup__{c}")
        )
    for c in rules.stats:
        aggs += [
            F.sum(F.col(c).try_cast("decimal(27,6)")).cast("double").alias(f"__sum__{c}"),
            F.min(c).cast("double").alias(f"__min__{c}"),
            F.max(c).cast("double").alias(f"__max__{c}"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()

    spark = df.sparkSession
    n = row["__n"]
    out: list[tuple[str, str, float, str]] = [
        ("row_count", "rows", n, "OK" if n >= rules.min_rows else "WARN")
    ]
    for c in rules.not_null:
        v = row[f"__null__{c}"]
        out.append(("not_null", c, v, "OK" if v == 0 else "WARN"))
    for c in rules.positive:
        v = row[f"__neg__{c}"]
        out.append(("non_negative", c, v, "OK" if v == 0 else "WARN"))
    for c in rules.unique:
        v = row[f"__dup__{c}"]
        out.append(("unique", c, v, "OK" if v == 0 else "WARN"))
    for c in rules.stats:
        s = row[f"__sum__{c}"]
        # s is None when the column is entirely NULL / unparseable —
        # the report flags it (WARN) instead of crashing on None / n.
        status = "OK" if s is not None else "WARN"
        out.append(("sum", c, s, status))
        out.append(("min", c, row[f"__min__{c}"], status))
        out.append(("max", c, row[f"__max__{c}"], status))
        out.append(("avg", c, (s / n) if (n and s is not None) else None, status))
    return driver_frame(
        spark,
        out, "check string, metric string, value double, status string"
    )


def observe_rules(
    df: DataFrame, rules: ValidationRules, name: str = "dq"
):
    """Attach the DQ counters as OBSERVED METRICS instead of a
    dedicated validation pass: returns ``(df', observation)`` where
    ``df'`` computes the same rows as ``df`` and the accumulator-style
    metrics materialize on whatever action the CALLER already runs
    (a parquet write, a count, a collect). At 100 TB this is the
    difference between validating for free while exporting and
    re-scanning the corpus to validate — ``validate`` costs one extra
    full pass, ``observe_rules`` costs none.

    After the action, ``observation.get`` yields the raw counters;
    feed them to ``observation_report`` for the same
    (check, metric, value, status) rows ``validate`` returns.
    stats rules are intentionally unsupported here (observed metrics
    must be aggregates of the UNMODIFIED plan output; min/max/sum
    reporting belongs to ``validate``).
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    exprs = [F.count(F.lit(1)).cast("double").alias("__n")]
    for c in rules.not_null:
        exprs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("double")
            .alias(f"__null__{c}")
        )
    for c in rules.positive:
        exprs.append(
            F.sum(F.when(F.col(c) < 0, 1).otherwise(0))
            .cast("double")
            .alias(f"__neg__{c}")
        )
    return df.observe(obs, *exprs), obs


def observation_report(
    spark, metrics: dict, rules: ValidationRules
) -> DataFrame:
    """Convert ``Observation.get`` counters into the same
    (check, metric, value, status) report frame ``validate`` emits,
    so observed-metrics pipelines and dedicated-pass pipelines feed
    identical downstream alerting."""
    n = metrics["__n"]
    out: list[tuple[str, str, float, str]] = [
        ("row_count", "rows", n, "OK" if n >= rules.min_rows else "WARN")
    ]
    for c in rules.not_null:
        v = metrics[f"__null__{c}"]
        out.append(("not_null", c, v, "OK" if v == 0 else "WARN"))
    for c in rules.positive:
        v = metrics[f"__neg__{c}"]
        out.append(("non_negative", c, v, "OK" if v == 0 else "WARN"))
    return driver_frame(
        spark,
        out, "check string, metric string, value double, status string"
    )


def column_profile(
    df: DataFrame, cols: list[str], exact_distinct: bool = True
) -> DataFrame:
    """Deequ-style column profiler: one row per profiled column with
    (column, n_rows, n_nulls, n_distinct, min_str, max_str). min/max
    are emitted as strings so one long-format frame covers mixed
    column types; profile numeric columns whose string form is
    canonical (integers, strings, dates) when cross-engine comparison
    matters — float formatting differs between engines.

    Scale: ONE aggregation pass. With ``exact_distinct`` the multiple
    COUNT(DISTINCT) columns make Catalyst plan an Expand (input ×
    n_cols before the partial agg) — exact but bandwidth-amplifying;
    at 100 TB pass ``exact_distinct=False`` for approx_count_distinct
    (HLL, mergeable, no Expand), the same trade Deequ ships. NULLs:
    n_distinct counts non-null values; min/max ignore NULLs (both
    engines agree).
    """
    ndist = F.count_distinct if exact_distinct else F.approx_count_distinct
    aggs = [F.count("*").alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"__null__{c}"),
            ndist(F.col(c)).cast("bigint").alias(f"__nd__{c}"),
            # aggregate on the NATIVE type, cast the result: casting
            # first would make min/max lexicographic ('999' > '1499')
            F.min(F.col(c)).cast("string").alias(f"__min__{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max__{c}"),
        ]
    row = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").cast("bigint").alias("n_rows"),
            F.col(f"__null__{c}").alias("n_nulls"),
            F.col(f"__nd__{c}").alias("n_distinct"),
            F.col(f"__min__{c}").alias("min_str"),
            F.col(f"__max__{c}").alias("max_str"),
        )
        for c in cols
    ]
    return row.select(
        F.explode(F.array(*per_col)).alias("p")
    ).select("p.*")


def referential_integrity(
    pairs: list[tuple[DataFrame, str, DataFrame, str, str]],
) -> DataFrame:
    """Orphan-detection report: for each (child, fk, parent, pk,
    name), count child rows whose non-null FK has no matching parent
    PK. Returns (relation, n_children, n_orphans, ok).

    Scale: each check is one LEFT join of the child's non-null FKs
    against the parent's distinct key projection (Catalyst broadcasts
    it when small, shuffle-hash otherwise) collapsed by a map-side
    count — returned as ONE lazy unioned frame, no driver-side
    actions at plan time.
    """
    if not pairs:
        raise ValueError("referential_integrity needs at least one check")
    frames = []
    for child, fk, parent, pk, name in pairs:
        hit = "__hit"
        while hit in child.columns:  # avoid sentinel collision
            hit += "_"
        keys = parent.select(F.col(pk).alias(fk)).distinct().withColumn(
            hit, F.lit(1)
        )
        agg = (
            child.filter(F.col(fk).isNotNull())
            .join(keys, fk, "left")
            .agg(
                F.count("*").cast("bigint").alias("n_children"),
                # coalesce: SUM over an empty child (or all-NULL FKs)
                # is NULL — the report must read (0, 0, ok=1), not a
                # NULL verdict masquerading as vacuous success
                F.coalesce(
                    F.sum(F.when(F.col(hit).isNull(), 1).otherwise(0)),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_orphans"),
            )
            .select(
                F.lit(name).alias("relation"),
                "n_children",
                "n_orphans",
                (F.col("n_orphans") == 0).cast("int").alias("ok"),
            )
        )
        frames.append(agg)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def histogram_int(
    df: DataFrame,
    col: str,
    lo: int,
    width: int,
    n_bins: int,
) -> DataFrame:
    """Equi-width histogram over an INTEGER column: bin i covers
    [lo + i*width, lo + (i+1)*width); values below lo clamp into bin
    0, values at/above the top edge clamp into bin n_bins-1, NULLs
    are dropped. Returns (bin, lo_edge, hi_edge, n) — empty bins are
    emitted with n=0 so the output shape is fixed at n_bins rows.

    Integer domain on purpose: the bin index is exact integer
    arithmetic ((x - lo) div width, clamped), so the histogram is
    bit-identical across engines and partitionings — float
    width_bucket edge handling is not. Scale: one partial-aggregated
    groupBy (≤ n_bins groups) plus a broadcast join against the
    n_bins-row edge frame.
    """
    spark = df.sparkSession
    x = F.col(col).cast("bigint")
    # true integer division (not double / + cast: loses exactness on
    # wide values); negatives clamp to bin 0 before div rounding can
    # matter. Column name backquoted (and embedded backquotes
    # doubled) so names needing quoting can't misparse in the expr.
    qcol = "`" + col.replace("`", "``") + "`"
    bin_ = F.least(
        F.greatest(
            F.expr(
                f"(CAST({qcol} AS BIGINT) - CAST({lo} AS BIGINT)) "
                f"div CAST({width} AS BIGINT)"
            ),
            F.lit(0),
        ),
        F.lit(n_bins - 1),
    )
    counts = (
        df.filter(x.isNotNull())
        .select(bin_.cast("int").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
    )
    edges = spark.range(n_bins).select(
        F.col("id").cast("int").alias("bin"),
        (F.lit(lo) + F.col("id") * width).cast("bigint").alias("lo_edge"),
        (F.lit(lo) + (F.col("id") + 1) * width).cast("bigint").alias("hi_edge"),
    )
    return edges.join(counts, "bin", "left").select(
        "bin",
        "lo_edge",
        "hi_edge",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
    )
