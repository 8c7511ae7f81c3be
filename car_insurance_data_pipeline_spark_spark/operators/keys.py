"""Surrogate-key operators (SURVEY.md §2.5 W1 and its scale hazard).

The reference generates dimension surrogate keys with
``row_number().over(Window.orderBy(nk))`` — an UNPARTITIONED window
(04_load_dimension_tables.py:118-123) that funnels the whole table
through one task. Three alternatives, by contract strength:

- surrogate_key_ordered: same dense 1..N ordered contract, still a
  global sort but executed as range-partitioned sort + per-partition
  offsets (zipWithIndex-style) — no single-task bottleneck.
- surrogate_key_hash: xxhash64 of the natural key — fully parallel,
  stable across loads (same NK → same SK), the 100 TB default.
- monotonic ids (Spark built-in) are intentionally NOT exposed:
  values depend on partition layout, breaking reproducibility.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from car_insurance_data_pipeline_spark_spark.session import checkpoint


def surrogate_key_ordered(
    df: DataFrame, order_cols: list[str], key_name: str = "sk"
) -> DataFrame:
    """Dense 1..N keys in ``order_cols`` order, computed scalably and
    entirely JVM-side (no Python row round trip):

    1. range-partition + sort on ``order_cols`` (ordered partitions);
    2. per-partition row_number over a window keyed on the physical
       partition id;
    3. per-partition base offsets from a tiny groupBy-count aggregate,
       turned into a running sum by a window over the (≤ #partitions
       rows) count table and broadcast-joined back.

    The sorted stage is persisted because it feeds two branches (the
    count aggregate and the final assignment) and repartitionByRange
    samples its bounds — recomputing it could draw different
    partition boundaries between branches. The persisted blocks are
    dropped before returning (the result is eagerly checkpointed).
    """
    part = (
        df.repartitionByRange(*order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    counts = part.groupBy("__pid").agg(F.count("*").alias("__n"))
    # Running-sum window over the per-partition counts: at most a few
    # thousand rows (one per partition), so the single-task global
    # window is fine at any data scale.
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )
    w_rn = Window.partitionBy("__pid").orderBy(*order_cols)
    out = (
        part.join(F.broadcast(offsets), "__pid")
        .withColumn(
            key_name,
            (F.row_number().over(w_rn) + F.col("__off")).cast("long"),
        )
        .drop("__pid", "__off")
    )
    out = checkpoint(out, eager=True)  # cut lineage before unpersist
    part.unpersist()
    return out


def surrogate_key_hash(
    df: DataFrame, natural_key_cols: list[str], key_name: str = "sk"
) -> DataFrame:
    """Stable hash surrogate key from the natural key — narrow map,
    no shuffle, reproducible across loads. Collision probability for
    64-bit keys is ~n²/2⁶⁵ (≈0.003 at a billion rows); pair with
    ``assert_unique`` when loading dimensions.
    """
    return df.withColumn(key_name, F.xxhash64(*natural_key_cols))


def assert_unique(df: DataFrame, cols: list[str]) -> None:
    """Raise if ``cols`` are not unique (collision / bad NK guard)."""
    dupes = df.groupBy(*cols).count().filter(F.col("count") > 1).limit(1).count()
    if dupes:
        raise ValueError(f"uniqueness violated on {cols}")
