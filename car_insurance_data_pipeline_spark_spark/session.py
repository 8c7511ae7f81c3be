"""Session factory (SURVEY.md §2.11 X1/X3).

The reference builds a session per numbered script
(e.g. /root/reference/scripts/02_clean_contracts_data.py:25-32); here one
factory centralizes scale-aware defaults:

- AQE on (runtime re-plan, skew-join handling, partition coalescing)
- Arrow on (vectorized pandas interchange for the few Pandas-UDF ops)
- UTC session timezone (deterministic date semantics vs. the oracle)
- shuffle partitions sized to local cores (overridable; on a real
  cluster this is set to ~2-3x total executor cores)

Engine code NEVER depends on session-level conf for correctness: all
queries use try_cast/try_to_timestamp-style expressions so they behave
identically under ANSI mode (Spark 4 default) and legacy mode, and under
any session timezone when the host is UTC.

Every lineage cut in the engine goes through ``checkpoint`` below, and
every early release of a checkpoint's storage through ``release`` /
``release_all``, so the durability policy lives in this one module.
Every frame built from driver-side rows goes through ``driver_frame``,
so no driver result reaches the JVM as a pickled Python RDD.
"""

from __future__ import annotations

import gc
import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def get_session(
    app_name: str = "car_insurance_data_pipeline_spark_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Nanosecond parquet timestamps read as int64 nanos from the
        # FIRST read — set here (not lazily by the first events query)
        # so dtype behavior never depends on query execution order.
        # events_with_us() also sets it at runtime for externally
        # created sessions (e.g. the verification driver's).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_session(spark: SparkSession) -> None:
    """Teardown (reference: scripts/11_cleanup_spark_session.py:25-41)."""
    spark.stop()


def driver_frame(
    spark: SparkSession, data, schema: StructType | str
) -> DataFrame:
    """Hand rows built on the driver to the JVM as one Arrow table.

    ``spark.createDataFrame(<list>, schema)`` ships its rows as a
    pickled Python RDD (``applySchemaToPythonRDD``): every job that
    reads the frame starts Python workers just to unpickle a few rows,
    and a frame read by several joins pays that per read. An Arrow
    table is decoded in the JVM (a ``LocalRelation`` at driver-result
    sizes), so reading the frame starts no Python worker. There is one
    path: no conf or fallback routes a frame through the Python RDD.

    ``data`` is a list of tuples or a pandas DataFrame; ``schema`` a
    DDL string or ``StructType``. The frame's schema is exactly
    ``schema`` (names, types, nullability), empty input gives an
    empty frame, and a NULL in a non-nullable field raises
    ``ValueError``. In tuples a float NaN stays NaN and ``None`` is
    NULL; in a pandas frame NaN in a float column is NULL, as in
    Spark's own pandas conversion.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    if isinstance(data, pd.DataFrame):
        table = pa.Table.from_pandas(data, schema=arrow, preserve_index=False)
    else:
        cols = list(zip(*data)) if data else [()] * len(arrow)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
            schema=arrow,
        )
    for f, col in zip(arrow, table.columns):
        if not f.nullable and col.null_count:
            raise ValueError(f"NULL in non-nullable field {f.name!r}")
    return spark.createDataFrame(table, schema)


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage — the engine's one materialization primitive.

    Iterative loops must cut lineage or the plan doubles per round, and
    a frame read by several consumers must be materialized once or its
    upstream re-runs per consumer. Durability follows the cluster
    configuration, resolved at call time: with a checkpoint dir set
    (``sparkContext.setCheckpointDir``, HDFS / object store on a real
    cluster) the frame is written there, so a lost executor recomputes
    from durable files instead of killing the job; otherwise it is kept
    as executor-local blocks (``localCheckpoint``) — fast, but lost with
    the executor. Chained call sites spell it ``.transform(checkpoint)``.

    Either way the frame is computed once: every read, including the
    first action, sees the same rows. A lazy reliable checkpoint writes
    its files in a second job after the first action, which would
    recompute the frame (and could show a non-deterministic plan two
    different versions), so its RDD is persisted first and the writer
    reads the blocks the first action stored; ``release`` frees them.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    out = df.checkpoint(eager=eager)
    if not eager:
        # the analyzed plan is a LogicalRDD over the checkpointed RDD
        out._jdf.queryExecution().analyzed().rdd().persist(
            sc._getJavaStorageLevel(StorageLevel.MEMORY_AND_DISK)
        )
    return out


def release(df: DataFrame) -> None:
    """Deterministically free a SUPERSEDED checkpoint's storage.

    localCheckpoint blocks are otherwise released only when the
    py4j-held JVM object is GC'd (ContextCleaner) — unpredictable,
    and an O(log n)-round loop would pin that many edge-set copies
    in executor storage. Reliable (`df.checkpoint()`) frames are
    worse: Spark deletes their FILES only under
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (off
    by default), so a long loop would leak one full frame copy per
    iteration on durable storage — we read the RDD's
    getCheckpointFile() and delete that directory eagerly. Callers
    only pass frames no longer reachable from any live plan (the
    successor checkpoint is already materialized), so deletion is
    safe. The analyzed plan of a checkpointed DataFrame is a
    LogicalRDD whose rdd() IS the persisted RDD. Best-effort:
    guarded because the internal accessor path is not public API
    (a miss only delays release to the ContextCleaner / the
    cleanCheckpoints conf).
    """
    try:
        rdd = df._jdf.queryExecution().analyzed().rdd()
        rdd.unpersist(False)
        cf = rdd.getCheckpointFile()
        if cf is not None and cf.isDefined():
            sc = df.sparkSession.sparkContext
            path = sc._jvm.org.apache.hadoop.fs.Path(cf.get())
            fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
            fs.delete(path, True)
    except Exception:
        pass


def release_all(spark: SparkSession) -> None:
    """Unpersist every persisted RDD (checkpoint blocks included) and
    the SQL cache, so the next independent query starts from the same
    storage state instead of its predecessors' leftovers."""
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(False)
    spark.catalog.clearCache()
    gc.collect()
