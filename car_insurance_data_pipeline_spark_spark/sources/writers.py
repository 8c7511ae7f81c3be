"""Sinks (SURVEY.md §2.1 S5-S8).

Warehouse tables are Spark-managed Parquet (``saveAsTable``) by
default — the JDBC sink the reference uses for PostgreSQL
(scripts/04_load_dimension_tables.py:74-78 etc.) is kept as an
optional adapter so PostgreSQL parity remains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from car_insurance_data_pipeline_spark_spark.session import (
    checkpoint,
    driver_frame,
)


def export_manifest(
    spark, path: str, key_cols: list[str] | None = None
) -> DataFrame:
    """Per-file manifest of a parquet export: (path, n_rows, plus
    min_<k>/max_<k> for each key column) — what makes a large export
    resumable and auditable (compare a re-run's manifest against the
    recorded one; feed the min/max ranges to a downstream
    merge-reader). One extra columnar scan of the export, pruned to
    the key columns; the per-file aggregate is a distributed groupBy
    on file name — nothing driver-side. min/max read parquet
    row-group stats-friendly sorted files especially cheaply.
    """
    df = spark.read.parquet(path)
    aggs = [F.count("*").cast("bigint").alias("n_rows")]
    for c in key_cols or []:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return (
        df.select(*(key_cols or []))
        .withColumn("__f", F.input_file_name())
        .groupBy("__f")
        .agg(*aggs)
        .withColumnRenamed("__f", "path")
    )


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Parquet sink (S5/S6). ``partition_by`` gives hive-style layout
    for partition pruning (reference partitions cleaned contracts by
    contract_status, scripts/02_clean_contracts_data.py:100-103).

    ``max_records_per_file`` bounds output file size at scale so a
    skewed partition doesn't produce one giant file.
    """
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_table(
    df: DataFrame,
    name: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
) -> None:
    """Managed-table sink. ``bucket_by=(n, cols)`` pre-shuffles into n
    buckets so later equi-joins/aggs on ``cols`` avoid a shuffle —
    the scale path for repeated fact⋈dim joins.
    """
    writer = df.write.mode(mode).format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        writer = writer.bucketBy(n, *cols).sortBy(*cols)
    writer.saveAsTable(name)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink — columnar like Parquet (stripe-level stats, predicate
    pushdown, column pruning), for interop with ORC-based warehouses.
    Same layout semantics as write_parquet.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = "gzip",
) -> None:
    """JSON-lines sink — the interchange format for corpus handoff to
    non-columnar consumers (tokenizer trainers, manual inspection).
    Row-oriented and schema-on-read: use for EXPORT boundaries only,
    never as an intermediate format at scale (no column pruning, no
    predicate pushdown, ~4-8x the bytes of Parquet). Compressed by
    default; pair the reader with an explicit schema to skip the
    inference pass (sources/readers.py:read_json).
    """
    writer = df.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    """XML sink (Spark 4 built-in). Like JSON-lines, an EXPORT
    boundary for legacy/B2B consumers only — row-oriented, not
    splittable on read, no pruning/pushdown; never an intermediate
    format at scale."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .mode(mode)
        .save(path)
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
    batch_size: int = 10_000,
    num_partitions: int | None = None,
) -> None:
    """JDBC sink (S7). The reference writes with the default 1,000-row
    batches (README.md:393); 10k batches + bounded writer parallelism
    (``num_partitions`` coalesce) is the scale-friendly default so a
    1000-executor job doesn't open 1000 connections.
    """
    # repartition, not coalesce: coalesce would propagate the reduced
    # parallelism UP into the stage computing df; repartition keeps
    # the upstream wide and bounds only the writer tasks.
    out = df.repartition(num_partitions) if num_partitions else df
    writer = (
        out.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_rows_per_file: int,
) -> DataFrame:
    """Small-file compaction: rewrite a parquet directory into
    ceil(n_rows / target_rows_per_file) files. The operational answer
    to the 100 TB small-files problem — a long-running ingest (e.g.
    a streaming file sink emitting one file per micro-batch, or a
    heavily over-partitioned shuffle) degrades scan parallelism and
    driver listing time; periodic compaction restores healthy file
    sizes. Returns the per-file ``export_manifest`` (path, n_rows) of
    the written directory; its row count is the file count.

    The rewrite uses coalesce (narrow — no shuffle: partitions are
    merged in place, so compaction cost is one read + one write of
    the data, nothing exchanged). Writing to a NEW directory then
    swapping is the safe deployment pattern (never compact in place:
    a failed overwrite of the source dir loses data); this operator
    takes dst_path explicitly for that reason.
    """
    import math
    import os

    # realpath, not abspath: a dst that is a symlink to src would
    # bypass the guard and overwrite the source mid-read
    if os.path.realpath(src_path) == os.path.realpath(dst_path):
        # enforce the write-then-swap contract: overwriting the source
        # mid-read destroys it (the lazy read sees deleted files)
        raise ValueError("compact_parquet must write to a NEW directory")
    df = spark.read.parquet(src_path)
    n_rows = df.count()
    n_files = max(1, math.ceil(n_rows / target_rows_per_file))
    df.coalesce(n_files).write.mode("overwrite").parquet(dst_path)
    man = export_manifest(spark, dst_path).transform(checkpoint, eager=True)
    out_rows = man.agg(F.coalesce(F.sum("n_rows"), F.lit(0))).collect()[0][0]
    if out_rows != n_rows:  # explicit check — assert vanishes under -O
        raise RuntimeError(
            f"compaction row mismatch: wrote {out_rows}, expected {n_rows}"
        )
    return man


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int,
    mode: str = "overwrite",
) -> DataFrame:
    """Globally-ordered parquet export WITHOUT a single-partition
    global sort: repartitionByRange samples the sort key and assigns
    disjoint, ordered key ranges to ``n_files`` partitions, then each
    partition sorts locally — so file k's keys all precede file
    k+1's, and rows within every file are sorted. Downstream readers
    get data-skipping (parquet min/max row-group stats are tight
    when sorted) and merge-friendly ordered shards. Returns the
    per-file ``export_manifest`` over the sort columns — the
    (path, n_rows, min/max key) record that makes the export
    auditable and resumable.

    This is the scale answer to ``orderBy().write`` (whose final
    total sort still range-partitions, but callers routinely
    coalesce(1) for "one sorted file" — a single-task funnel this
    API refuses to offer). Range boundaries come from a sampled
    sketch, so file SIZES are approximately even, not exact; skewed
    keys can still produce a hot range — acceptable for layout, and
    the sampling is the same trade Spark's own global sort makes.
    """
    (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .parquet(path)
    )
    return export_manifest(df.sparkSession, path, sort_cols)


def zorder_key(
    x,
    y,
    x_range: tuple[int, int],
    y_range: tuple[int, int],
    bits: int = 16,
) -> "F.Column":
    """Z-order (Morton) key: interleave the bits of two integer
    columns, each first scaled into [0, 2^bits) over its given
    (min, max) range. Sorting by this key clusters rows that are
    close in BOTH dimensions — the layout trick behind Delta/Iceberg
    OPTIMIZE ZORDER: parquet min/max row-group stats become tight for
    either column, so scans filtering on x alone OR y alone both
    prune files, where a plain sort only helps its leading column.

    Pure Column arithmetic (shifts and masks unrolled ``bits`` times,
    whole-stage codegen'd) — no UDF; ranges are caller-supplied plan
    literals so building the key triggers no job. Clamped at the
    edges, so out-of-range values land in the boundary cells.
    """
    from pyspark.sql import functions as F  # noqa: F811

    def scaled(c, lo, hi):
        c = F.col(c) if isinstance(c, str) else c
        span = max(1, hi - lo)
        v = ((c.cast("bigint") - F.lit(lo)) * F.lit((1 << bits) - 1)) / F.lit(
            float(span)
        )
        return F.least(
            F.greatest(v.cast("bigint"), F.lit(0)), F.lit((1 << bits) - 1)
        )

    bx, by = scaled(x, *x_range), scaled(y, *y_range)
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = (
            z.bitwiseOR(
                F.shiftleft(F.shiftright(bx, i).bitwiseAND(F.lit(1)), 2 * i)
            ).bitwiseOR(
                F.shiftleft(F.shiftright(by, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            )
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    x_range: tuple[int, int],
    y_range: tuple[int, int],
    n_files: int,
    mode: str = "overwrite",
) -> DataFrame:
    """Z-order-clustered parquet export: range-partition + sort by
    the Morton key of (x, y), so every output file covers a compact
    rectangle-ish region of the (x, y) space and filters on EITHER
    column prune files via parquet min/max stats. Same
    no-single-task-sort shape as ``write_range_sorted``. Returns the
    per-file ``export_manifest`` over BOTH cluster columns — the
    per-file (min, max) rectangles downstream pruning relies on."""
    z = zorder_key(x, y, x_range, y_range).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
    return export_manifest(df.sparkSession, path, [x, y])


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def completed_shards(spark, path: str) -> dict[int, int]:
    """Read the per-shard completion markers of a resumable export:
    {shard_id: n_rows}. A shard counts as written ONLY if its marker
    exists — data files without a marker are treated as incomplete
    (the kill-between-data-and-marker case) and rewritten on resume.
    Bounded by n_shards (caller-declared), like every driver-side
    collect in this engine."""
    import json as _json

    fs, _, jvm = _hadoop_fs(spark, path)
    mdir = jvm.org.apache.hadoop.fs.Path(f"{path}/_shard_manifests")
    if not fs.exists(mdir):
        return {}
    out: dict[int, int] = {}
    for st in fs.listStatus(mdir):
        name = st.getPath().getName()
        if not name.startswith("shard-") or not name.endswith(".json"):
            continue
        stream = fs.open(st.getPath())
        try:
            data = bytearray()
            buf = jvm.java.io.BufferedReader(
                jvm.java.io.InputStreamReader(stream)
            )
            line = buf.readLine()
            while line is not None:
                data.extend(line.encode())
                line = buf.readLine()
        finally:
            stream.close()
        rec = _json.loads(bytes(data).decode())
        out[int(rec["shard"])] = int(rec["n_rows"])
    return out


def _write_marker(spark, path: str, shard: int, n_rows: int) -> None:
    import json as _json

    fs, _, jvm = _hadoop_fs(spark, path)
    mpath = jvm.org.apache.hadoop.fs.Path(
        f"{path}/_shard_manifests/shard-{shard:05d}.json"
    )
    # write-then-rename for atomicity: a marker either exists complete
    # or not at all (a kill mid-write leaves only the tmp file, which
    # completed_shards ignores)
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{path}/_shard_manifests/.shard-{shard:05d}.json.tmp"
    )
    stream = fs.create(tmp, True)
    try:
        stream.write(
            _json.dumps({"shard": shard, "n_rows": n_rows}).encode()
        )
    finally:
        stream.close()
    if fs.exists(mpath):
        fs.delete(mpath, False)
    fs.rename(tmp, mpath)


def write_sharded_resumable(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int,
    shards_per_job: int | None = None,
) -> DataFrame:
    """Idempotent, RESUMABLE sharded parquet export (closes the loop
    r4's per-file manifests opened): rows route to
    ``shard = pmod(xxhash64(key), n_shards)`` (a pure key function —
    identical assignment on every run), data lands under
    ``path/shard=<i>/`` via DYNAMIC partition overwrite (a rewrite
    replaces exactly its own shards, never the completed ones), and
    each shard gains an atomic completion marker
    (``_shard_manifests/shard-<i>.json`` with its row count) only
    AFTER its data is committed and counted.

    Resume = call again with the same arguments: shards with markers
    are skipped entirely (their data is not read, not rewritten, not
    re-shuffled); only markerless shards — including those a killed
    run left as partial or marker-less-but-complete data — are
    recomputed. ``shards_per_job`` bounds how many shards one Spark
    job writes (markers commit after each job), trading more jobs
    for a smaller redo window after a crash; None writes all missing
    shards in one job — the right default at scale, where the redo
    window is the job and the commit protocol already handles task
    retries.

    Returns the manifest as a DataFrame (shard, n_rows) — driver
    memory bounded by ``n_shards`` by contract.

    Scale: one shuffle of the missing shards' rows (the partitionBy
    exchange); the verification count is one columnar scan of the
    newly written shards pruned to the partition column; markers are
    n_shards tiny files. Kill-safety: data commit (Spark's job
    commit) and marker commit (HDFS rename) are both atomic, and a
    kill between them only costs rewriting that shard batch.
    """
    spark = df.sparkSession
    done = completed_shards(spark, path)
    missing = [s for s in range(n_shards) if s not in done]
    if missing:
        sharded = df.withColumn(
            "shard",
            F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int"),
        )
        batch = shards_per_job or len(missing)
        for i in range(0, len(missing), batch):
            todo = missing[i : i + batch]
            (
                sharded.filter(F.col("shard").isin(todo))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("shard")
                .parquet(path)
            )
            counts = {
                r["shard"]: r["n"]
                for r in spark.read.parquet(path)
                .filter(F.col("shard").isin(todo))
                .groupBy("shard")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            for s in todo:
                _write_marker(spark, path, s, int(counts.get(s, 0)))
    final = completed_shards(spark, path)
    return driver_frame(
        spark,
        sorted((s, n) for s, n in final.items()), "shard int, n_rows bigint"
    )


def merge_into_sharded(
    target_df_or_none,
    path: str,
    updates: DataFrame,
    key_col: str,
    n_shards: int,
    delete_keys: DataFrame | None = None,
) -> DataFrame:
    """Copy-on-write MERGE INTO over the hash-sharded layout that
    ``write_sharded_resumable`` produces — the engine's answer to
    lakehouse MERGE with the table-format jars absent (ARCHITECTURE
    known-limits: q54 emulates MERGE as a full anti-join ∪ union;
    THIS version adds the part that makes MERGE cheap at 100 TB:
    shard pruning). Only the shards whose hash buckets contain an
    updated or deleted key are read, rewritten (upsert = anti-join
    the old shard rows against the update keys, union the updates;
    delete = anti-join only), and re-marked; every other shard's
    files are untouched bytes — exactly how Delta/Iceberg
    copy-on-write MERGE touches only matching data files, with the
    shard hash standing in for file-level min/max pruning.

    ``target_df_or_none`` is accepted for symmetry but the target is
    always read from ``path`` (the sharded table IS the state).
    Returns the refreshed (shard, n_rows) manifest.

    Scale: the touched-shard set is |distinct update buckets| ≤
    n_shards (a bounded driver collect); the rewrite reads and
    shuffles ONLY those shards' rows plus the updates. A full-table
    MERGE degrades gracefully to rewriting every shard — the q54
    cost — while a point-update MERGE costs one shard.

    Precondition (lakehouse MERGE semantics): ``updates`` must hold
    at most ONE row per key — Delta/Iceberg MERGE rejects a source
    that matches a target row more than once rather than guessing
    which version wins. Enforced with an explicit one-aggregate
    check that fails fast before any file is touched; callers with
    multi-version update feeds dedupe first with their own ordering
    (e.g. a row_number over (key, version DESC)).

    Crash safety (write-ahead staging): merged rows are written
    durably under ``_merge_staging`` and an atomic ``_COMMIT.json``
    is recorded BEFORE any old file is deleted. A crash before the
    commit record aborts with the table untouched; a crash anywhere
    after it leaves a state ``repair_sharded_merge`` finishes
    idempotently (and this function runs that repair at entry).
    Single-writer by contract, like the table formats' default.
    """
    spark = updates.sparkSession
    repair_sharded_merge(spark, path)
    dup = (
        updates.groupBy(key_col)
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "merge_into_sharded: updates contain duplicate keys in "
            f"{key_col!r}; MERGE requires one source row per key — "
            "dedupe with the caller's version ordering first"
        )
    shard_of = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast(
        "int"
    )
    keys = updates.select(F.col(key_col))
    if delete_keys is not None:
        keys = keys.unionByName(delete_keys.select(F.col(key_col)))
    touched = sorted(
        r["shard"]
        for r in keys.select(shard_of.alias("shard")).distinct().collect()
    )  # bounded by n_shards
    if touched:
        old = (
            spark.read.parquet(path)
            .filter(F.col("shard").isin(touched))
            .drop("shard")
        )
        kept = old.join(keys.distinct(), key_col, "left_anti")
        merged = kept.unionByName(updates)
        if delete_keys is not None:
            merged = merged.join(
                delete_keys.select(key_col).distinct(), key_col, "left_anti"
            )
        # WRITE-AHEAD staging (the commit protocol): the merged rows
        # land DURABLY under _merge_staging/data BEFORE any old file
        # is deleted — this both materializes the plan (which lazily
        # reads the very shards about to be replaced) and closes the
        # crash window the earlier localCheckpoint version had,
        # where a driver death between delete and append lost the
        # touched shards' surviving rows. The atomic _COMMIT record
        # is the point of no return: before it, a crash aborts the
        # merge with the table untouched; after it, the swap is
        # finishable idempotently by repair_sharded_merge (the same
        # WAL-then-swap shape a lakehouse table format uses).
        _stage_merge(
            spark, path, merged.withColumn("shard", shard_of), touched
        )
        _finish_merge(spark, path)
    final = completed_shards(spark, path)
    return driver_frame(
        spark,
        sorted((s, n) for s, n in final.items()), "shard int, n_rows bigint"
    )


def _staging_dir(path: str) -> str:
    return f"{path}/_merge_staging"


def _stage_merge(spark, path: str, out: DataFrame, touched: list[int]) -> None:
    """Phase 1: durable staging write + atomic commit record."""
    import json as _json

    stage = _staging_dir(path)
    fs, _, jvm = _hadoop_fs(spark, path)
    sp = jvm.org.apache.hadoop.fs.Path(stage)
    if fs.exists(sp):
        fs.delete(sp, True)  # caller already repaired/aborted any prior merge
    out.write.mode("overwrite").partitionBy("shard").parquet(f"{stage}/data")
    # explicit schema: a delete-only merge stages ZERO rows (no
    # parquet footers to infer from), which must still commit
    counts = {
        int(r["shard"]): int(r["n"])
        for r in spark.read.schema(out.schema)
        .parquet(f"{stage}/data")
        .groupBy("shard")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    rec = {
        "touched": sorted(int(s) for s in touched),
        "counts": {str(s): counts.get(s, 0) for s in touched},
    }
    # write-then-rename: the commit record either exists complete or
    # not at all
    tmp = jvm.org.apache.hadoop.fs.Path(f"{stage}/._COMMIT.json.tmp")
    stream = fs.create(tmp, True)
    try:
        stream.write(_json.dumps(rec).encode())
    finally:
        stream.close()
    fs.rename(tmp, jvm.org.apache.hadoop.fs.Path(f"{stage}/_COMMIT.json"))


def _finish_merge(spark, path: str) -> None:
    """Phase 2 (idempotent, resumable): per touched shard — drop the
    marker, drop the old directory, move the staged directory into
    place, rewrite the marker — then clear the staging area. Safe to
    re-run from any interruption point: a shard whose staged
    directory is gone but whose target/marker state is final is
    skipped, one mid-swap is completed."""
    import json as _json

    stage = _staging_dir(path)
    fs, _, jvm = _hadoop_fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    commit = P(f"{stage}/_COMMIT.json")
    stream = fs.open(commit)
    try:
        buf = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream)
        )
        data = []
        line = buf.readLine()
        while line is not None:
            data.append(line)
            line = buf.readLine()
    finally:
        stream.close()
    rec = _json.loads("".join(data))
    for s in rec["touched"]:
        staged = P(f"{stage}/data/shard={s}")
        target = P(f"{path}/shard={s}")
        marker = P(f"{path}/_shard_manifests/shard-{s:05d}.json")
        n = int(rec["counts"].get(str(s), 0))
        if fs.exists(staged):
            # swap not yet done for this shard
            if fs.exists(marker):
                fs.delete(marker, False)
            if fs.exists(target):
                fs.delete(target, True)
            fs.rename(staged, target)
        elif n == 0 and fs.exists(target):
            # 0-row shard (delete-only merge emptied it): the old
            # directory must go even though nothing was staged
            fs.delete(target, True)
        # (staged dir absent otherwise: the rename already happened
        # on a previous attempt)
        # marker ALWAYS rewritten — the swap deletes it, and the
        # commit record is the authority for the new count (an
        # unchanged count must not skip the rewrite)
        _write_marker(spark, path, s, n)
    fs.delete(P(stage), True)


def repair_sharded_merge(spark, path: str) -> str:
    """Recover a sharded table from a merge interrupted at ANY point.
    Returns what happened: "clean" (no pending merge), "aborted"
    (staging existed but the commit record did not — the table was
    never touched, the partial staging is discarded), or "finished"
    (a committed merge's swap was completed idempotently). Call
    before reading a table that might have a crashed writer;
    merge_into_sharded runs it automatically at entry."""
    stage = _staging_dir(path)
    fs, _, jvm = _hadoop_fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(P(stage)):
        return "clean"
    if not fs.exists(P(f"{stage}/_COMMIT.json")):
        fs.delete(P(stage), True)
        return "aborted"
    _finish_merge(spark, path)
    return "finished"


def audit_sharded(spark, path: str) -> DataFrame:
    """fsck for the sharded layout: one row per shard with the
    marker's recorded count, the actual on-disk row count, and a
    status — "ok" (equal), "mismatch" (both exist, differ),
    "unmarked" (data without a marker: a crashed export batch —
    write_sharded_resumable will rewrite it), or "dangling_marker"
    (marker without data — only legitimate for a recorded 0).
    Also surfaces a pending merge staging area if one exists (run
    repair_sharded_merge first in that case; counts below would be
    mid-swap). Driver memory is bounded by the shard count.
    """
    fs, _, jvm = _hadoop_fs(spark, path)
    pending = fs.exists(
        jvm.org.apache.hadoop.fs.Path(f"{path}/_merge_staging")
    )
    marked = completed_shards(spark, path)
    actual = {
        int(r["shard"]): int(r["n"])
        for r in spark.read.parquet(path)
        .groupBy("shard")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    rows = []
    for s in sorted(set(marked) | set(actual)):
        m, a = marked.get(s), actual.get(s, 0)
        if m is None:
            status = "unmarked"
        elif m == a:
            status = "ok"
        elif a == 0 and m != 0:
            status = "dangling_marker"
        else:
            status = "mismatch"
        rows.append((s, m, a, status, pending))
    return driver_frame(
        spark,
        rows,
        "shard int, marked_rows bigint, actual_rows bigint, "
        "status string, merge_pending boolean",
    )


def zorder_key_n(
    cols: list,
    ranges: list[tuple[int, int]],
    bits: int = 16,
) -> "F.Column":
    """N-dimensional Morton key — ``zorder_key`` generalized: bit b
    of scaled column i lands at position b*n_cols + i, so any
    prefix of the key still clusters ALL dimensions. Same pure
    Column arithmetic (no UDF, no job at construction). Total key
    width bits*n_cols must fit a signed long (≤63); 16 bits × up to
    3 dims or 10 bits × up to 6 dims are the practical shapes.
    """
    from pyspark.sql import functions as F  # noqa: F811

    n = len(cols)
    if len(ranges) != n:
        raise ValueError("one (min, max) range per column required")
    if bits * n > 63:
        raise ValueError(f"bits*n_cols = {bits * n} exceeds signed long")

    def scaled(c, lo, hi):
        c = F.col(c) if isinstance(c, str) else c
        span = max(1, hi - lo)
        v = ((c.cast("bigint") - F.lit(lo)) * F.lit((1 << bits) - 1)) / F.lit(
            float(span)
        )
        return F.least(
            F.greatest(v.cast("bigint"), F.lit(0)), F.lit((1 << bits) - 1)
        )

    scaled_cols = [scaled(c, lo, hi) for c, (lo, hi) in zip(cols, ranges)]
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, sc in enumerate(scaled_cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(sc, b).bitwiseAND(F.lit(1)), b * n + i
                )
            )
    return z


def sharded_change_feed(
    spark,
    path: str,
    updates: DataFrame,
    key_col: str,
    n_shards: int,
    delete_keys: DataFrame | None = None,
) -> DataFrame:
    """Change data feed for a pending sharded MERGE — what downstream
    incremental consumers subscribe to: one row per affected key with
    ``op`` ∈ {insert, update, delete} and the post-merge values
    (NULLs for delete). Read-only (run it before or instead of
    merge_into_sharded); reads ONLY the touched shards' keys via the
    same hash pruning as the merge, and only the key column of them
    (columnar scan prunes the rest).

    op classification: an update key already present in the table is
    an update, an absent one an insert; delete keys not present are
    dropped (deleting a missing key is a no-op, not an event).
    """
    shard_of = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int")
    keys = updates.select(key_col)
    if delete_keys is not None:
        keys = keys.unionByName(delete_keys.select(key_col))
    touched = sorted(
        r["shard"]
        for r in keys.select(shard_of.alias("shard")).distinct().collect()
    )
    existing = (
        spark.read.parquet(path)
        .filter(F.col("shard").isin(touched))
        .select(key_col)
        .distinct()
    )
    upd_ops = updates.join(
        existing.withColumn("__present", F.lit(True)), key_col, "left"
    ).select(
        F.when(F.col("__present").isNotNull(), F.lit("update"))
        .otherwise(F.lit("insert"))
        .alias("op"),
        *[c for c in updates.columns],
    )
    if delete_keys is None:
        return upd_ops
    value_cols = [c for c in updates.columns if c != key_col]
    del_ops = (
        delete_keys.select(key_col)
        .join(existing, key_col, "left_semi")
        .select(
            F.lit("delete").alias("op"),
            F.col(key_col),
            *[
                F.lit(None).cast(updates.schema[c].dataType).alias(c)
                for c in value_cols
            ],
        )
    )
    return upd_ops.unionByName(del_ops)
