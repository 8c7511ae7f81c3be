"""Source readers (SURVEY.md §2.1 S1-S4).

The reference stages CSVs through pandas (scripts/01_ingest_csv_to_parquet.py:46)
— a single-process bottleneck at scale. Here every source is a Spark
reader, so a 100 TB CSV/Parquet directory scans in parallel across
executors, with predicate pushdown and column pruning handled by
Catalyst (Parquet) or partition-parallel fetch (JDBC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_parquet(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Parquet scan (S3): vectorized columnar read with pushdown.

    ``merge_schema=True`` unions the footers of every file — the
    schema-EVOLUTION read (a long-lived dataset whose later files
    gained columns): old files surface the new columns as NULL.
    Off by default because footer-merging reads every file's footer
    up front (at 100 TB that is a real listing cost — evolved
    datasets should pin an explicit read schema instead once the
    evolution is known; see tests/test_format_roundtrip.py).
    """
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the fixture tables from a scale-factor directory."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
    drop_all_null_rows: bool = True,
    **options,
) -> DataFrame:
    """CSV scan (S1/S2), Spark-native — replaces the reference's pandas
    detour (scripts/01_ingest_csv_to_parquet.py:46).

    With an explicit ``schema`` the read fast-fails on shape drift and
    skips the extra inference pass; malformed cells become NULL
    (PERMISSIVE), matching the reference's clean-later semantics.
    ``drop_all_null_rows`` mirrors ``dropna(how="all")``
    (01_ingest_csv_to_parquet.py:56).
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    reader = reader.option("mode", "PERMISSIVE")
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.csv(path)
    if drop_all_null_rows:
        df = df.na.drop(how="all")
    return df


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    **options,
) -> DataFrame:
    """JSON-lines scan. Always pass ``schema`` in production — schema
    inference runs an extra full pass over the data."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (columnar, pushdown-capable like Parquet)."""
    return spark.read.orc(path)


def read_text(
    spark: SparkSession,
    path: str,
    wholetext: bool = False,
    line_sep: str | None = None,
    recursive: bool = False,
    path_glob: str | None = None,
) -> DataFrame:
    """Raw text scan (built-in ``text`` source): one ``value`` STRING
    row per line (or per file with ``wholetext=True`` — the raw-corpus
    ingest shape, one document per file).

    Scale: line mode splits FILES across tasks at newline boundaries
    (`spark.sql.files.maxPartitionBytes` governs split size), so a
    100 TB directory of .txt parallelizes like any other scan.
    ``wholetext=True`` disables splitting (each file is one row —
    size your files accordingly, the same contract as binaryFile).
    gzip/bzip2 inputs decode transparently but are NOT splittable —
    one task per .gz file, so shard compressed corpora into many
    files.
    """
    # wholetext/lineSep MUST go through text()'s named parameters:
    # DataFrameReader.text() re-sets them from its own defaults, so a
    # prior .option("wholetext", ...) is silently overridden (measured
    # on PySpark 4.1 — the option-string form returned line mode).
    reader = spark.read
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    if path_glob is not None:
        reader = reader.option("pathGlobFilter", path_glob)
    return reader.text(path, wholetext=wholetext, lineSep=line_sep)


def read_binary_files(
    spark: SparkSession,
    path: str,
    path_glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Binary-file scan (built-in ``binaryFile`` source): one row per
    file with (path, modificationTime, length, content BINARY) — the
    ingest edge of the multimodal column model: point it at an
    image/audio directory and feed ``content`` straight into the
    Arrow decoders (operators/multimodal.py), which is exactly how
    payload columns enter the engine from object storage.

    Scale: files are NEVER split (content is one cell), so
    parallelism = file count; keep payloads well under executor
    memory and bound per-task batches with
    ``spark.sql.files.maxPartitionBytes`` /
    ``spark.sql.files.openCostInBytes`` (many small files coalesce
    into shared tasks). Push ``path_glob`` down so directory listing
    prunes before any read.
    """
    reader = spark.read.format("binaryFile")
    if path_glob is not None:
        reader = reader.option("pathGlobFilter", path_glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: StructType | str | None = None,
    **options,
) -> DataFrame:
    """XML scan (Spark 4's built-in ``xml`` source — the former
    spark-xml package, integrated upstream): one row per ``row_tag``
    element; attributes surface as ``_attr`` columns.

    Always pass ``schema`` in production — like JSON, inference runs
    an extra full pass. Scale: XML is NOT a splittable layout (a
    document's tree can't be entered mid-file), so parallelism =
    file count; shard large exports into many files just like .gz
    text.
    """
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """JDBC scan (S4) with partition-parallel fetch.

    The reference reads warehouse tables on a single connection
    (config.py:40-49 — no partitioning options), which serializes the
    entire fetch through one task. At scale, ``partition_column`` +
    bounds + ``num_partitions`` splits the read into concurrent range
    queries. ``columns`` prunes the projection inside the pushed query
    (JDBC sources only push projections, not arbitrary predicates).
    """
    if partition_column is not None and (lower_bound is None or upper_bound is None):
        raise ValueError(
            "partition_column requires lower_bound and upper_bound "
            "(Spark would otherwise receive the literal string 'None')"
        )
    query_table = table
    if columns:
        # ANSI-quote bare identifiers: Spark's JDBC writer creates
        # quoted (case-preserved) columns, while unquoted names are
        # case-folded by the database (Derby/Oracle upper, Postgres
        # lower) — an unquoted projection can then miss the column.
        quoted = [c if '"' in c else f'"{c}"' for c in columns]
        query_table = f"(SELECT {', '.join(quoted)} FROM {table}) AS pruned"
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", query_table)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()


def read_pruned(
    spark: SparkSession,
    manifest: DataFrame,
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Manifest-driven file skipping: read ONLY the parquet files
    whose recorded ``[min_<col>, max_<col>]`` interval (from
    ``sources.writers.export_manifest``) overlaps ``[lo, hi]``, then
    apply the residual row filter. This prunes at the FILE level
    before Spark even lists the export — the same trick behind
    Delta/Iceberg data skipping, driven by our own manifests — and
    composes with ``write_zordered``: a z-ordered layout gives tight
    per-file rectangles on BOTH cluster columns, so intervals on
    either column skip most files (asserted with measured file
    counts in tests/test_format_roundtrip.py).

    The collect is bounded by the number of FILES in the export
    (n_files is a writer parameter, not data-sized): one row of
    (path) per surviving file, never row data. Returns an empty
    DataFrame with the export's schema when nothing overlaps.
    """
    lo_c, hi_c = F.col(f"min_{col}"), F.col(f"max_{col}")
    paths = [
        r.path
        for r in manifest.filter(
            (hi_c >= F.lit(lo)) & (lo_c <= F.lit(hi))
        )
        .select("path")
        .collect()
    ]
    residual = F.col(col).between(F.lit(lo), F.lit(hi))
    if not paths:
        any_path = [r.path for r in manifest.select("path").limit(1).collect()]
        if not any_path:
            # zero-file manifest: there is no parquet footer to take a
            # schema from — fail with a clear contract error instead of
            # spark.read.parquet()'s cryptic empty-path exception
            raise ValueError(
                "read_pruned: manifest lists no files; cannot derive "
                "the export schema for an empty result"
            )
        template = spark.read.parquet(*any_path)
        return template.filter(F.lit(False))
    return spark.read.parquet(*paths).filter(residual)
