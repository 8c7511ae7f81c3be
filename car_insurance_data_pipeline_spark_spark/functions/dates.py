"""Date/time functions (SURVEY.md §2.8 F5-F12).

Column-composed, codegen-friendly. ``date_dimension`` is the
sequence+explode generator (scripts/04_load_dimension_tables.py:166-180)
generalized: at 100 TB scale the date dim stays tiny (rows = days), so
it is always broadcast-joined.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def yyyymmdd_key(col: Column | str) -> Column:
    """Date/timestamp → int yyyyMMdd surrogate date key
    (scripts/05_load_fact_tables.py:110-119)."""
    return F.date_format(_c(col), "yyyyMMdd").cast("int")


def from_unix_millis(col: Column | str) -> Column:
    """Unix epoch milliseconds (string/double/long) → timestamp
    (scripts/03_clean_multisource_data.py:229).

    Goes through double first: raw CSVs carry float-formatted epochs
    ("1704067202000.0") which a direct string→long try_cast NULLs.
    """
    return F.timestamp_millis(_c(col).try_cast("double").try_cast("long"))


def date_dimension(spark: SparkSession, start: str, end: str) -> DataFrame:
    """Calendar dimension, one row/day in [start, end].

    Runtime shape per scripts/04_load_dimension_tables.py:172-180:
    date_key, year, month, day, day_of_week (name), month_name,
    quarter. Generated via sequence+explode — a single-task generate
    is fine because the output is O(days), not O(data).
    """
    dates = spark.sql(
        f"SELECT explode(sequence(to_date('{start}'), to_date('{end}'), "
        "interval 1 day)) AS date_key"
    )
    return dates.select(
        F.col("date_key"),
        F.year("date_key").alias("year"),
        F.month("date_key").alias("month"),
        F.dayofmonth("date_key").alias("day"),
        F.date_format("date_key", "EEEE").alias("day_of_week"),
        F.date_format("date_key", "MMMM").alias("month_name"),
        F.quarter("date_key").alias("quarter"),
        F.dayofweek("date_key").isin(1, 7).alias("is_weekend"),
        yyyymmdd_key(F.col("date_key")).alias("date_key_int"),
    )
