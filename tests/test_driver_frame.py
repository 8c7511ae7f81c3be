"""One driver→JVM primitive: every frame the package builds from
driver-side rows goes through ``session.driver_frame``, which hands the
rows to the JVM as an Arrow table instead of a pickled Python RDD, so
reading the frame starts no Python worker."""

from __future__ import annotations

import ast
import datetime
import math
import os

import pandas as pd
import pytest
from pyspark.sql.types import (
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from car_insurance_data_pipeline_spark_spark.session import driver_frame

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "car_insurance_data_pipeline_spark_spark",
)


def test_driver_rows_reach_the_jvm_only_through_driver_frame():
    """No module but session.py calls ``.createDataFrame(...)``.
    Matched on the AST, so docstrings and comments do not trip it."""
    offenders = []
    for root, _dirs, files in os.walk(_PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, _PKG)
            if rel == "session.py":
                continue
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=path)
            offenders += [
                f"{rel}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ]
    assert offenders == [], offenders


_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("x", DoubleType()),
        StructField("n", LongType()),
        StructField("s", StringType()),
        StructField("d", DateType()),
    ]
)


def test_list_rows_keep_schema_nan_and_nulls(spark):
    day = datetime.date(2024, 2, 29)
    df = driver_frame(
        spark,
        [(1, float("nan"), 7, "a", day), (2, None, None, None, None)],
        _SCHEMA,
    )
    assert df.schema == _SCHEMA
    r1, r2 = sorted(df.collect())
    assert math.isnan(r1.x) and (r1.n, r1.s, r1.d) == (7, "a", day)
    assert (r2.x, r2.n, r2.s, r2.d) == (None, None, None, None)
    # NaN and NULL stay distinct inside Spark, not just in the collect
    counts = df.selectExpr(
        "count_if(isnan(x))", "count_if(x IS NULL)"
    ).first()
    assert tuple(counts) == (1, 1)


def test_ddl_schema_and_empty_input(spark):
    df = driver_frame(spark, [], "a int, b string")
    assert df.schema.simpleString() == "struct<a:int,b:string>"
    assert df.collect() == []
    assert df.count() == 0
    empty_pdf = pd.DataFrame(columns=_SCHEMA.fieldNames())
    assert driver_frame(spark, empty_pdf, _SCHEMA).schema == _SCHEMA


def test_pandas_input_nan_is_null(spark):
    pdf = pd.DataFrame({"k": ["a", "b"], "v": [1.5, float("nan")]})
    df = driver_frame(spark, pdf, "k string, v double")
    assert df.schema.simpleString() == "struct<k:string,v:double>"
    assert sorted(df.collect()) == [("a", 1.5), ("b", None)]


def test_null_in_non_nullable_field_raises(spark):
    with pytest.raises(ValueError, match="non-nullable field 'id'"):
        driver_frame(spark, [(None, 1.0, 1, "a", None)], _SCHEMA)


def _rdd_scan_lineages(node, out):
    """Each RDD-backed scan's RDD lineage in an executed plan, walking
    into AQE query stages (which are leaves of the final plan)."""
    cls = node.getClass().getSimpleName()
    if cls == "RDDScanExec":
        out.append(node.rdd().toDebugString())
    if cls == "AdaptiveSparkPlanExec":
        return _rdd_scan_lineages(node.executedPlan(), out)
    if cls.endswith("QueryStageExec"):
        return _rdd_scan_lineages(node.plan(), out)
    children = node.children()
    for i in range(children.size()):
        _rdd_scan_lineages(children.apply(i), out)
    return out


@pytest.mark.parametrize(
    "name", ["q41_embedding_dup_pairs", "q113_pagerank_centrality"]
)
def test_driver_built_frames_need_no_python_rdd(spark, sf_dir, name):
    """q41's block-pair table and q113's driver-route rank table used
    to be pickled Python RDDs, so every job reading them started
    Python workers; their executed plans now read no such RDD."""
    from car_insurance_data_pipeline_spark_spark.plans.catalog import (
        all_queries,
    )
    from car_insurance_data_pipeline_spark_spark.session import release_all

    df = all_queries()[name](spark, sf_dir)
    assert df.collect()
    lineages = _rdd_scan_lineages(df._jdf.queryExecution().executedPlan(), [])
    release_all(spark)
    assert not [s for s in lineages if "applySchemaToPythonRDD" in s], lineages
