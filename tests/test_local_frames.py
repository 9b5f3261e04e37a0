"""``operators/spread.local_frame``: driver-side rows become a DataFrame
through one pyarrow Table, so its plan is a ``LocalTableScan`` and no
Python worker runs for it (``createDataFrame`` over a Python list plans
a pickled ``PythonRDD`` stage, served by a worker daemon of its own)."""

from __future__ import annotations

import os
import re

from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, LongType, StringType, StructField,
    StructType,
)

import distributed_computing_projects_spark as pkg
from distributed_computing_projects_spark.operators import dedup as D
from distributed_computing_projects_spark.operators.spread import local_frame
from distributed_computing_projects_spark.sources import hudi as HU


def _assert_local(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.lstrip().startswith("LocalTableScan"), plan
    assert "PythonRDD" not in df._jdf.rdd().toDebugString()


def test_local_frame_keeps_schema_and_values(spark):
    schema = StructType([
        StructField("id", LongType(), False),
        StructField("name", StringType(), True),
        StructField("keep", BooleanType(), True),
        StructField("vec", ArrayType(DoubleType()), True),
    ])
    rows = [(2, "b", False, None), (1, None, True, [0.5, 1.0])]
    df = local_frame(spark, rows, schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == rows
    _assert_local(df)
    empty = local_frame(spark, [], "`a b` string, n bigint")
    assert empty.columns == ["a b", "n"] and empty.collect() == []
    _assert_local(empty)


def test_neardup_driver_path_output_is_a_local_table(spark):
    pairs = local_frame(spark, [(1, 2), (2, 3), (7, 8)],
                        "id_a bigint, id_b bigint")
    out = D.neardup_clusters(pairs)
    _assert_local(out)
    assert sorted(map(tuple, out.collect())) == [
        (1, 1, True, 3), (2, 1, False, 3), (3, 1, False, 3),
        (7, 7, True, 2), (8, 7, False, 2)]


def test_empty_lakehouse_frame_is_a_local_table(spark, tmp_path):
    table = str(tmp_path / "empty")
    HU.init_table(table)
    df = HU.read_hudi(spark, table, "k bigint, v string")
    _assert_local(df)
    assert df.collect() == []


def test_create_dataframe_only_in_local_frame():
    root = os.path.dirname(pkg.__file__)
    hits = []
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".py"):
                path = os.path.join(dirpath, n)
                with open(path, encoding="utf-8") as f:
                    for i, line in enumerate(f, 1):
                        if re.search(r"createDataFrame\(", line):
                            hits.append(f"{os.path.relpath(path, root)}:{i}")
    assert len(hits) == 1 and hits[0].startswith("operators/spread.py:"), hits
