"""The schema memo in ``sources.registry.load_table``: the first load of
a table infers its schema (one Spark job reading a footer), later loads
read with the memoized schema and start no job, and a rewritten file or
a flipped parquet conf infers again."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from distributed_computing_projects_spark.profile import job_group
from distributed_computing_projects_spark.sources import registry as R


@pytest.fixture()
def memo(monkeypatch):
    """An empty memo for the test, so its first load infers."""
    schemas: dict = {}
    monkeypatch.setattr(R, "_SCHEMAS", schemas)
    return schemas


def _rows(df):
    return sorted(map(repr, df.collect()))


@pytest.mark.parametrize("name", R.TABLE_NAMES)
def test_memoized_load_matches_inference(spark, sf_dir, memo, name):
    inferred = R.load_table(spark, sf_dir, name)
    assert len(memo) == 1
    memoized = R.load_table(spark, sf_dir, name)
    fresh = R.load_table(spark, "file:" + sf_dir, name)
    assert memoized.schema == inferred.schema == fresh.schema
    assert _rows(memoized) == _rows(fresh)


def test_second_load_starts_no_job(spark, sf_dir, memo, tmp_path):
    shutil.copy(f"{sf_dir}/region.parquet", tmp_path / "region.parquet")
    d = str(tmp_path)
    with job_group(spark) as first:
        R.load_table(spark, d, "region")
    with job_group(spark) as second:
        df = R.load_table(spark, d, "region")
    assert (len(first()), len(second())) == (1, 0)
    assert df.count() == R.load_table(spark, sf_dir, "region").count()


def test_file_rewritten_in_place_infers_again(spark, memo, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    ino = os.stat(path).st_ino
    assert R.load_table(spark, str(tmp_path), "region").columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    assert os.stat(path).st_ino == ino
    got = R.load_table(spark, str(tmp_path), "region")
    assert got.columns == ["a", "b"]
    assert [tuple(r) for r in got.collect()] == [(3, "x")]


def test_flipped_binary_as_string_infers_again(spark, memo, tmp_path):
    pq.write_table(pa.table({"b": pa.array([b"hi"], pa.binary())}),
                   tmp_path / "region.parquet")
    d = str(tmp_path)
    key = "spark.sql.parquet.binaryAsString"
    assert dict(R.load_table(spark, d, "region").dtypes)["b"] == "binary"
    spark.conf.set(key, "true")
    try:
        got = R.load_table(spark, d, "region")
    finally:
        spark.conf.unset(key)
    assert dict(got.dtypes)["b"] == "string"
    assert got.collect()[0].b == "hi"
    assert dict(R.load_table(spark, d, "region").dtypes)["b"] == "binary"


def test_file_uri_sf_dir_loads_by_inference(spark, sf_dir, memo):
    got = R.load_table(spark, "file:" + sf_dir, "nation")
    assert got.count() == R.load_table(spark, sf_dir, "nation").count()
    assert not any(k[0].startswith("file:") for k in memo)
