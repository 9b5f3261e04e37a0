"""The catalog's ``_format`` sidecar records every dataset's schema and
data bytes: ``get`` reads with the schema (no Spark job infers one,
partition columns keep their written types) and reads a dataset no
bigger than Spark's file open cost as one partition; sidecars without
a schema still read by inference, sidecars without bytes as they were
written, and ``ls`` lists the part files of partitioned datasets."""

from __future__ import annotations

import datetime as dt
import gc
import json
import os
import warnings

from pyspark.sql import functions as F

from distributed_computing_projects_spark.catalog import Catalog
from distributed_computing_projects_spark.profile import job_group
from distributed_computing_projects_spark.sources import load_table


def _lineitem(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_shipdate"
    )


def _put_all(cat, df):
    for fmt in Catalog.FORMATS:
        cat.put(f"li_{fmt}", df, fmt=fmt)
    # three partition directories, under Spark's parallel-listing
    # threshold (32), above which listing them starts a job
    cat.put_partitioned("li_part", df, ["l_returnflag"])
    return [f"li_{fmt}" for fmt in Catalog.FORMATS] + ["li_part"]


def _count(spark, df):
    """Rows, jobs started, and whether the executed plan has an
    Exchange, for the plan ``df.count()`` runs."""
    counted = df.groupBy().count()
    with job_group(spark) as jobs:
        n = counted.collect()[0][0]
    plan = counted._jdf.queryExecution().executedPlan().toString()
    return n, len(jobs()), "Exchange" in plan


def _results(df, cols):
    """Sorted rows and a sorted filtered aggregate of ``df``."""
    agg = (df.where(F.col("l_quantity") >= 10).groupBy("l_returnflag")
           .agg(F.count("*"), F.sum("l_quantity")))
    return (sorted(map(tuple, df.select(*cols).collect())),
            sorted(map(tuple, agg.collect())))


def test_small_dataset_reads_as_one_partition(spark, sf_dir, tmp_path):
    """Forced-path equality: a dataset within the open cost counts in
    one job with no Exchange; with the open cost set below its size it
    takes Spark's own split path (two jobs, an Exchange), and both
    paths return the same rows and aggregate."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    li = _lineitem(spark, sf_dir)
    names = _put_all(cat, li)
    n = li.count()
    small_path = {}
    for name in names:
        meta = cat._read_meta(os.path.join(cat.root, name))
        assert meta["bytes"] == sum(f["bytes"] for f in cat.ls(name)), name
        assert meta["bytes"] > 1024, name
        got = cat.get(name)
        assert _count(spark, got) == (n, 1, False), name
        small_path[name] = _results(got, li.columns)
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        for name in names:
            got = cat.get(name)
            assert _count(spark, got) == (n, 2, True), name
            assert _results(got, li.columns) == small_path[name], name
    finally:
        spark.conf.set(key, old)


def test_sidecar_without_bytes_reads_as_written(spark, sf_dir, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    li = _lineitem(spark, sf_dir)
    n = li.count()
    for name in _put_all(cat, li):
        sidecar = os.path.join(cat.root, name, Catalog.SIDECAR)
        with open(sidecar) as f:
            meta = json.load(f)
        del meta["bytes"]
        with open(sidecar, "w") as f:
            json.dump(meta, f)
        assert _count(spark, cat.get(name)) == (n, 2, True), name


def test_get_starts_no_job(spark, sf_dir, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    li = _lineitem(spark, sf_dir)
    names = _put_all(cat, li)
    for name in names:
        with job_group(spark) as jobs:
            got = cat.get(name)
        assert jobs() == [], name
        assert sorted(got.columns) == sorted(li.columns)
        assert got.count() == li.count()


def test_sidecar_without_schema_reads_by_inference(spark, sf_dir, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    li = _lineitem(spark, sf_dir)
    _put_all(cat, li)
    for name, fmt in (("li_parquet", "parquet"), ("li_orc", "orc"),
                      ("li_part", "parquet")):
        with open(os.path.join(cat.root, name, Catalog.SIDECAR), "w") as f:
            json.dump({"format": fmt}, f)
        got = cat.get(name)
        assert sorted(got.dtypes) == sorted(li.dtypes), name
        assert got.count() == li.count()


def test_partition_column_keeps_its_type(spark, tmp_path):
    """Re-inferred from directory names, a timestamp_ntz partition
    column used to come back as timestamp."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    df = spark.createDataFrame(
        [(1, dt.datetime(1995, 3, 15)), (2, dt.datetime(1995, 3, 15)),
         (3, dt.datetime(1996, 1, 2, 12, 30))],
        "l_orderkey bigint, l_shipdate timestamp_ntz",
    )
    cat.put_partitioned("by_day", df, ["l_shipdate"])
    got = cat.get("by_day")
    assert dict(got.dtypes)["l_shipdate"] == "timestamp_ntz"
    assert (sorted(map(tuple, got.select(*df.columns).collect()))
            == sorted(map(tuple, df.collect())))


def test_ls_lists_partitioned_part_files(spark, sf_dir, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    li = _lineitem(spark, sf_dir)
    cat.put_partitioned("li_part", li, ["l_returnflag"])
    files = cat.ls("li_part")
    flags = {r.l_returnflag for r in li.select("l_returnflag").distinct().collect()}
    assert {f["file"].split("/")[0] for f in files} == {
        f"l_returnflag={v}" for v in flags
    }
    for f in files:
        part_dir, part = f["file"].split("/")
        assert part.startswith("part-") and part.endswith(".parquet")
        assert f["bytes"] == os.path.getsize(
            os.path.join(cat.root, "li_part", part_dir, part))
    assert files == sorted(files, key=lambda f: f["file"])


def test_read_meta_closes_the_sidecar(spark, sf_dir, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.put("nation", load_table(spark, sf_dir, "nation"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always", ResourceWarning)
        meta = cat._read_meta(os.path.join(cat.root, "nation"))
        gc.collect()
    assert meta["format"] == "parquet"
    assert not [w for w in caught if issubclass(w.category, ResourceWarning)]
