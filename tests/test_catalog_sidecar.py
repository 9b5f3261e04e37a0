"""The catalog's ``_format`` sidecar records every dataset's schema:
``get`` reads with it (no Spark job infers a schema, partition columns
keep their written types), sidecars without a schema still read by
inference, and ``ls`` lists the part files of partitioned datasets."""

from __future__ import annotations

import datetime as dt
import gc
import json
import os
import warnings

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
