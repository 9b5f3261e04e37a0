"""Table registry over the driver-generated parquet testdata.

The reference resolves dataset names through the SDFS master's
``fileMap``/``sdfsFNameMap`` (mp3/src/sdfsmaster.go:17-25); here a name
resolves to ``<sf_dir>/<name>.parquet`` and Spark's FileSourceScanExec
does split planning (the reference's line-aligned ``GetLogicalSplits``,
mp3/src/sdfs.go:94-106, is built into the datasource layer).

Like the master's maps, a name's schema is known without touching the
data after the first read: ``spark.read.parquet`` without a schema runs
a one-task Spark job to read a footer, so ``load_table`` memoizes the
schema Spark inferred and reads with it afterwards. The memo key is the
file's identity (absolute path, inode, size, mtime in ns) plus every
session conf whose key mentions ``parquet`` (binaryAsString,
int96AsTimestamp, inferTimestampNTZ, nanosAsLong, ...), so a rewritten
file or a flipped conf infers again. A path that is not a local regular
file (a non-local ``sf_dir``, or a directory of part files, whose stat
misses a part rewritten in place) is read with inference every time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

_SCHEMAS: dict[tuple, StructType] = {}


def _parquet_confs(spark: SparkSession) -> tuple:
    """The session's confs whose key mentions ``parquet``, sorted.
    ``spark.conf.getAll`` makes one py4j round trip per conf (~25 ms);
    this reads the same map's keys in one and only the matches' values."""
    confs = spark.conf._jconf.getAllAsJava()
    keys = confs.keySet().toString()[1:-1].split(", ")
    return tuple(sorted((k, confs.get(k)) for k in keys if "parquet" in k))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema memoized per file
    identity and parquet conf (module docstring)."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_ino, st.st_size, st.st_mtime_ns,
           _parquet_confs(spark))
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    # Runtime-settable confs the queries depend on, applied here (not
    # only in session.py) so results are correct under a session we
    # didn't build, e.g. the driver's own harness:
    # - nanosAsLong: events.parquet stores TIMESTAMP(NANOS), which the
    #   parquet reader otherwise rejects outright;
    # - UTC session TZ: timestamp values must render identically to the
    #   DuckDB oracle's naive-UTC timestamps wherever the host TZ.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    # events.ts is TIMESTAMP(NANOS) in parquet; with nanosAsLong it
    # arrives as a bigint of nanoseconds — convert (µs resolution,
    # verified lossless for the driver data).
    if dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` queries run
    against the same names the DuckDB oracle uses."""
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
