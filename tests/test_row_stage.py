"""The one Python row stage (operators/spread.flat_map_rows): drop and
fan-out, one input row fanning out past the Arrow flush size, nulls in
and out, typed output columns, the plain-Python values a row function
receives, and a streaming availableNow run through a record source's
``*_from_binary`` twin."""

from __future__ import annotations

import datetime as dt
import struct

from pyspark.sql import functions as F

from distributed_computing_projects_spark.operators.spread import (
    BATCH_ROWS,
    flat_map_rows,
)


def test_drop_and_fan_out(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "n bigint")

    def fn(n):
        if n == 2:
            return  # no output tuple: the row drops
        for k in range(n):
            yield n, k

    got = sorted(tuple(r) for r in
                 flat_map_rows(df, fn, "n bigint, k bigint").collect())
    assert got == [(1, 0), (3, 0), (3, 1), (3, 2)]


def test_one_row_fans_out_across_flush_boundary(spark):
    """A record source's single binaryFile row decodes into many more
    rows than one Arrow batch holds; every row must survive the
    flushes, in order."""
    n = 2 * BATCH_ROWS + 5
    df = spark.createDataFrame([(n,)], "n bigint").coalesce(1)

    def fn(n):
        for k in range(n):
            yield k, f"r{k}"

    out = flat_map_rows(df, fn, "k bigint, s string")
    got = out.agg(F.count("*"), F.countDistinct("k"), F.min("k"),
                  F.max("k"), F.max(F.length("s"))).first()
    assert tuple(got) == (n, n, 0, n - 1, len(f"r{n - 1}"))


def test_row_functions_get_python_values(spark):
    """Cells arrive as Python objects — bytes, int, float, str, list —
    never numpy scalars or pandas objects."""
    df = spark.createDataFrame(
        [(b"\x00\x01", 7, 2.5, "s", [1, 2])],
        "b binary, i bigint, d double, s string, a array<int>")

    def fn(*row):
        yield (",".join(type(v).__name__ for v in row),)

    (got,) = flat_map_rows(df, fn, "types string").first()
    assert got == "bytes,int,float,str,list"


def test_nulls_in_and_out(spark):
    """A null numeric cell is ``None`` — not the NaN a pandas batch
    carried — so row functions test ``is None``; a ``None`` output
    cell lands as SQL NULL in any column type."""
    df = spark.createDataFrame(
        [(1, None, None), (None, 2.5, "a")],
        "a bigint, b double, c string")

    def fn(a, b, c):
        yield (a is None, b is None, c is None,
               None if a is None else a * 10, b, c)

    got = sorted(
        (tuple(r) for r in flat_map_rows(
            df, fn,
            "a_null boolean, b_null boolean, c_null boolean,"
            " a10 bigint, b double, c string").collect()),
        key=lambda t: t[0])
    assert got == [(False, True, True, 10, None, None),
                   (True, False, False, None, 2.5, "a")]


def test_typed_outputs(spark):
    """int, float32, UTC timestamp (epoch microseconds or an aware
    datetime), array and map cells built at the DDL's Arrow type."""
    aware = dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc)

    def fn(_):
        yield (1 << 40, 0.1, 1_700_000_000_123_456, aware,
               [1, None, 3], {"k": 2})

    out = flat_map_rows(
        spark.range(1), fn,
        "i bigint, f float, t timestamp, t2 timestamp,"
        " a array<bigint>, m map<string,bigint>")
    r = out.select(
        "i", "f", F.expr("unix_micros(t)").alias("t"),
        F.expr("unix_micros(t2)").alias("t2"), "a", "m").first()
    assert r.i == 1 << 40
    # a float column carries the float32 rounding of the value, the
    # way tfrecord_scan's FloatList features do
    assert r.f == struct.unpack("<f", struct.pack("<f", 0.1))[0]
    assert r.f != 0.1
    assert r.t == 1_700_000_000_123_456
    assert r.t2 == int(aware.timestamp()) * 1_000_000
    assert r.a == [1, None, 3]
    assert r.m == {"k": 2}


def test_drifted_nan_cell_nulls(spark, tmp_path):
    """The arrowipc per-cell coercion tests NaN explicitly (the old
    ``v != v`` pandas check): a NaN in a column the reader types as
    string nulls the cell instead of writing 'nan'."""
    from distributed_computing_projects_spark.sources.arrowipc import (
        build_ipc,
        read_arrow_ipc,
    )

    (tmp_path / "g.arrow").write_bytes(build_ipc(
        {"a": [1, 2], "s": [float("nan"), 1.5]}, "file"))
    got = sorted((r.a, r.s) for r in read_arrow_ipc(
        spark, str(tmp_path), "a bigint, s string").collect())
    assert got == [(1, None), (2, "1.5")]


def test_streaming_available_now_matches_batch(spark, tmp_path):
    """The streaming landing-zone twin runs the same row stage: an
    availableNow drain of readStream(binaryFile) through
    ``examples_from_binary`` equals the batch scan row for row,
    including the float32 column and the malformed-record drop."""
    from distributed_computing_projects_spark.sources.tfrecord import (
        build_example,
        build_tfrecord,
        examples_from_binary,
        read_tfrecord,
    )
    from distributed_computing_projects_spark.streaming.windows import (
        run_to_memory_sink,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    for shard in range(3):
        recs = [build_example({"id": shard * 100 + k, "w": k / 3,
                               "tag": f"s{shard}"})
                for k in range(40)]
        recs.insert(5, b"\x0a\xff")  # malformed Example: record drop
        (landing / f"p{shard}.tfrecord").write_bytes(build_tfrecord(recs))
    ddl = "id bigint, w float, tag string"

    stream = (spark.readStream.format("binaryFile")
              .schema("path string, modificationTime timestamp,"
                      " length long, content binary")
              .load(str(landing)))
    run_to_memory_sink(examples_from_binary(stream, ddl),
                       "t_row_stage_tfrecord", output_mode="append")
    streamed = sorted(tuple(r) for r in
                      spark.table("t_row_stage_tfrecord").collect())
    batch = sorted(tuple(r) for r in
                   read_tfrecord(spark, str(landing), ddl).collect())
    assert len(batch) == 120
    assert streamed == batch
    assert batch[1] == (1, struct.unpack("<f", struct.pack("<f", 1 / 3))[0],
                        "s0")
