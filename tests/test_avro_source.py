"""Avro OCF source (sources/avro.py): binary-encoding + container
round-trips over every supported codec, block-granular drop policies
(torn tails, corrupt blocks, lost sync, bombs), schema->Spark DDL
mapping incl. logical types, and the Spark read path."""

from __future__ import annotations

import json

import pytest

from distributed_computing_projects_spark.sources import avro as AV

SCHEMA = {
    "type": "record", "name": "T", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "double"]},
        {"name": "c", "type": "string"},
        {"name": "e", "type": {"type": "enum", "name": "E",
                               "symbols": ["x", "y", "z"]}},
        {"name": "arr", "type": {"type": "array", "items": "int"}},
        {"name": "m", "type": {"type": "map", "values": "long"}},
        {"name": "fx", "type": {"type": "fixed", "name": "F4",
                                "size": 4}},
        {"name": "bl", "type": "boolean"},
        {"name": "by", "type": "bytes"},
        {"name": "fl", "type": "float"},
    ]}


def _recs(n):
    return [
        {"a": i, "b": None if i % 4 == 0 else i * 0.5,
         "c": f"s{i}", "e": ["x", "y", "z"][i % 3],
         "arr": list(range(i % 5)), "m": {f"k{i}": i * 7},
         "fx": bytes([i % 256] * 4), "bl": i % 2 == 0,
         "by": bytes([i % 256, 255]), "fl": float(i)}
        for i in range(n)
    ]


@pytest.mark.parametrize("codec", ["null", "deflate", "bzip2", "xz",
                                   "zstandard"])
def test_roundtrip_every_codec(codec):
    if codec == "zstandard":
        from distributed_computing_projects_spark.sources.warc import (
            zstd_backend,
        )
        if zstd_backend() is None:
            pytest.skip("no zstd backend")
    recs = _recs(700)
    data = AV.write_ocf(recs, SCHEMA, codec=codec, records_per_block=64)
    assert list(AV.iter_records(data)) == recs


def test_negative_count_array_and_map_block_form():
    # spec: a negative item count carries a byte-size hint; readers
    # must accept both forms
    import io

    w = io.BytesIO()
    body = io.BytesIO()
    AV._encode_value(body, "int", 7)
    AV._encode_value(body, "int", 9)
    w.write(AV._zigzag(-2))              # 2 items, size-prefixed form
    w.write(AV._zigzag(len(body.getvalue())))
    w.write(body.getvalue())
    w.write(AV._zigzag(0))
    r = AV._Reader(w.getvalue())
    assert AV._decode_value(r, {"type": "array", "items": "int"}) == [7, 9]


def test_torn_tail_keeps_complete_blocks():
    recs = _recs(300)
    data = AV.write_ocf(recs, SCHEMA, codec="deflate",
                        records_per_block=100)
    got = list(AV.iter_records(data[: len(data) - 25]))
    assert got == recs[:200]


def test_corrupt_block_drops_later_blocks_survive():
    recs = _recs(300)
    data = AV.write_ocf(recs, SCHEMA, codec="deflate",
                        records_per_block=100)
    _, _, _, off = AV.parse_header(data)
    b = bytearray(data)
    b[off + 12] ^= 0xFF  # inside first block's compressed payload
    got = list(AV.iter_records(bytes(b)))
    assert got == recs[100:]


def test_lost_sync_stops_the_walk():
    recs = _recs(300)
    data = AV.write_ocf(recs, SCHEMA, codec="null",
                        records_per_block=100)
    # find and corrupt the sync AFTER the first block
    _, _, sync, off = AV.parse_header(data)
    first_sync = data.index(sync, off)
    b = bytearray(data)
    b[first_sync] ^= 0xFF
    got = list(AV.iter_records(bytes(b)))
    assert got == []  # sync of block 1 unreadable -> nothing trustable


def test_header_garbage_drops_whole_file():
    assert list(AV.iter_records(b"not avro at all")) == []
    assert list(AV.iter_records(b"Obj\x01\xff\xff\xff")) == []
    assert list(AV.iter_records(b"")) == []


def test_block_size_bomb_drops():
    recs = _recs(10)
    data = AV.write_ocf(recs, SCHEMA, codec="null", records_per_block=10)
    _, _, _, off = AV.parse_header(data)
    # declare an insane block size: the walk must stop, not allocate
    evil = data[:off] + AV._zigzag(10) + AV._zigzag(1 << 40) + data[off:]
    assert list(AV.iter_records(evil)) == []


def test_deflate_bomb_block_drops(monkeypatch):
    import zlib

    monkeypatch.setattr(AV, "MAX_BLOCK_BYTES", 1 << 16)
    c = zlib.compressobj(9, zlib.DEFLATED, -15)
    bomb = c.compress(b"\x00" * (1 << 22)) + c.flush()
    assert AV._decompress_block("deflate", bomb) is None
    assert AV._decompress_block("null", b"\x00" * (1 << 17)) is None


def test_unknown_codec_blocks_drop():
    recs = _recs(5)
    data = AV.write_ocf(recs, SCHEMA, codec="null", records_per_block=5)
    evil = data.replace(b"null", b"snap", 1)  # claim snappy
    # header still parses; every block drops (codec absent here)
    head = AV.parse_header(evil)
    assert head is not None and head[1] == "snap"
    assert list(AV.iter_records(evil)) == []


def test_spark_ddl_mapping():
    ddl = AV.avro_spark_ddl(SCHEMA)
    assert "a bigint" in ddl and "b double" in ddl
    assert "e string" in ddl and "arr array<int>" in ddl
    assert "m map<string,bigint>" in ddl and "fx binary" in ddl
    assert "bl boolean" in ddl and "by binary" in ddl and "fl float" in ddl
    ts_schema = {"type": "record", "name": "R", "fields": [
        {"name": "t1", "type": {"type": "long",
                                "logicalType": "timestamp-micros"}},
        {"name": "t2", "type": {"type": "long",
                                "logicalType": "local-timestamp-micros"}},
    ]}
    ddl = AV.avro_spark_ddl(ts_schema)
    assert "t1 timestamp" in ddl and "t2 timestamp_ntz" in ddl


def test_infer_avro_schema(tmp_path):
    data = AV.write_ocf(_recs(3), SCHEMA, codec="null")
    p = tmp_path / "x.avro"
    p.write_bytes(data)
    assert AV.infer_avro_schema(str(p))["name"] == "T"
    q = tmp_path / "bad.avro"
    q.write_bytes(b"nope")
    with pytest.raises(ValueError):
        AV.infer_avro_schema(str(q))


def test_read_avro_spark_end_to_end(spark, tmp_path):
    schema = {"type": "record", "name": "R", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "double"]},
        {"name": "ts", "type": {
            "type": "long", "logicalType": "local-timestamp-micros"}},
    ]}
    recs = [{"a": i, "b": None if i == 0 else i * 1.5,
             "ts": 1_700_000_000_000_000 + i} for i in range(50)]
    (tmp_path / "p0.avro").write_bytes(
        AV.write_ocf(recs[:25], schema, codec="deflate"))
    (tmp_path / "p1.avro").write_bytes(
        AV.write_ocf(recs[25:], json.dumps(schema), codec="xz"))
    (tmp_path / "junk.avro").write_bytes(b"garbage")  # whole-file drop
    df = AV.read_avro(spark, str(tmp_path), schema)
    assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
    got = df.orderBy("a").collect()
    assert len(got) == 50
    assert got[0].b is None and got[1].b == 1.5
    import datetime

    assert got[7].ts == datetime.datetime(1970, 1, 1) + \
        datetime.timedelta(microseconds=1_700_000_000_000_007)


def test_schema_resolution_across_generations(spark, tmp_path):
    """One reader schema spans shard generations: gen-1 lacks a field
    (reader default fills), gen-2 has an extra field (discarded) and
    writes ints where the reader expects double (promoted)."""
    gen1 = {"type": "record", "name": "R", "fields": [
        {"name": "a", "type": "long"},
        {"name": "score", "type": "int"},
    ]}
    gen2 = {"type": "record", "name": "R", "fields": [
        {"name": "a", "type": "long"},
        {"name": "score", "type": "int"},
        {"name": "tag", "type": "string"},
        {"name": "extra", "type": "string"},
    ]}
    reader = {"type": "record", "name": "R", "fields": [
        {"name": "a", "type": "long"},
        {"name": "score", "type": "double"},     # int -> double
        {"name": "tag", "type": ["null", "string"],
         "default": "legacy"},                    # missing in gen1
    ]}
    from distributed_computing_projects_spark.sources import avro as AV

    (tmp_path / "g1.avro").write_bytes(AV.write_ocf(
        [{"a": 1, "score": 10}], gen1, codec="deflate"))
    (tmp_path / "g2.avro").write_bytes(AV.write_ocf(
        [{"a": 2, "score": 20, "tag": "new", "extra": "x"}], gen2,
        codec="deflate"))
    rows = {r.a: r for r in
            AV.read_avro(spark, str(tmp_path), reader).collect()}
    assert rows[1].score == 10.0 and isinstance(rows[1].score, float)
    assert rows[1].tag == "legacy"
    assert rows[2].score == 20.0 and rows[2].tag == "new"
    assert not hasattr(rows[2], "extra")


def test_count_bomb_block_stops_the_walk():
    schema = {"type": "record", "name": "Z", "fields": []}
    data = AV.write_ocf([{} for _ in range(3)], schema, codec="null")
    _, _, sync, off = AV.parse_header(data)
    # a block claiming 2^60 zero-byte records with size 0
    evil = (data[:off] + AV._zigzag(1 << 60) + AV._zigzag(0) + sync
            + data[off:])
    assert list(AV.iter_records(evil)) == []


def test_unresolvable_type_mismatch_nulls_not_poisons(spark, tmp_path):
    writer = {"type": "record", "name": "R", "fields": [
        {"name": "a", "type": "long"},
        {"name": "c", "type": "long"},   # writer says long
    ]}
    reader = {"type": "record", "name": "R", "fields": [
        {"name": "a", "type": "long"},
        {"name": "c", "type": "string"},  # reader wants string
    ]}
    (tmp_path / "g.avro").write_bytes(
        AV.write_ocf([{"a": 1, "c": 99}], writer, codec="null"))
    rows = AV.read_avro(spark, str(tmp_path), reader).collect()
    assert rows[0].a == 1 and rows[0].c is None  # nulled, not a crash


def test_infer_schema_grows_past_fixed_peek(tmp_path):
    wide = {"type": "record", "name": "W", "fields": [
        {"name": f"f{i}", "type": "long",
         "doc": "x" * 200} for i in range(8000)]}
    data = AV.write_ocf([], wide, codec="null")
    assert len(data) > (1 << 20)  # header alone exceeds the old peek
    p = tmp_path / "wide.avro"
    p.write_bytes(data)
    assert AV.infer_avro_schema(str(p))["name"] == "W"


def test_wrapper_form_complex_field_decodes_not_nulls(spark, tmp_path):
    """Spec-legal WRAPPER-FORM complex types ({"type": {"type":
    "array", ...}}) get array<...> DDL from _avro_field_ddl; the
    field adapter must agree, or every decoded list silently nulls —
    whole-column data loss (review finding)."""
    schema = {"type": "record", "name": "W", "fields": [
        {"name": "a", "type": "long"},
        {"name": "xs", "type": {"type": {"type": "array",
                                         "items": "long"}}},
        {"name": "m", "type": {"type": {"type": "map",
                                        "values": "int"}}},
    ]}
    recs = [{"a": i, "xs": [i, i + 1], "m": {"k": i}} for i in range(6)]
    p = tmp_path / "w.avro"
    p.write_bytes(AV.write_ocf(recs, schema, codec="null"))
    rows = {r.a: (list(r.xs), dict(r.m))
            for r in AV.read_avro(spark, str(p), schema).collect()}
    assert rows == {i: ([i, i + 1], {"k": i}) for i in range(6)}


def test_base_type_unwraps_wrappers_and_unions():
    assert AV._base_type("long") == "long"
    assert AV._base_type(["null", "string"]) == "string"
    assert AV._base_type({"type": "array", "items": "int"}) == "array"
    assert AV._base_type({"type": {"type": "map",
                                   "values": "int"}}) == "map"
    assert AV._base_type(
        ["null", {"type": {"type": "array", "items": "int"}}]) == "array"
    with pytest.raises(ValueError):
        AV._base_type(["int", "string"])


def test_timestamp_instants_are_utc_aware_before_arrow(spark):
    """timestamp-micros/millis are UTC instants per the spec; the
    Arrow cells handed to Spark must be tz-AWARE UTC (a naive cell
    localizes to the session timezone — only correct when the
    session happens to pin UTC; review finding). local-* variants
    stay naive (timestamp_ntz)."""
    import datetime as dt

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "t", "type": {"type": "long",
                               "logicalType": "timestamp-micros"}},
        {"name": "lt", "type": {"type": "long",
                                "logicalType": "local-timestamp-millis"}},
    ]}
    adapters = AV._field_adapters(schema)
    arrow = to_arrow_schema(StructType.fromDDL(AV.avro_spark_ddl(schema)))
    t = pa.array([adapters["t"][1](86_400_000_000)],
                 type=arrow.field("t").type)
    lt = pa.array([adapters["lt"][1](86_400_000)],
                  type=arrow.field("lt").type)
    assert t.type.tz == "UTC"
    assert lt.type.tz is None
    assert t[0].as_py() == dt.datetime(1970, 1, 2, tzinfo=dt.timezone.utc)
    assert lt[0].as_py() == dt.datetime(1970, 1, 2)
