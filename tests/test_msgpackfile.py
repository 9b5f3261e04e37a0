"""MessagePack source (sources/msgpackfile.py): the type-derived
value walk (row-vs-stream drop granularity), the full type table,
timestamp extension, bomb bounds, DDL adapters, Spark path."""

from __future__ import annotations

import struct

import pytest

import distributed_computing_projects_spark.sources.msgpackfile as MP
from distributed_computing_projects_spark.sources.msgpackfile import (
    build_msgpack_dump,
    encode,
    iter_msgpack_values,
    read_msgpack,
    timestamp,
)


def test_roundtrip_all_kinds():
    vals = [
        {"i": 7, "neg": -5, "big": 1 << 40, "nbig": -(1 << 40),
         "f": 2.5, "s": "héllo", "b": True, "nil": None,
         "blob": b"\x00\x01", "toks": [1, "two", None],
         "sub": {"k": 1}},
        {"fix127": 127, "fixneg": -32, "u8": 200, "u16": 60000,
         "u32": 1 << 31, "i8": -100, "i16": -30000,
         "i32": -(1 << 30)},
    ]
    got = list(iter_msgpack_values(build_msgpack_dump(vals)))
    assert got == vals


def test_long_strings_bins_and_big_containers():
    vals = [{"s31": "x" * 31, "s32": "y" * 32, "s300": "z" * 300,
             "s70k": "w" * 70_000, "b300": b"\x07" * 300,
             "arr20": list(range(20)),
             "map20": {f"k{i}": i for i in range(20)}}]
    got = list(iter_msgpack_values(build_msgpack_dump(vals)))
    assert got == vals


def test_timestamp_extension_three_widths():
    ts32 = timestamp(1_700_000_000)
    ts64 = timestamp(1_700_000_000, 123_456_789)
    ts96 = timestamp(-86400, 5)  # pre-epoch needs the 96-bit form
    data = build_msgpack_dump([{"a": ts32, "b": ts64, "c": ts96}])
    (got,) = iter_msgpack_values(data)
    assert (got["a"].sec, got["a"].nsec) == (1_700_000_000, 0)
    assert (got["b"].sec, got["b"].nsec) == (1_700_000_000,
                                             123_456_789)
    assert (got["c"].sec, got["c"].nsec) == (-86400, 5)


def test_non_map_rows_drop_stream_continues():
    data = (encode({"id": 1}) + encode("just a string")
            + encode([1, 2]) + encode({1: "int key"})
            + encode({"id": 2}))
    rows = [v for v in iter_msgpack_values(data)]
    assert len(rows) == 5  # walk sees all values...
    # ...and the Spark stage's row filter keeps only str-keyed maps
    keep = [v for v in rows if isinstance(v, dict)
            and all(isinstance(k, str) for k in v)]
    assert keep == [{"id": 1}, {"id": 2}]


def test_structural_failure_stops_stream():
    good = encode({"id": 1}) + encode({"id": 2})
    torn = good + encode({"id": 3})[:-1]
    assert list(iter_msgpack_values(torn)) == [{"id": 1}, {"id": 2}]
    reserved = good + b"\xc1" + encode({"id": 4})
    assert list(iter_msgpack_values(reserved)) == [{"id": 1},
                                                   {"id": 2}]
    # declared str length past EOF: stream stop, not a huge alloc
    lie = good + b"\xdb" + struct.pack(">I", 1 << 27)
    assert list(iter_msgpack_values(lie)) == [{"id": 1}, {"id": 2}]


def test_bomb_bounds(monkeypatch):
    monkeypatch.setattr(MP, "MAX_VALUE_BYTES", 64)
    data = encode({"s": "x" * 100})
    assert list(iter_msgpack_values(data)) == []
    monkeypatch.setattr(MP, "MAX_VALUE_BYTES", 1 << 28)
    deep = {"k": None}
    for _ in range(100):
        deep = {"k": deep}
    assert list(iter_msgpack_values(encode(deep))) == []


def test_spark_read_with_ddl_adapters(tmp_path, spark):
    vals = [{"event_id": i, "user_id": 100 + i,
             "event_type": f"k{i % 3}",
             "value": None if i % 5 == 0 else i * 1.5,
             "flag": i % 2 == 0,
             "writer_only": {"nested": i}}
            for i in range(40)]
    with open(tmp_path / "part-0.msgpack", "wb") as f:
        f.write(build_msgpack_dump(vals))
        f.write(encode({"event_id": 999})[:-1])  # torn tail
    with open(tmp_path / "junk.msgpack", "wb") as f:
        f.write(b"\xc1 definitely not msgpack")
    df = read_msgpack(
        spark, str(tmp_path),
        "event_id bigint, user_id bigint, event_type string, "
        "value double, flag boolean")
    got = sorted((r.event_id, r.user_id, r.event_type, r.value,
                  r.flag) for r in df.collect())
    assert got == [(i, 100 + i, f"k{i % 3}",
                    None if i % 5 == 0 else i * 1.5, i % 2 == 0)
                   for i in range(40)]


def test_uint64_past_bigint_nulls_the_cell(tmp_path, spark):
    """A uint64 above the bigint range nulls its cell (the CBOR
    adapter rule the two formats share) instead of failing the task
    in the Arrow conversion."""
    (tmp_path / "u.msgpack").write_bytes(build_msgpack_dump(
        [{"id": 1, "big": (1 << 64) - 1}, {"id": 2, "big": 5}]))
    df = read_msgpack(spark, str(tmp_path), "id bigint, big bigint")
    assert sorted((r.id, r.big) for r in df.collect()) == [(1, None),
                                                           (2, 5)]


def test_cli_msgpack_scan(spark, tmp_path, capsys):
    from distributed_computing_projects_spark.cli import main

    with open(tmp_path / "m.msgpack", "wb") as f:
        f.write(build_msgpack_dump([{"id": 2, "name": "n2"}]))
    rc = main(["msgpack-scan", str(tmp_path),
               "--ddl", "id bigint, name string"], spark=spark)
    assert rc == 0
    assert "n2" in capsys.readouterr().out


def test_property_roundtrip_arbitrary_values():
    """Hypothesis: any nested value the builder can encode decodes
    back identically (the codec's structural invariant)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    scalars = st.one_of(
        st.none(), st.booleans(),
        st.integers(min_value=-(1 << 63), max_value=(1 << 64) - 1),
        st.floats(allow_nan=False),
        st.text(max_size=40), st.binary(max_size=40))
    values = st.recursive(
        scalars,
        lambda kids: st.one_of(
            st.lists(kids, max_size=6),
            st.dictionaries(st.text(max_size=8), kids, max_size=6)),
        max_leaves=25)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(values, max_size=5))
    def run(vals):
        data = build_msgpack_dump(vals)
        assert list(iter_msgpack_values(data)) == vals

    run()
