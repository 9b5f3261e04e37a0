"""TFRecord source (sources/tfrecord.py): CRC-32C vectors, masked-CRC
framing, record-vs-stream drop granularity, the protobuf Example wire
walk (packed and unpacked list forms, unknown-field skip, two's-
complement negatives), reader-DDL resolution, and the Spark path."""

from __future__ import annotations

import struct

import pytest

import distributed_computing_projects_spark.sources.tfrecord as TF
from distributed_computing_projects_spark.sources.tfrecord import (
    build_example,
    build_tfrecord,
    crc32c,
    frame_record,
    iter_tfrecords,
    masked_crc,
    parse_example,
    read_tfrecord,
)


def test_crc32c_public_vectors():
    # RFC 3720 B.4 test vectors
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"\x00" * 32) == 0x8A9136AA
    assert crc32c(b"\xff" * 32) == 0x62A8AB43
    assert crc32c(bytes(range(32))) == 0x46DD794E
    assert crc32c(b"") == 0


def test_masked_crc_roundtrips_the_rotation():
    for blob in (b"", b"x", b"123456789", bytes(range(100))):
        m = masked_crc(blob)
        rot = (m - 0xA282EAD8) & 0xFFFFFFFF
        assert ((rot >> 17) | (rot << 15)) & 0xFFFFFFFF == crc32c(blob)


def test_example_roundtrip_all_kinds():
    ex = build_example({"i": 7, "neg": -5, "f": 2.5, "s": "héllo",
                        "b": b"\x00\x01", "li": [1, 2, 3],
                        "lf": [0.5, 1.5], "ls": ["a", "b"],
                        "skip": None})
    feats = parse_example(ex)
    assert feats["i"] == ("int64", [7])
    assert feats["neg"] == ("int64", [-5])
    assert feats["f"][0] == "float" and feats["f"][1] == [2.5]
    assert feats["s"] == ("bytes", ["héllo".encode()])
    assert feats["b"] == ("bytes", [b"\x00\x01"])
    assert feats["li"] == ("int64", [1, 2, 3])
    assert feats["lf"] == ("float", [0.5, 1.5])
    assert feats["ls"] == ("bytes", [b"a", b"b"])
    assert "skip" not in feats


def test_unpacked_list_forms_also_parse():
    """Floats as repeated wire-type-5 and int64s as repeated
    wire-type-0 are spec-legal alternatives to the packed form."""
    fl = b"".join(TF._pb_varint(1 << 3 | 5) + struct.pack("<f", v)
                  for v in (1.0, 2.0))
    il = b"".join(TF._pb_varint(1 << 3 | 0) + TF._pb_varint(v)
                  for v in (4, 5))
    entry_f = TF._pb_len(1, b"f") + TF._pb_len(2, TF._pb_len(2, fl))
    entry_i = TF._pb_len(1, b"i") + TF._pb_len(2, TF._pb_len(3, il))
    payload = TF._pb_len(1, TF._pb_len(1, entry_f)
                         + TF._pb_len(1, entry_i))
    feats = parse_example(payload)
    assert feats["f"] == ("float", [1.0, 2.0])
    assert feats["i"] == ("int64", [4, 5])


def test_unknown_fields_skip_not_fail():
    """Forward compatibility: unknown field numbers at every level
    (and wire types 0/1/5 at the Example level) skip silently."""
    ex = build_example({"a": 1})
    extra = (TF._pb_varint(9 << 3 | 0) + TF._pb_varint(42)
             + TF._pb_varint(8 << 3 | 1) + b"\x00" * 8
             + TF._pb_varint(7 << 3 | 5) + b"\x00" * 4
             + TF._pb_len(6, b"opaque"))
    assert parse_example(extra + ex) == {"a": ("int64", [1])}


def test_malformed_example_returns_none():
    assert parse_example(b"\xff\xff\xff") is None
    # truncated LEN field
    assert parse_example(TF._pb_varint(1 << 3 | 2)
                         + TF._pb_varint(100) + b"short") is None
    # deprecated group wire type
    assert parse_example(TF._pb_varint(1 << 3 | 3)) is None


def test_corrupt_payload_drops_record_only():
    recs = [build_example({"a": i}) for i in range(3)]
    data = bytearray(build_tfrecord(recs))
    data[12] ^= 0xFF  # first payload byte of record 0
    got = [parse_example(p)["a"][1][0]
           for p in iter_tfrecords(bytes(data))]
    assert got == [1, 2]  # record 0 drops, the walk continues


def test_corrupt_length_stops_stream():
    recs = [build_example({"a": i}) for i in range(3)]
    data = bytearray(build_tfrecord(recs))
    second = len(frame_record(recs[0]))
    data[second] ^= 0xFF  # length byte of record 1
    got = [parse_example(p)["a"][1][0]
           for p in iter_tfrecords(bytes(data))]
    assert got == [0]  # record 0 survives; framing untrusted after


def test_torn_tail_keeps_complete_records():
    recs = [build_example({"a": i}) for i in range(3)]
    data = build_tfrecord(recs)
    assert len(list(iter_tfrecords(data[:-5]))) == 2
    assert len(list(iter_tfrecords(data[:10]))) == 0


def test_bomb_bound_stops_stream(monkeypatch):
    monkeypatch.setattr(TF, "MAX_RECORD_BYTES", 16)
    big = build_example({"a": list(range(50))})
    small = build_example({"a": 1})
    assert list(iter_tfrecords(build_tfrecord([small]))) == [small]
    assert list(iter_tfrecords(build_tfrecord([big, small]))) == []


def test_junk_yields_nothing():
    assert list(iter_tfrecords(b"not a tfrecord")) == []
    assert list(iter_tfrecords(b"")) == []


def test_spark_read_resolution(spark, tmp_path):
    """Writer-only features discard, reader-only columns null,
    mis-typed and mis-shaped (multi-element scalar) cells null,
    array<...> columns take whole lists."""
    recs = [
        build_example({"id": 1, "v": 1.5, "name": "a",
                       "toks": [1, 2], "extra": "drop-me"}),
        build_example({"id": 2, "v": 7, "name": b"\xc3\xa9",
                       "toks": [3]}),           # int64 -> double widen
        build_example({"id": [3, 4], "v": "oops", "toks": []}),
    ]
    (tmp_path / "a.tfrecord").write_bytes(build_tfrecord(recs))
    (tmp_path / "junk.tfrecord").write_bytes(b"junk")
    df = read_tfrecord(
        spark, str(tmp_path),
        "id bigint, v double, name string, toks array<bigint>, "
        "ghost double")
    rows = sorted(((r.id, r.v, r.name, list(r.toks or []), r.ghost)
                   for r in df.collect()),
                  key=lambda t: (t[0] is None, t[0] or 0))
    assert rows == [
        (1, 1.5, "a", [1, 2], None),
        (2, 7.0, "é", [3], None),
        (None, None, None, [], None),  # multi-element scalar nulls
    ]


def test_float32_precision_contract():
    """FloatList is float32 by spec: the builder rounds doubles and
    the reader returns the rounded value exactly."""
    v = 0.1  # not representable in float32
    feats = parse_example(build_example({"v": v}))
    assert feats["v"][1][0] == struct.unpack("<f", struct.pack("<f", v))[0]
    assert feats["v"][1][0] != v


def test_cli_tfrecord_scan(spark, tmp_path, capsys):
    from distributed_computing_projects_spark.cli import main

    (tmp_path / "a.tfrecord").write_bytes(build_tfrecord(
        [build_example({"id": i, "name": f"n{i}"}) for i in range(3)]))
    rc = main(["tfrecord-scan", str(tmp_path),
               "--ddl", "id bigint, name string"], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert "n2" in out


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _events_dir(sf_dir, tmp_path, name):
    """A fixture dir holding a copy of ``events.parquet`` (its basename
    names the query's scratch dir, so each test gets its own)."""
    import shutil

    d = tmp_path / name
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def test_tfrecord_landing_is_staged_once(spark, sf_dir, tmp_path):
    from distributed_computing_projects_spark.queries import load_registry

    fn = load_registry()["tfrecord_scan"].fn
    d = _events_dir(sf_dir, tmp_path, "tfr_once")
    first, staged = _jobs(spark, "tfr-once-1", lambda: fn(spark, d))
    rows = _rows(first)
    again, reused = _jobs(spark, "tfr-once-2", lambda: fn(spark, d))
    assert staged > 0 and reused == 0
    assert rows and _rows(again) == rows


def test_tfrecord_landing_restages_on_change(spark, sf_dir, tmp_path):
    import os
    import shutil

    from distributed_computing_projects_spark.queries import (
        ext_pipeline as EP,
        load_registry,
    )

    fn = load_registry()["tfrecord_scan"].fn
    d = _events_dir(sf_dir, tmp_path, "tfr_change")
    rows = _rows(fn(spark, d))
    # a rewritten events file (new inode and mtime, same bytes)
    events = os.path.join(d, "events.parquet")
    shutil.copy(events, events + ".new")
    os.replace(events + ".new", events)
    df, jobs = _jobs(spark, "tfr-change-1", lambda: fn(spark, d))
    assert jobs > 0 and _rows(df) == rows
    # a landing shard deleted behind the memo's back
    landing = os.path.join(EP._session_scratch(spark, "tfrecord", d),
                           "landing")
    os.remove(os.path.join(landing, "part-0.tfrecord"))
    df, jobs = _jobs(spark, "tfr-change-2", lambda: fn(spark, d))
    assert jobs > 0 and _rows(df) == rows
    assert os.path.exists(os.path.join(landing, "part-0.tfrecord"))


def test_streaming_tfrecord_twin_repeats(spark, sf_dir, tmp_path):
    """The streaming twin reuses the staged landing; its sink and
    checkpoint start afresh per call, so a second call streams the
    whole landing again (new sink files) instead of resuming from the
    last call's checkpoint, and returns the same rows."""
    import os

    from distributed_computing_projects_spark.queries import (
        ext_pipeline as EP,
        load_registry,
    )

    fn = load_registry()["streaming_tfrecord_ingest"].fn
    d = _events_dir(sf_dir, tmp_path, "tfr_stream")
    store = os.path.join(EP._session_scratch(spark, "stream_tfrecord", d),
                         "records")

    def sink_files():
        return {n for n in os.listdir(store) if n.endswith(".parquet")}

    first = _rows(fn(spark, d))
    files = sink_files()
    assert first and _rows(fn(spark, d)) == first
    assert files and not files & sink_files()
