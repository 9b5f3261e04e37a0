"""Iceberg reader (sources/iceberg.py): metadata->manifest-list->
manifest->parquet chain through our own Avro decoder, snapshot time
travel, manifest-layer pruning, loud refusal of renames/deletes."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pytest

from distributed_computing_projects_spark.sources import iceberg as IC


SCHEMA = {"type": "struct", "schema-id": 0, "fields": [
    {"id": 1, "name": "k", "required": False, "type": "long"},
    {"id": 2, "name": "x", "required": False, "type": "double"},
    {"id": 3, "name": "et", "required": False, "type": "string"},
]}
SPEC = {"spec-id": 0, "fields": [
    {"name": "et", "transform": "identity", "source-id": 3,
     "field-id": 1000}]}
PFIELDS = [("et", "string")]


def _write_parquet(spark, dest, rows):
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )
    # ids stamped: the spec REQUIRES field ids in data files, and
    # the reader resolves parquet columns by them (rename-safe)
    schema = StructType([
        StructField("k", LongType(), True, {"parquet.field.id": 1}),
        StructField("x", DoubleType(), True,
                    {"parquet.field.id": 2}),
        StructField("et", StringType(), True,
                    {"parquet.field.id": 3})])
    stage = dest + ".stage"
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("overwrite").parquet(stage)
    part = next(n for n in sorted(os.listdir(stage))
                if n.startswith("part-") and n.endswith(".parquet"))
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    os.replace(os.path.join(stage, part), dest)
    shutil.rmtree(stage, ignore_errors=True)
    return os.path.getsize(dest)


def _entry(status, path, et, n=1, size=1):
    return {"status": status, "snapshot_id": 1,
            "data_file": {"content": 0, "file_path": path,
                          "file_format": "PARQUET",
                          "partition": {"et": et},
                          "record_count": n,
                          "file_size_in_bytes": size}}


def _mref(path, size, content=0):
    return {"manifest_path": path, "manifest_length": size,
            "partition_spec_id": 0, "content": content,
            "sequence_number": 1, "min_sequence_number": 1,
            "added_snapshot_id": 1}


def _write_metadata(table, snapshots, current, version=2,
                    schemas=None):
    meta = {
        "format-version": 2, "table-uuid": str(uuid.uuid4()),
        "location": f"file://{table}", "last-sequence-number": 2,
        "last-updated-ms": 0, "last-column-id": 3,
        "current-schema-id": 0, "schemas": schemas or [SCHEMA],
        "default-spec-id": 0, "partition-specs": [SPEC],
        "last-partition-id": 1000, "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": current, "snapshots": snapshots,
        "snapshot-log": [], "metadata-log": [],
    }
    p = os.path.join(table, "metadata",
                     f"v{version}.metadata.json")
    with open(p, "w", encoding="utf-8") as f:
        json.dump(meta, f)
    return meta


def _make_table(spark, tmp_path):
    """snap 1: a(click)+b(view)+c(view); snap 2: c deleted, b+c
    compacted into d(view) — the deleted files STAY on disk; an
    orphan parquet is never referenced."""
    table = str(tmp_path / "t")
    mdir = os.path.join(table, "metadata")
    os.makedirs(mdir)
    a = os.path.join(table, "data/et=click/a.parquet")
    b = os.path.join(table, "data/et=view/b.parquet")
    c = os.path.join(table, "data/et=view/c.parquet")
    d = os.path.join(table, "data/et=view/d.parquet")
    _write_parquet(spark, a, [(1, 1.0, "click")])
    _write_parquet(spark, b, [(2, 2.0, "view")])
    _write_parquet(spark, c, [(3, 3.0, "view")])
    _write_parquet(spark, d, [(2, 2.0, "view"), (3, 3.0, "view")])
    _write_parquet(spark,
                   os.path.join(table, "data/et=click/orphan.parquet"),
                   [(99, -1.0, "click")])
    m1 = os.path.join(mdir, "m1.avro")
    s1 = IC.write_manifest(
        m1, [_entry(1, a, "click"), _entry(1, b, "view"),
             _entry(1, c, "view")], PFIELDS)
    ml1 = os.path.join(mdir, "snap-1.avro")
    IC.write_manifest_list(ml1, [_mref(m1, s1)])
    m2 = os.path.join(mdir, "m2.avro")
    s2 = IC.write_manifest(
        m2, [_entry(0, a, "click"), _entry(2, b, "view"),
             _entry(2, c, "view"), _entry(1, d, "view")], PFIELDS)
    ml2 = os.path.join(mdir, "snap-2.avro")
    IC.write_manifest_list(ml2, [_mref(m2, s2)])
    snaps = [
        {"snapshot-id": 1, "sequence-number": 1, "timestamp-ms": 0,
         "manifest-list": ml1, "schema-id": 0,
         "summary": {"operation": "append"}},
        {"snapshot-id": 2, "sequence-number": 2, "timestamp-ms": 1,
         "manifest-list": ml2, "schema-id": 0,
         "summary": {"operation": "replace"}},
    ]
    _write_metadata(table, snaps, 2)
    return table


def _collect(df):
    return sorted(tuple(r) for r in df.collect())


def test_current_snapshot_reads_active_files_only(spark, tmp_path):
    table = _make_table(spark, tmp_path)
    # deleted + orphan files are still on disk
    assert os.path.exists(
        os.path.join(table, "data/et=view/b.parquet"))
    got = _collect(IC.read_iceberg(spark, table))
    assert got == [(1, 1.0, "click"), (2, 2.0, "view"),
                   (3, 3.0, "view")]


def test_snapshot_time_travel(spark, tmp_path):
    table = _make_table(spark, tmp_path)
    got = _collect(IC.read_iceberg(spark, table, snapshot_id=1))
    assert got == [(1, 1.0, "click"), (2, 2.0, "view"),
                   (3, 3.0, "view")]
    with pytest.raises(ValueError, match="not in table"):
        IC.read_iceberg(spark, table, snapshot_id=42)


def test_manifest_layer_partition_prune(spark, tmp_path):
    table = _make_table(spark, tmp_path)
    snap = IC.resolve_snapshot(table)
    assert len(snap.files) == 2  # a + d
    got = _collect(IC.read_iceberg(spark, table,
                                   partitions={"et": "click"}))
    assert got == [(1, 1.0, "click")]
    with pytest.raises(ValueError, match="non-partition"):
        IC.read_iceberg(spark, table, partitions={"k": 1})


def test_murmur3_differential_vs_spark_hash(spark):
    """Spark's hash() IS murmur3_x86_32 at seed 42 over Spark's own
    encodings (int: 4-byte LE; long: 8-byte LE; string: UTF-8) — a
    third-party differential for the murmur3 core, leaving only the
    seed-0 + value-serialization layer to the Iceberg spec."""
    rows = spark.sql(
        "SELECT hash(34), hash(CAST(34 AS BIGINT)),"
        " hash(CAST(-7 AS INT)), hash(CAST(-7 AS BIGINT))"
    ).collect()[0]
    assert IC.murmur3_x86_32((34).to_bytes(4, "little"), 42) == rows[0]
    assert IC.murmur3_x86_32((34).to_bytes(8, "little"), 42) == rows[1]
    assert IC.murmur3_x86_32(
        (-7).to_bytes(4, "little", signed=True), 42) == rows[2]
    assert IC.murmur3_x86_32(
        (-7).to_bytes(8, "little", signed=True), 42) == rows[3]
    # Spark's STRING/binary hash uses a per-byte tail mix (not the
    # canonical murmur3 tail), so the tail path is pinned against
    # the Iceberg spec's published Appendix B vectors instead:
    # long 34 -> 2017239379 (aligned, seed 0), string 'iceberg'
    # (7 bytes: one word + a 3-byte tail) -> 1210000089
    assert IC.murmur3_x86_32((34).to_bytes(8, "little")) == 2017239379
    assert IC.murmur3_x86_32(b"iceberg") == 1210000089
    # spec property: int and long share the 8-byte form
    assert IC.bucket_value(34, 97) == \
        (IC.murmur3_x86_32((34).to_bytes(8, "little"))
         & 0x7FFFFFFF) % 97


def test_bucket_transform_prunes_by_source_value(spark, tmp_path):
    """bucket[N] partition fields prune by SOURCE value: the filter
    computes the spec's murmur3 bucket and matches manifest
    partition tuples; unsupported transforms still refuse."""
    table = str(tmp_path / "b")
    mdir = os.path.join(table, "metadata")
    os.makedirs(mdir)
    n_buckets = 4
    by_bucket = {}
    for k in range(10):
        by_bucket.setdefault(IC.bucket_value(k, n_buckets),
                             []).append(k)
    pfields = [("k_bucket", "int")]
    entries = []
    for b, ks in sorted(by_bucket.items()):
        path = os.path.join(table, f"data/b={b}/f.parquet")
        _write_parquet(spark, path,
                       [(k, float(k), "x") for k in ks])
        e = _entry(1, path, None)
        e["data_file"]["partition"] = {"k_bucket": b}
        entries.append(e)
    m1 = os.path.join(mdir, "m1.avro")
    s1 = IC.write_manifest(m1, entries, pfields)
    ml1 = os.path.join(mdir, "snap-1.avro")
    IC.write_manifest_list(ml1, [_mref(m1, s1)])
    meta = _write_metadata(
        table, [{"snapshot-id": 1, "sequence-number": 1,
                 "timestamp-ms": 0, "manifest-list": ml1,
                 "schema-id": 0,
                 "summary": {"operation": "append"}}], 1)
    meta["partition-specs"] = [{"spec-id": 0, "fields": [
        {"name": "k_bucket", "transform": f"bucket[{n_buckets}]",
         "source-id": 1, "field-id": 1000}]}]
    with open(os.path.join(mdir, "v2.metadata.json"), "w",
              encoding="utf-8") as f:
        json.dump(meta, f)
    # filter by the SOURCE column: only k=7's bucket is scanned
    got = _collect(IC.read_iceberg(spark, table,
                                   partitions={"k": 7}))
    want_bucket = IC.bucket_value(7, n_buckets)
    assert {r[0] for r in got} == set(by_bucket[want_bucket])
    snap = IC.resolve_snapshot(table)
    assert len(snap.files) == len(by_bucket)  # pruning < full scan
    meta["partition-specs"][0]["fields"][0]["transform"] = "year"
    with open(os.path.join(mdir, "v3.metadata.json"), "w",
              encoding="utf-8") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="transform"):
        IC.read_iceberg(spark, table, partitions={"k": 7})


def _write_del_parquet(spark, dest, rows):
    """A position-delete file: parquet of (file_path, pos)."""
    stage = dest + ".stage"
    spark.createDataFrame(rows, "file_path string, pos bigint") \
        .coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(n for n in sorted(os.listdir(stage))
                if n.startswith("part-") and n.endswith(".parquet"))
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    os.replace(os.path.join(stage, part), dest)
    shutil.rmtree(stage, ignore_errors=True)
    return os.path.getsize(dest)


def _del_entry(path, et="view", content=1, seq=None):
    return {"status": 1, "snapshot_id": 3, "sequence_number": seq,
            "data_file": {"content": content, "file_path": path,
                          "file_format": "PARQUET",
                          "partition": {"et": et},
                          "record_count": 1,
                          "file_size_in_bytes": 1}}


def _snapshot3(table, manifest_entries, seq=3):
    """Append snapshot 3 = m2's data files + one delete manifest."""
    mdir = os.path.join(table, "metadata")
    m2 = os.path.join(mdir, "m2.avro")
    dm = os.path.join(mdir, "del-1.avro")
    size = IC.write_manifest(dm, manifest_entries, PFIELDS)
    ml3 = os.path.join(mdir, "snap-3.avro")
    dref = _mref(dm, size, content=1)
    dref["sequence_number"] = seq
    dref["min_sequence_number"] = seq
    IC.write_manifest_list(ml3, [
        _mref(m2, os.path.getsize(m2)), dref])
    with open(IC.latest_metadata_path(table), "r",
              encoding="utf-8") as f:
        meta = json.load(f)
    meta["snapshots"].append(
        {"snapshot-id": 3, "sequence-number": seq, "timestamp-ms": 2,
         "manifest-list": ml3, "schema-id": 0,
         "summary": {"operation": "delete"}})
    meta["current-snapshot-id"] = 3
    with open(os.path.join(mdir, "v3.metadata.json"), "w",
              encoding="utf-8") as f:
        json.dump(meta, f)


def test_position_deletes_apply(spark, tmp_path):
    table = _make_table(spark, tmp_path)
    d = os.path.join(table, "data/et=view/d.parquet")
    delfile = os.path.join(table, "data/del-0001.parquet")
    # kill d's row 0 = (2, 2.0, 'view'); the second row references a
    # path outside the snapshot -> ignored per spec, not a crash
    _write_del_parquet(spark, delfile, [
        (d, 0), (os.path.join(table, "data/nonexistent.parquet"), 5)])
    _snapshot3(table, [_del_entry(delfile)])
    assert _collect(IC.read_iceberg(spark, table)) == [
        (1, 1.0, "click"), (3, 3.0, "view")]
    # time travel to snapshot 2 pre-dates the delete
    assert len(_collect(IC.read_iceberg(spark, table,
                                        snapshot_id=2))) == 3
    # partition pruning composes with the delete anti-join
    assert _collect(IC.read_iceberg(
        spark, table, partitions={"et": "view"})) == [
        (3, 3.0, "view")]


def test_position_delete_sequence_rule(spark, tmp_path):
    # a delete with seq LOWER than the data file's must NOT apply:
    # m2's files carry (inherited) data seq 1, the delete rides at
    # seq 0 — an old delete cannot touch newer rewrites
    table = _make_table(spark, tmp_path)
    a = os.path.join(table, "data/et=click/a.parquet")
    delfile = os.path.join(table, "data/del-0002.parquet")
    _write_del_parquet(spark, delfile, [(a, 0)])
    _snapshot3(table, [_del_entry(delfile, et="click", seq=0)],
               seq=3)
    assert len(_collect(IC.read_iceberg(spark, table))) == 3


def test_equality_deletes_and_dead_manifests(spark, tmp_path):
    table = _make_table(spark, tmp_path)
    delfile = os.path.join(table, "data/del-0003.parquet")
    _write_del_parquet(spark, delfile, [("x", 0)])
    _snapshot3(table, [_del_entry(delfile, content=2)])
    with pytest.raises(ValueError, match="EQUALITY"):
        IC.read_iceberg(spark, table)
    # a delete manifest whose entries are all status=deleted is dead
    dead = _del_entry(delfile)
    dead["status"] = 2
    _snapshot3(table, [dead])
    assert len(_collect(IC.read_iceberg(spark, table))) == 3


def _write_orc(spark, dest, rows):
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )
    schema = StructType([StructField("k", LongType()),
                         StructField("x", DoubleType()),
                         StructField("et", StringType())])
    stage = dest + ".stage"
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("overwrite").orc(stage)
    part = next(n for n in sorted(os.listdir(stage))
                if n.startswith("part-") and n.endswith(".orc"))
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    os.replace(os.path.join(stage, part), dest)
    shutil.rmtree(stage, ignore_errors=True)
    return os.path.getsize(dest)


def test_mixed_orc_and_parquet_data_files(spark, tmp_path):
    table = str(tmp_path / "mix")
    mdir = os.path.join(table, "metadata")
    os.makedirs(mdir)
    a = os.path.join(table, "data/et=click/a.parquet")
    o = os.path.join(table, "data/et=view/o.orc")
    _write_parquet(spark, a, [(1, 1.0, "click")])
    _write_orc(spark, o, [(2, 2.0, "view"), (3, 3.0, "view")])
    oe = _entry(1, o, "view")
    oe["data_file"]["file_format"] = "ORC"
    m1 = os.path.join(mdir, "m1.avro")
    s1 = IC.write_manifest(m1, [_entry(1, a, "click"), oe], PFIELDS)
    ml1 = os.path.join(mdir, "snap-1.avro")
    IC.write_manifest_list(ml1, [_mref(m1, s1)])
    _write_metadata(table, [
        {"snapshot-id": 1, "sequence-number": 1, "timestamp-ms": 0,
         "manifest-list": ml1, "schema-id": 0,
         "summary": {"operation": "append"}}], 1)
    assert _collect(IC.read_iceberg(spark, table)) == [
        (1, 1.0, "click"), (2, 2.0, "view"), (3, 3.0, "view")]
    # manifest-layer pruning still applies to the ORC entry
    assert _collect(IC.read_iceberg(spark, table,
                                    partitions={"et": "view"})) == [
        (2, 2.0, "view"), (3, 3.0, "view")]
    # position deletes + ORC refuse (row_index is parquet-side)
    delfile = os.path.join(table, "data/pd.parquet")
    _write_del_parquet(spark, delfile, [(a, 0)])
    mdel = os.path.join(mdir, "del.avro")
    sdel = IC.write_manifest(mdel, [_del_entry(delfile)], PFIELDS)
    ml2 = os.path.join(mdir, "snap-2.avro")
    dref = _mref(mdel, sdel, content=1)
    dref["sequence_number"] = 2
    IC.write_manifest_list(ml2, [_mref(m1, os.path.getsize(m1)),
                                 dref])
    _write_metadata(table, [
        {"snapshot-id": 1, "sequence-number": 1, "timestamp-ms": 0,
         "manifest-list": ml1, "schema-id": 0,
         "summary": {"operation": "append"}},
        {"snapshot-id": 2, "sequence-number": 2, "timestamp-ms": 1,
         "manifest-list": ml2, "schema-id": 0,
         "summary": {"operation": "delete"}}], 2, version=2)
    with pytest.raises(ValueError, match="ORC"):
        IC.read_iceberg(spark, table)


def test_column_rename_reads_by_field_id(spark, tmp_path):
    """Renames are Iceberg's native strength: data files carry
    field IDs, the schema is keyed by them, so a renamed column
    reads correctly while the parquet column keeps its old name."""
    table = _make_table(spark, tmp_path)
    v = IC.rename_column(table, "k", "key")
    assert v >= 3
    df = IC.read_iceberg(spark, table)
    assert df.columns == ["key", "x", "et"]
    assert _collect(df) == [(1, 1.0, "click"),
                            (2, 2.0, "view"), (3, 3.0, "view")]
    # rename an identity PARTITION column: the spec field follows
    IC.rename_column(table, "et", "kind")
    assert _collect(IC.read_iceberg(
        spark, table, partitions={"kind": "view"})) == [
        (2, 2.0, "view"), (3, 3.0, "view")]
    # delete_where composes on the renamed table
    IC.delete_where(spark, table, "key = 2")
    assert _collect(IC.read_iceberg(spark, table)) == [
        (1, 1.0, "click"), (3, 3.0, "view")]
    with pytest.raises(ValueError, match="already exists"):
        IC.rename_column(table, "x", "key")
    with pytest.raises(ValueError, match="no column"):
        IC.rename_column(table, "zzz", "y")


def test_rename_plus_orc_refuses(spark, tmp_path):
    # ORC resolves by NAME; a renamed history + ORC files refuses
    table = str(tmp_path / "mixren")
    mdir = os.path.join(table, "metadata")
    os.makedirs(mdir)
    o = os.path.join(table, "data/et=view/o.orc")
    _write_orc(spark, o, [(2, 2.0, "view")])
    oe = _entry(1, o, "view")
    oe["data_file"]["file_format"] = "ORC"
    m1 = os.path.join(mdir, "m1.avro")
    s1 = IC.write_manifest(m1, [oe], PFIELDS)
    ml1 = os.path.join(mdir, "snap-1.avro")
    IC.write_manifest_list(ml1, [_mref(m1, s1)])
    _write_metadata(table, [
        {"snapshot-id": 1, "sequence-number": 1, "timestamp-ms": 0,
         "manifest-list": ml1, "schema-id": 0,
         "summary": {"operation": "append"}}], 1)
    assert len(_collect(IC.read_iceberg(spark, table))) == 1
    IC.rename_column(table, "k", "key")
    with pytest.raises(ValueError, match="ORC"):
        IC.read_iceberg(spark, table)


def test_unsupported_format_and_file_kind(spark, tmp_path):
    table = _make_table(spark, tmp_path)
    mpath = IC.latest_metadata_path(table)
    with open(mpath, "r", encoding="utf-8") as f:
        meta = json.load(f)
    meta["format-version"] = 4
    with open(os.path.join(table, "metadata",
                           "v9.metadata.json"), "w",
              encoding="utf-8") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="format-version"):
        IC.read_iceberg(spark, table)
    os.remove(os.path.join(table, "metadata", "v9.metadata.json"))

    mdir = os.path.join(table, "metadata")
    m = os.path.join(mdir, "m-avrofile.avro")
    e = _entry(1, "f.avro", "click")
    e["data_file"]["file_format"] = "AVRO"
    size = IC.write_manifest(m, [e], PFIELDS)
    ml = os.path.join(mdir, "snap-9.avro")
    IC.write_manifest_list(ml, [_mref(m, size)])
    meta["format-version"] = 2
    meta["snapshots"].append(
        {"snapshot-id": 9, "sequence-number": 9, "timestamp-ms": 9,
         "manifest-list": ml, "schema-id": 0,
         "summary": {"operation": "append"}})
    with open(os.path.join(mdir, "v4.metadata.json"), "w",
              encoding="utf-8") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="file format"):
        IC.read_iceberg(spark, table, snapshot_id=9)


def test_v1_format_inline_manifests(spark, tmp_path):
    table = str(tmp_path / "v1")
    mdir = os.path.join(table, "metadata")
    os.makedirs(mdir)
    a = os.path.join(table, "data/a.parquet")
    _write_parquet(spark, a, [(1, 1.0, "click")])
    m1 = os.path.join(mdir, "m1.avro")
    IC.write_manifest(m1, [_entry(1, a, "click")], PFIELDS)
    meta = {
        "format-version": 1, "table-uuid": str(uuid.uuid4()),
        "location": f"file://{table}",
        "last-updated-ms": 0, "last-column-id": 3,
        "schema": SCHEMA,
        "partition-spec": SPEC["fields"],
        "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1, "timestamp-ms": 0,
                       "manifests": [m1]}],
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w",
              encoding="utf-8") as f:
        json.dump(meta, f)
    got = _collect(IC.read_iceberg(spark, table))
    assert got == [(1, 1.0, "click")]


def test_relocated_table_re_roots_absolute_paths(spark, tmp_path):
    table = _make_table(spark, tmp_path)
    moved = str(tmp_path / "moved")
    shutil.move(table, moved)
    got = _collect(IC.read_iceberg(spark, moved))
    assert got == [(1, 1.0, "click"), (2, 2.0, "view"),
                   (3, 3.0, "view")]


def test_empty_table_no_snapshot(spark, tmp_path):
    table = str(tmp_path / "empty")
    os.makedirs(os.path.join(table, "metadata"))
    _write_metadata(table, [], -1)
    df = IC.read_iceberg(spark, table)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "x", "et"]


def test_type_mapping():
    import pyspark.sql.types as T

    assert IC._iceberg_to_spark_type("decimal(10, 2)") == \
        T.DecimalType(10, 2)
    assert IC._iceberg_to_spark_type("fixed[16]") == T.BinaryType()
    assert IC._iceberg_to_spark_type("timestamptz") == \
        T.TimestampType()
    assert IC._iceberg_to_spark_type("timestamp") == \
        T.TimestampNTZType()
    nested = IC._iceberg_to_spark_type(
        {"type": "list", "element": "long",
         "element-required": True})
    assert nested == T.ArrayType(T.LongType(), False)
    with pytest.raises(ValueError, match="unsupported"):
        IC._iceberg_to_spark_type("time")


def test_cli_iceberg_scan(spark, tmp_path, capsys):
    from distributed_computing_projects_spark.cli import main

    table = _make_table(spark, tmp_path)
    rc = main(["iceberg-scan", table, "--partition", "et=click"],
              spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert "click" in out and "view" not in out


def test_truncate_transform_values():
    assert IC.truncate_value(17, 10) == 10
    assert IC.truncate_value(-1, 10) == -10   # floored, per spec
    assert IC.truncate_value(-10, 10) == -10
    assert IC.truncate_value(0, 10) == 0
    assert IC.truncate_value("iceberg", 3) == "ice"
    assert IC.truncate_value(b"\x01\x02\x03\x04", 2) == b"\x01\x02"


def test_write_iceberg_sink_roundtrip(spark, tmp_path):
    table = str(tmp_path / "sink")
    df1 = spark.createDataFrame(
        [(1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "b")],
        "k bigint, x double, et string")
    s1 = IC.write_iceberg(df1, table, partition_by=["et"])
    df2 = spark.createDataFrame([(4, 4.0, "a")],
                                "k bigint, x double, et string")
    s2 = IC.write_iceberg(df2, table, partition_by=["et"])
    assert (s1, s2) == (1, 2)
    got = _collect(IC.read_iceberg(spark, table))
    assert got == [(1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "b"),
                   (4, 4.0, "a")]
    # snapshot isolation: the first append is still readable
    assert len(_collect(IC.read_iceberg(spark, table,
                                        snapshot_id=1))) == 3
    # manifest-layer pruning over sink-written partition values
    pruned = IC.read_iceberg(spark, table, partitions={"et": "a"})
    assert _collect(pruned) == [(1, 1.0, "a"), (4, 4.0, "a")]
    # the data files CONTAIN the partition column (spec)
    snap = IC.resolve_snapshot(table)
    one = spark.read.parquet(snap.files[0][0])
    assert "et" in one.columns


def test_write_iceberg_escaped_partition_values(spark, tmp_path):
    # Spark percent-escapes special chars in hive dir names (space,
    # '%', ':', '/'); the manifest partition struct must carry the
    # TRUE value, not the escaped dir token, or manifest-layer
    # pruning silently matches nothing (the write_delta discipline)
    table = str(tmp_path / "esc")
    df = spark.createDataFrame(
        [(1, "a b"), (2, "x:y/z"), (3, "50%"), (4, "plain")],
        "k bigint, et string")
    IC.write_iceberg(df, table, partition_by=["et"])
    snap = IC.resolve_snapshot(table)
    assert sorted(pv["et"] for _p, pv in snap.files) == [
        "50%", "a b", "plain", "x:y/z"]
    for val, k in [("a b", 1), ("x:y/z", 2), ("50%", 3)]:
        got = _collect(IC.read_iceberg(spark, table,
                                       partitions={"et": val}))
        assert got == [(k, val)]
    # round-trip: the data files under the escaped dirs still read
    assert sorted(_collect(IC.read_iceberg(spark, table))) == [
        (1, "a b"), (2, "x:y/z"), (3, "50%"), (4, "plain")]


def test_delete_where_publishes_position_deletes(spark, tmp_path):
    table = str(tmp_path / "dw")
    df = spark.createDataFrame(
        [(i, float(i), "a" if i < 4 else "b") for i in range(8)],
        "k bigint, x double, et string")
    s1 = IC.write_iceberg(df, table, partition_by=["et"])
    s2 = IC.delete_where(spark, table, "k % 2 = 1")
    got = _collect(IC.read_iceberg(spark, table))
    assert got == [(0, 0.0, "a"), (2, 2.0, "a"), (4, 4.0, "b"),
                   (6, 6.0, "b")]
    # snapshot isolation: the pre-delete snapshot still reads whole
    assert len(_collect(IC.read_iceberg(spark, table,
                                        snapshot_id=s1))) == 8
    # a second delete layers (the first's manifest is preserved)
    s3 = IC.delete_where(spark, table, "k = 2")
    assert _collect(IC.read_iceberg(spark, table)) == [
        (0, 0.0, "a"), (4, 4.0, "b"), (6, 6.0, "b")]
    assert s3 > s2 > s1
    # no data file was rewritten
    snap = IC.resolve_snapshot(table)
    assert len(snap.deletes) == 2
    with pytest.raises(ValueError, match="matched no rows"):
        IC.delete_where(spark, table, "k = 999")
    # appends after a delete still read correctly on top
    IC.write_iceberg(spark.createDataFrame(
        [(9, 9.0, "a")], "k bigint, x double, et string"),
        table, partition_by=["et"])
    assert _collect(IC.read_iceberg(spark, table)) == [
        (0, 0.0, "a"), (4, 4.0, "b"), (6, 6.0, "b"), (9, 9.0, "a")]


def test_expire_snapshots_reclaims_expired_only(spark, tmp_path):
    table = str(tmp_path / "exp")
    df1 = spark.createDataFrame([(1, 1.0, "a"), (2, 2.0, "b")],
                                "k bigint, x double, et string")
    IC.write_iceberg(df1, table, partition_by=["et"])
    snap1 = IC.resolve_snapshot(table)
    old_files = [p for p, _pv in snap1.files]
    df2 = spark.createDataFrame([(9, 9.0, "z")],
                                "k bigint, x double, et string")
    # overwrite: snapshot 2's manifest list carries ONLY the new
    # manifest, so snapshot 1's whole chain becomes expired-only
    IC.write_iceberg(df2, table, partition_by=["et"],
                     mode="overwrite")
    plan = IC.expire_snapshots(table, keep=1, dry_run=True)
    assert set(old_files) <= set(plan)
    assert all(os.path.exists(p) for p in plan)  # dry run
    gone = IC.expire_snapshots(table, keep=1)
    assert gone == plan
    assert not any(os.path.exists(p) for p in gone)
    # the retained snapshot reads untouched
    assert _collect(IC.read_iceberg(spark, table)) == [(9, 9.0, "z")]
    # the expired snapshot is out of the metadata
    with pytest.raises(ValueError, match="not in table"):
        IC.read_iceberg(spark, table, snapshot_id=1)
    # nothing further to expire
    assert IC.expire_snapshots(table, keep=1) == []
    # a retained APPEND chain keeps shared manifests: files
    # mentioned by retained manifests survive whatever their status
    table2 = str(tmp_path / "exp2")
    IC.write_iceberg(df1, table2, partition_by=["et"])
    IC.write_iceberg(df2, table2, partition_by=["et"])  # fast-append
    gone2 = IC.expire_snapshots(table2, keep=1)
    assert _collect(IC.read_iceberg(spark, table2)) == [
        (1, 1.0, "a"), (2, 2.0, "b"), (9, 9.0, "z")]
    # snapshot 1's manifest is REUSED by snapshot 2's list: only
    # snapshot 1's own manifest LIST file was reclaimable
    assert all(p.endswith(".avro") for p in gone2)


def test_write_iceberg_overwrite_and_gates(spark, tmp_path):
    table = str(tmp_path / "ow")
    df1 = spark.createDataFrame([(1, 1.0, "a")],
                                "k bigint, x double, et string")
    IC.write_iceberg(df1, table, partition_by=["et"])
    df2 = spark.createDataFrame([(9, 9.0, "z")],
                                "k bigint, x double, et string")
    IC.write_iceberg(df2, table, partition_by=["et"],
                     mode="overwrite")
    assert _collect(IC.read_iceberg(spark, table)) == [(9, 9.0, "z")]
    assert _collect(IC.read_iceberg(spark, table, snapshot_id=1)) \
        == [(1, 1.0, "a")]
    bad = spark.createDataFrame([(1.5, 1.0, "a")],
                                "k double, x double, et string")
    with pytest.raises(ValueError, match="schema mismatch"):
        IC.write_iceberg(bad, table, partition_by=["et"])
    with pytest.raises(ValueError, match="partitioning mismatch"):
        IC.write_iceberg(df2, table)
    with pytest.raises(ValueError, match="string identity"):
        IC.write_iceberg(df2, str(tmp_path / "np"),
                         partition_by=["k"])


def test_iceberg_scan_leaves_the_session_conf(spark, sf_dir):
    """An iceberg read changes no session conf: a fresh session built
    from ``get_spark``'s conf already resolves parquet by field id, so
    a memoized ``load_table`` (keyed on every parquet conf) after the
    scan still starts no job."""
    from distributed_computing_projects_spark.profile import job_group
    from distributed_computing_projects_spark.queries import load_registry
    from distributed_computing_projects_spark.sources import registry as R

    s = spark.newSession()
    R.load_table(s, sf_dir, "orders")
    load_registry()["iceberg_table_scan"].fn(s, sf_dir).collect()
    with job_group(s) as jobs:
        R.load_table(s, sf_dir, "orders")
    assert len(jobs()) == 0
