"""BSON dump ingest — pure stdlib, from the public BSON specification
(bsonspec.org, version 1.1) — the ``.bson`` files ``mongodump``
writes: a bare concatenation of size-framed documents, no container
header, no index.

Why: MongoDB archives are a real corpus source (forum dumps, product
catalogs, scraped-site databases get published as mongodump
directories), and nothing in Spark reads them. The format is a
cousin of the engine's other record walks: each document leads with
its OWN int32 total size, so the file walks document-to-document
without parsing — the TFRecord shape with the length inside the
record instead of beside it.

Decode policy (the avro/tfrecord adapter discipline):

- **Documents are size-framed**: a document whose ELEMENTS are
  malformed drops RECORD-granularly — the leading size still says
  where the next document starts, so the walk continues (same
  trust-the-frame logic as TFRecord's length CRC). A size field that
  is itself absurd (< 5, past EOF, over the bomb bound) stops the
  stream, keeping complete documents (no resync marker exists).
- **Reader DDL resolves by NAME** with per-cell nulling adapters:
  ``bigint`` takes int32/int64, ``double`` takes double/int32/int64,
  ``string`` takes string / symbol / ObjectId (hex form), ``binary``
  takes generic binary, ``boolean`` takes bool, ``timestamp`` takes
  UTC-datetime (ms, emitted tz-aware — the avro lesson),
  ``array<T>`` takes BSON arrays element-adapted; anything else —
  including Decimal128, which has no lossless Python mapping here —
  nulls the cell. Writer-only fields are discarded; reader-only
  columns null.
- **Unknown element types skip by their spec length** where the spec
  gives one (all fixed and length-prefixed types); a type byte with
  no computable length fails just that document.

Scale: per-FILE parallelism (binaryFile scan) — mongodump writes one
``.bson`` per collection, often large, and the format is NOT
splittable (no index, sizes must be chained from the head), so the
documented discipline is the avro one: ingest once, convert to
parquet (``parquet_zstd_roundtrip``).

Reference: extension surface (the reference's only record format is
the plain text line, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from distributed_computing_projects_spark.operators.spread import decode_records

MAX_DOC_BYTES = 1 << 28  # document bomb bound
_MAX_DEPTH = 64          # nesting bound (hostile-document guard)


# ------------------------------------------------------- doc walk


def iter_bson_docs(data: bytes) -> Iterator[bytes]:
    """Raw document byte strings (size prefix included) from one
    ``.bson`` byte string; framing policy per the module docstring."""
    pos = 0
    end = len(data)
    while pos + 5 <= end:
        (size,) = struct.unpack_from("<i", data, pos)
        if size < 5 or size > MAX_DOC_BYTES:
            return  # absurd frame: offsets untrusted, stream stop
        if pos + size > end:
            return  # torn tail: complete documents survive
        if data[pos + size - 1] != 0x00:
            return  # missing terminator: framing untrusted
        yield data[pos:pos + size]
        pos += size


def _cstring(buf: bytes, pos: int):
    nul = buf.index(b"\x00", pos)
    return buf[pos:nul].decode("utf-8", "replace"), nul + 1


def parse_document(doc: bytes, depth: int = 0):
    """``{name: (type_byte, value)}`` from one raw document, or
    ``None`` — the record drop — on malformed elements. Values keep
    their BSON identity; the DDL adapters decide representation."""
    if depth > _MAX_DEPTH:
        return None
    try:
        (size,) = struct.unpack_from("<i", doc, 0)
        if size != len(doc):
            return None
        out = {}
        pos = 4
        while pos < size - 1:
            t = doc[pos]
            name, pos = _cstring(doc, pos + 1)
            if t == 0x01:  # double
                (v,) = struct.unpack_from("<d", doc, pos)
                pos += 8
            elif t in (0x02, 0x0E):  # string / symbol (deprecated)
                (ln,) = struct.unpack_from("<i", doc, pos)
                if ln < 1:
                    return None
                v = doc[pos + 4:pos + 3 + ln].decode(
                    "utf-8", "replace")
                pos += 4 + ln
            elif t in (0x03, 0x04):  # embedded document / array
                (ln,) = struct.unpack_from("<i", doc, pos)
                sub = parse_document(doc[pos:pos + ln], depth + 1)
                if sub is None:
                    return None
                v = sub
                pos += ln
            elif t == 0x05:  # binary: len + subtype + bytes
                (ln,) = struct.unpack_from("<i", doc, pos)
                if ln < 0:
                    return None
                v = doc[pos + 5:pos + 5 + ln]
                pos += 5 + ln
            elif t == 0x07:  # ObjectId
                v = doc[pos:pos + 12]
                pos += 12
            elif t == 0x08:  # bool
                v = doc[pos] == 1
                pos += 1
            elif t in (0x09, 0x11):  # UTC datetime ms / ts (internal)
                (v,) = struct.unpack_from("<q", doc, pos)
                pos += 8
            elif t in (0x0A, 0x06):  # null / undefined (deprecated)
                v = None
            elif t == 0x10:  # int32
                (v,) = struct.unpack_from("<i", doc, pos)
                pos += 4
            elif t == 0x12:  # int64
                (v,) = struct.unpack_from("<q", doc, pos)
                pos += 8
            elif t == 0x13:  # Decimal128: no lossless mapping — skip
                v = None
                pos += 16
            elif t == 0x0B:  # regex: two cstrings
                _, pos = _cstring(doc, pos)
                _, pos = _cstring(doc, pos)
                v = None
            elif t == 0x0D:  # JS code: string-shaped
                (ln,) = struct.unpack_from("<i", doc, pos)
                v = None
                pos += 4 + ln
            else:
                return None  # no computable length: document drops
            if pos > size:
                return None
            out[name] = (t, v)
        return out
    except (struct.error, ValueError, IndexError):
        return None


# ----------------------------------------------------- Spark stages


def _iter_docs(data: bytes):
    for raw in iter_bson_docs(data):
        doc = parse_document(raw)
        if doc is not None:  # malformed elements: record drop
            yield doc


def _adapter(sql_type: str):
    def scalar(t, v, want):
        if v is None:
            return None
        if want == "bigint":
            return int(v) if t in (0x10, 0x12) else None
        if want == "double":
            if t == 0x01:
                return float(v)
            if t in (0x10, 0x12):
                return float(v)  # spec-style widening
            return None
        if want == "string":
            if t in (0x02, 0x0E):
                return v
            if t == 0x07:
                return v.hex()  # the conventional ObjectId form
            return None
        if want == "binary":
            return bytes(v) if t == 0x05 else None
        if want == "boolean":
            return v if t == 0x08 else None
        return None

    def adapt(tv):
        if tv is None:
            return None
        t, v = tv
        if sql_type == "timestamp":
            # 0x09 is ms since epoch; emitted as Arrow microseconds
            # (UTC, the avro instant lesson)
            return v * 1000 if t == 0x09 else None
        if sql_type.startswith("array<"):
            if t != 0x04 or v is None:
                return None
            inner = sql_type[6:-1]
            return [scalar(et, ev, inner)
                    for et, ev in (v[k] for k in sorted(
                        v, key=lambda s: int(s) if s.isdigit() else 0))]
        return scalar(t, v, sql_type)
    return adapt


def read_bson(spark: SparkSession, path: str, ddl: str) -> DataFrame:
    """DataFrame over ``.bson`` dump files: binaryFile scan
    (per-file parallelism), the stdlib document walk inside the Arrow
    row stage, record-granular malformed drops, DDL-by-name
    resolution with per-cell nulling adapters."""
    return docs_from_binary(
        spark.read.format("binaryFile").load(path), ddl)


def docs_from_binary(bin_df: DataFrame, ddl: str) -> DataFrame:
    """The decode stage of :func:`read_bson` over any
    binaryFile-shaped DataFrame — shared by batch and the streaming
    landing-zone pattern (the avro/tfrecord twin)."""
    return decode_records(bin_df, ddl, _iter_docs, _adapter)


# ----------------------------------------------------- fixture twin


def _elem(name: str, v) -> bytes:
    nb = name.encode("utf-8") + b"\x00"
    if isinstance(v, bool):
        return bytes([0x08]) + nb + (b"\x01" if v else b"\x00")
    if isinstance(v, int):
        if -(1 << 31) <= v < (1 << 31):
            return bytes([0x10]) + nb + struct.pack("<i", v)
        return bytes([0x12]) + nb + struct.pack("<q", v)
    if isinstance(v, float):
        return bytes([0x01]) + nb + struct.pack("<d", v)
    if isinstance(v, str):
        sb = v.encode("utf-8") + b"\x00"
        return bytes([0x02]) + nb + struct.pack("<i", len(sb)) + sb
    if isinstance(v, (bytes, bytearray)):
        return (bytes([0x05]) + nb + struct.pack("<i", len(v))
                + b"\x00" + bytes(v))
    if v is None:
        return bytes([0x0A]) + nb
    if isinstance(v, list):
        inner = build_bson_doc(
            {str(i): x for i, x in enumerate(v)})
        return bytes([0x04]) + nb + inner
    if isinstance(v, dict):
        return bytes([0x03]) + nb + build_bson_doc(v)
    raise ValueError(f"unsupported fixture value {type(v)}")


def build_bson_doc(fields: dict) -> bytes:
    """One spec-exact BSON document (deterministic: insertion
    order) — the fixture twin of :func:`parse_document`."""
    body = b"".join(_elem(k, v) for k, v in fields.items())
    return struct.pack("<i", len(body) + 5) + body + b"\x00"


def build_bson_dump(docs) -> bytes:
    """One ``.bson`` byte string — the mongodump layout: documents
    concatenated, nothing else."""
    return b"".join(build_bson_doc(d) for d in docs)
