"""Varint-delimited protobuf stream ingest — pure stdlib, from the
public protobuf encoding spec (protobuf.dev/programming-guides/
encoding/) — the ``writeDelimitedTo`` container: each record is a
varint LENGTH followed by one serialized message, the de-facto
framing of protobuf log pipelines and event streams that are NOT
wrapped in TFRecord (``sources/tfrecord.py`` is the CRC-framed
sibling; its ``tf.train.Example`` walk fixed the message schema —
this reader takes ANY message via a caller-supplied field map).

Decode policy:

- **Frames are length-prefixed**, so drops are record-granular like
  BSON: a message whose WIRE WALK fails (truncated inner field,
  deprecated group wire types 3/4, varint overrun) drops the RECORD
  while the leading length still locates the next one; an absurd
  length or torn tail stops the stream (no resync marker).
- **The wire walk is schema-free**: tag = field_number << 3 | wire
  type; varint (0), fixed64 (1), length-delimited (2), fixed32 (5)
  all collect as raw occurrences per field number. Unknown fields
  — writer-only extensions — are SKIPPED BY THE WIRE GRAMMAR, the
  protobuf compatibility story this reader inherits for free.
- **The caller's field map gives meaning**: ``fields`` maps DDL
  column names to field numbers, and the DDL type picks the
  interpretation — ``bigint`` reads wire-type-0 as two's-complement
  int64 (``sint`` zigzag via a ``(number, 'sint')`` entry),
  ``double``/``float``-typed cells read fixed64/fixed32, ``string``
  and ``binary`` read length-delimited, ``boolean`` reads varint
  0/1, and ``array<T>`` takes ALL occurrences INCLUDING proto3's
  PACKED form (repeated scalars arrive as one length-delimited
  blob of concatenated varints/fixeds — detected by wire type).
  Mis-typed or absent cells null; the LAST occurrence wins for
  scalars (the spec's rule for non-repeated fields).

Scale: per-FILE parallelism (binaryFile scan), convert-once-to-
parquet discipline — the bson/msgpack/cbor family.

Reference: extension surface (the reference's only record format is
the plain text line, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from distributed_computing_projects_spark.operators.spread import flat_map_rows

MAX_MESSAGE_BYTES = 1 << 28


def _uvarint(buf: bytes, pos: int):
    v, shift = 0, 0
    while True:
        if pos >= len(buf):
            raise ValueError("varint past end")
        b = buf[pos]
        v |= (b & 0x7F) << shift
        pos += 1
        if not b & 0x80:
            return v, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def iter_delimited(data: bytes) -> Iterator[bytes]:
    """Raw message byte strings from one delimited stream; framing
    policy per the module docstring."""
    pos = 0
    end = len(data)
    while pos < end:
        try:
            ln, pos = _uvarint(data, pos)
        except ValueError:
            return  # torn length varint
        if ln > MAX_MESSAGE_BYTES or pos + ln > end:
            return  # bomb / torn tail: complete records survive
        yield data[pos:pos + ln]
        pos += ln


def walk_message(payload: bytes):
    """``{field_number: [(wire_type, raw value)]}`` or ``None`` (the
    record drop) — the schema-free wire walk. Raw values: int for
    wt 0, 8/4-byte bytes for wt 1/5, bytes for wt 2."""
    out: dict[int, list] = {}
    pos = 0
    end = len(payload)
    try:
        while pos < end:
            tag, pos = _uvarint(payload, pos)
            fno, wt = tag >> 3, tag & 7
            if fno == 0:
                return None  # field 0 is reserved: malformed
            if wt == 0:
                v, pos = _uvarint(payload, pos)
            elif wt == 1:
                if pos + 8 > end:
                    return None
                v = payload[pos:pos + 8]
                pos += 8
            elif wt == 5:
                if pos + 4 > end:
                    return None
                v = payload[pos:pos + 4]
                pos += 4
            elif wt == 2:
                ln, pos = _uvarint(payload, pos)
                if ln > MAX_MESSAGE_BYTES or pos + ln > end:
                    return None
                v = payload[pos:pos + ln]
                pos += ln
            else:
                return None  # groups (3/4) / reserved wire types
            out.setdefault(fno, []).append((wt, v))
        return out
    except ValueError:
        return None


def _to_i64(v: int) -> int:
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= (1 << 63) else v


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _scalar(occ, want: str, enc: str):
    """Interpret ONE wire occurrence under the DDL type."""
    wt, v = occ
    if want == "bigint":
        if wt != 0:
            return None
        return _unzigzag(v) if enc == "sint" else _to_i64(v)
    if want == "double":
        if wt == 1:
            return struct.unpack("<d", v)[0]
        if wt == 5:
            return float(struct.unpack("<f", v)[0])
        return None
    if want == "float":
        if wt == 5:
            return struct.unpack("<f", v)[0]
        if wt == 1:
            # a double written where the DDL says float: downcast
            # (mirrors the double branch's widening of fixed32)
            return struct.unpack("<d", v)[0]
        return None
    if want == "string":
        return v.decode("utf-8", "replace") if wt == 2 else None
    if want == "binary":
        return bytes(v) if wt == 2 else None
    if want == "boolean":
        return bool(v) if wt == 0 and v in (0, 1) else None
    return None


def _unpack_packed(blob: bytes, want: str, enc: str) -> list:
    out = []
    if want == "bigint":
        pos = 0
        while pos < len(blob):
            v, pos = _uvarint(blob, pos)
            out.append(_unzigzag(v) if enc == "sint"
                       else _to_i64(v))
        return out
    if want == "double":
        if len(blob) % 8 == 0:
            return [struct.unpack_from("<d", blob, i)[0]
                    for i in range(0, len(blob), 8)]
        return []
    if want == "float":
        if len(blob) % 4 == 0:
            return [struct.unpack_from("<f", blob, i)[0]
                    for i in range(0, len(blob), 4)]
        return []
    return []


def _adapter(sql_type: str, enc: str):
    def adapt(occs):
        if not occs:
            return None
        if sql_type.startswith("array<"):
            inner = sql_type[6:-1]
            if len(occs) == 1 and occs[0][0] == 2 \
                    and inner in ("bigint", "double", "float"):
                return _unpack_packed(occs[0][1], inner, enc)
            return [_scalar(o, inner, enc) for o in occs]
        return _scalar(occs[-1], sql_type, enc)  # last wins
    return adapt


def read_pbstream(spark: SparkSession, path: str, ddl: str,
                  fields: dict) -> DataFrame:
    """DataFrame over varint-delimited protobuf streams. ``fields``
    maps DDL column names to field numbers (or ``(number, 'sint')``
    for zigzag ints); the DDL types pick the wire interpretation."""
    return messages_from_binary(
        spark.read.format("binaryFile").load(path), ddl, fields)


def messages_from_binary(bin_df: DataFrame, ddl: str,
                         fields: dict) -> DataFrame:
    """The decode stage of :func:`read_pbstream` over any
    binaryFile-shaped DataFrame (the bson/msgpack/cbor twin)."""
    from pyspark.sql.types import StructType

    spec = []
    for f in StructType.fromDDL(ddl).fields:
        raw = fields.get(f.name)
        if raw is None:
            raise ValueError(f"no field number for column {f.name!r}")
        fno, enc = raw if isinstance(raw, tuple) else (raw, "int")
        spec.append((int(fno), _adapter(f.dataType.simpleString(), enc)))

    def decode(content):
        for raw in iter_delimited(content):
            msg = walk_message(raw)
            if msg is not None:  # malformed wire: record drop
                yield tuple(adapt(msg.get(fno, [])) for fno, adapt in spec)

    return flat_map_rows(bin_df.select("content"), decode, ddl)


# ----------------------------------------------------- fixture twin


def _enc_uvarint(v: int) -> bytes:
    out = bytearray()
    v &= (1 << 64) - 1
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def encode_field(fno: int, kind: str, v) -> bytes:
    """One wire field: kind in int/sint/bool/double/float/bytes/
    string/packed_int/packed_double/packed_float."""
    if kind in ("int", "bool"):
        return _enc_uvarint(fno << 3 | 0) + _enc_uvarint(int(v))
    if kind == "sint":
        zz = (v << 1) ^ (v >> 63)
        return _enc_uvarint(fno << 3 | 0) + _enc_uvarint(zz)
    if kind == "double":
        return _enc_uvarint(fno << 3 | 1) + struct.pack("<d", v)
    if kind == "float":
        return _enc_uvarint(fno << 3 | 5) + struct.pack("<f", v)
    if kind in ("bytes", "string"):
        b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
        return _enc_uvarint(fno << 3 | 2) + _enc_uvarint(len(b)) + b
    if kind == "packed_int":
        blob = b"".join(_enc_uvarint(x) for x in v)
        return (_enc_uvarint(fno << 3 | 2)
                + _enc_uvarint(len(blob)) + blob)
    if kind == "packed_double":
        blob = b"".join(struct.pack("<d", x) for x in v)
        return (_enc_uvarint(fno << 3 | 2)
                + _enc_uvarint(len(blob)) + blob)
    if kind == "packed_float":
        blob = b"".join(struct.pack("<f", x) for x in v)
        return (_enc_uvarint(fno << 3 | 2)
                + _enc_uvarint(len(blob)) + blob)
    raise ValueError(f"unknown kind {kind!r}")


def encode_message(parts: list[tuple[int, str, object]]) -> bytes:
    return b"".join(encode_field(f, k, v) for f, k, v in parts)


def build_pbstream(messages: list[bytes]) -> bytes:
    """One delimited stream: varint length + message, concatenated."""
    return b"".join(_enc_uvarint(len(m)) + m for m in messages)
