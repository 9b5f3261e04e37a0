"""Avro Object Container File (OCF) source — pure stdlib, from the
public Apache Avro 1.11 specification (container format + binary
encoding; https://avro.apache.org/docs/1.11.1/specification/).

Why it exists: Avro is the third warehouse interchange format after
parquet/ORC (Kafka archives, Sqoop exports, older Hive warehouses all
ship .avro), Spark's own avro module is an EXTERNAL jar this
deployment does not carry (``Failed to find data source: avro``,
verified), and the container has no Python avro wheel. A user
migrating an Avro landing zone needs the engine to ingest it as-is.

Format recap (spec §Object Container Files): header = magic
``Obj\\x01`` + a file-metadata map (``avro.schema`` JSON,
``avro.codec``) + a 16-byte sync marker; then blocks of
(record-count varint, byte-size varint, codec-compressed record data,
sync marker). Records are binary-encoded depth-first against the
WRITER schema: zigzag-varint ints/longs, little-endian IEEE
float/double, length-prefixed bytes/strings, union = branch index +
value, arrays/maps = blocks with negative-count byte-size form.

Engine policies, same as every other codec seam:

- **Codecs**: ``null`` and ``deflate`` (stdlib zlib, raw), ``bzip2``
  and ``xz`` (stdlib), ``zstandard`` through the same backend chain as
  ``.warc.zst`` (``sources/warc.zstd_backend``), and ``snappy``
  through the pure-stdlib raw-format decoder in
  ``functions/snappy.py`` (spec: block body + 4-byte big-endian CRC32
  of the uncompressed bytes; CRC mismatch is a block drop). Unknown
  codecs drop block-granularly (documented dormant path).
- **Drops are block-granular**: a block that fails to decompress,
  overruns the bomb bound, mis-decodes, or whose trailing sync marker
  mismatches drops (with everything after it — past a bad sync the
  stream offsets can't be trusted); complete blocks before it survive.
  The walk never raises on hostile bytes.
- **Bomb bound**: both the declared block size and the decompressed
  size are checked against ``MAX_BLOCK_BYTES`` BEFORE/DURING decode
  (bounded decompressobj, the warc/pdf discipline).

Scale: OCF is splittable on sync markers in principle; this reader
parallelizes per FILE (binaryFile scan — the gzip/WARC model), which
matches how Avro landing zones are laid out (many part files per
directory). The 100 TB path remains: ingest once, convert to
parquet/zstd (``parquet_zstd_roundtrip``) — Avro is a row format and
scanning it repeatedly would forfeit column pruning no matter the
reader.

Reference: extension surface (the reference's only record format is
the text line, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import bz2
import io
import json
import lzma
import struct
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from distributed_computing_projects_spark.operators.spread import flat_map_rows

MAGIC = b"Obj\x01"
MAX_BLOCK_BYTES = 1 << 28  # 256 MiB decompressed, the codec-walk bound
MAX_BLOCK_RECORDS = 1 << 22  # count bomb guard: zero-byte records
_MAX_DEPTH = 64  # schema nesting bound (hostile-schema guard)


# --------------------------------------------------------------- decoding


class _Reader:
    """Binary-encoding reader over one decompressed block."""

    __slots__ = ("buf", "pos", "end")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0
        self.end = len(buf)

    def long(self) -> int:
        """zigzag varint (spec: int and long share the encoding)."""
        shift = 0
        acc = 0
        while True:
            if self.pos >= self.end:
                raise EOFError("varint past end")
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if shift > 70:
                raise ValueError("varint too long")
        return (acc >> 1) ^ -(acc & 1)

    def raw(self, n: int) -> bytes:
        if n < 0 or self.pos + n > self.end:
            raise EOFError("bytes past end")
        out = self.buf[self.pos:self.pos + n]
        self.pos += n
        return out


def _decode_value(r: _Reader, schema, depth: int = 0):
    """One value against the writer schema (dict/list/str form)."""
    if depth > _MAX_DEPTH:
        raise ValueError("schema too deep")
    if isinstance(schema, list):  # union: branch index, then value
        idx = r.long()
        if not 0 <= idx < len(schema):
            raise ValueError("union branch out of range")
        return _decode_value(r, schema[idx], depth + 1)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return {f["name"]: _decode_value(r, f["type"], depth + 1)
                    for f in schema["fields"]}
        if t == "enum":
            syms = schema["symbols"]
            idx = r.long()
            if not 0 <= idx < len(syms):
                raise ValueError("enum index out of range")
            return syms[idx]
        if t == "array":
            out = []
            while True:
                n = r.long()
                if n == 0:
                    break
                if n < 0:  # block with byte-size prefix
                    n = -n
                    r.long()  # size hint: unused, we decode items
                for _ in range(n):
                    out.append(_decode_value(r, schema["items"],
                                             depth + 1))
            return out
        if t == "map":
            out = {}
            while True:
                n = r.long()
                if n == 0:
                    break
                if n < 0:
                    n = -n
                    r.long()
                for _ in range(n):
                    k = r.raw(r.long()).decode("utf-8")
                    out[k] = _decode_value(r, schema["values"],
                                           depth + 1)
            return out
        if t == "fixed":
            return r.raw(schema["size"])
        # {"type": "long", "logicalType": ...} wrapper form
        return _decode_value(r, t, depth + 1)
    # primitives
    if schema == "null":
        return None
    if schema == "boolean":
        return r.raw(1) != b"\x00"
    if schema in ("int", "long"):
        return r.long()
    if schema == "float":
        return struct.unpack("<f", r.raw(4))[0]
    if schema == "double":
        return struct.unpack("<d", r.raw(8))[0]
    if schema == "bytes":
        return r.raw(r.long())
    if schema == "string":
        return r.raw(r.long()).decode("utf-8")
    raise ValueError(f"unsupported avro type {schema!r}")


def _decompress_block(codec: str, data: bytes):
    """Decompressed block bytes, or None when the codec is absent /
    the bytes are torn / the bound is exceeded (block drop)."""
    try:
        if codec in ("", "null"):
            return data if len(data) <= MAX_BLOCK_BYTES else None
        if codec == "deflate":  # raw DEFLATE, no zlib header (spec)
            d = zlib.decompressobj(-15)
            out = d.decompress(data, MAX_BLOCK_BYTES + 1)
            if len(out) > MAX_BLOCK_BYTES or not d.eof:
                return None
            return out
        if codec == "bzip2":
            d = bz2.BZ2Decompressor()
            out = d.decompress(data, MAX_BLOCK_BYTES + 1)
            if len(out) > MAX_BLOCK_BYTES or not d.eof:
                return None
            return out
        if codec == "xz":
            d = lzma.LZMADecompressor(format=lzma.FORMAT_XZ)
            out = d.decompress(data, MAX_BLOCK_BYTES + 1)
            if len(out) > MAX_BLOCK_BYTES or not d.eof:
                return None
            return out
        if codec == "zstandard":
            from distributed_computing_projects_spark.sources.warc import (
                zstd_backend,
            )
            backend = zstd_backend()
            if backend is None:
                return None
            d = backend[1]()
            try:
                out = d.decompress(data, MAX_BLOCK_BYTES + 1)
            except TypeError:
                # degraded backend (zstandard wheel): no max_length —
                # one-shot decode, post-hoc length check (warc policy)
                out = d.decompress(data)
            if len(out) > MAX_BLOCK_BYTES or not getattr(d, "eof", True):
                return None
            return out
        if codec == "snappy":
            # spec: raw-snappy body + 4-byte BIG-ENDIAN CRC32 of the
            # UNCOMPRESSED bytes; pure-stdlib decoder in
            # functions/snappy.py — a CRC mismatch is a block drop
            from distributed_computing_projects_spark.functions import (
                snappy as SN,
            )
            if len(data) < 4:
                return None
            out = SN.decompress(data[:-4], MAX_BLOCK_BYTES)
            if zlib.crc32(out) != int.from_bytes(data[-4:], "big"):
                return None
            return out
        return None  # unknown codec: no backend here -> drop
    except Exception:
        return None  # torn/corrupt block


def parse_header(data: bytes):
    """(schema, codec, sync, body_offset) or None on a malformed
    header (whole-file drop)."""
    if data[:4] != MAGIC:
        return None
    r = _Reader(data)
    r.pos = 4
    meta = {}
    try:
        while True:
            n = r.long()
            if n == 0:
                break
            if n < 0:
                n = -n
                r.long()
            for _ in range(n):
                k = r.raw(r.long()).decode("utf-8")
                meta[k] = r.raw(r.long())
        sync = r.raw(16)
        schema = json.loads(meta["avro.schema"])
    except Exception:
        return None
    codec = meta.get("avro.codec", b"null").decode("ascii", "replace")
    return schema, codec, sync, r.pos


def iter_records(data: bytes) -> Iterator[dict]:
    """Records from one OCF byte string, block-granular drop policy
    (module docstring). Yields nothing on a malformed header."""
    head = parse_header(data)
    if head is None:
        return
    schema, codec, sync, pos = head
    r = _Reader(data)
    r.pos = pos
    while r.pos < r.end:
        try:
            count = r.long()
            size = r.long()
            if not 0 <= count <= MAX_BLOCK_RECORDS:
                # count bomb: a zero-byte-record schema (empty or
                # all-null fields) makes count the only allocation
                # bound, so an insane count is untrustable like an
                # insane size (found by adversarial review)
                return
            if not 0 <= size <= MAX_BLOCK_BYTES:
                return  # insane declared size: offsets untrustable
            raw = r.raw(size)
            if r.raw(16) != sync:
                return  # lost sync: everything after is untrustable
        except (EOFError, ValueError):
            return  # torn tail: complete blocks before it survived
        plain = _decompress_block(codec, raw)
        if plain is None:
            continue  # block drop, next block is sync-aligned
        br = _Reader(plain)
        out = []
        try:
            for _ in range(count):
                out.append(_decode_value(br, schema))
        except Exception:
            # mis-encoded block — or a hostile SCHEMA that parsed as
            # JSON but is not schema-shaped (KeyError/TypeError mid-
            # walk; found by the mutation fuzz): drop the block whole
            continue
        yield from out


# --------------------------------------------------- schema -> spark


def _avro_field_ddl(schema) -> str:
    """Spark DDL type for an Avro field schema (the subset the
    decoder supports; unions with null map to the non-null branch —
    Spark columns are nullable anyway)."""
    if isinstance(schema, list):
        branches = [s for s in schema if s != "null"]
        if len(branches) != 1:
            raise ValueError("only [null, T] unions map to a column")
        return _avro_field_ddl(branches[0])
    if isinstance(schema, dict):
        t = schema["type"]
        logical = schema.get("logicalType")
        if logical in ("timestamp-micros", "timestamp-millis"):
            return "timestamp"
        if logical in ("local-timestamp-micros", "local-timestamp-millis"):
            return "timestamp_ntz"
        if logical == "date":
            return "date"
        if t == "array":
            return f"array<{_avro_field_ddl(schema['items'])}>"
        if t == "map":
            return f"map<string,{_avro_field_ddl(schema['values'])}>"
        if t in ("enum",):
            return "string"
        if t in ("fixed",):
            return "binary"
        if t == "record":
            inner = ", ".join(
                f"{f['name']}: {_avro_field_ddl(f['type'])}"
                for f in schema["fields"])
            return f"struct<{inner}>"
        return _avro_field_ddl(t)
    return {
        "boolean": "boolean", "int": "int", "long": "bigint",
        "float": "float", "double": "double", "bytes": "binary",
        "string": "string",
    }[schema]


def avro_spark_ddl(schema) -> str:
    """Top-level record schema -> Spark row-stage DDL string."""
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        raise ValueError("top-level avro schema must be a record")
    return ", ".join(f"{f['name']} {_avro_field_ddl(f['type'])}"
                     for f in schema["fields"])


def _logical_fields(schema) -> dict[str, str]:
    """field name -> logicalType for top-level timestamp/date fields
    (decoded as raw longs/ints; the field adapter rescales)."""
    out = {}
    for f in schema["fields"]:
        t = f["type"]
        if isinstance(t, list):
            branches = [s for s in t if s != "null"]
            t = branches[0] if len(branches) == 1 else t
        if isinstance(t, dict) and t.get("logicalType") in (
                "timestamp-micros", "timestamp-millis",
                "local-timestamp-micros", "local-timestamp-millis",
                "date"):
            out[f["name"]] = t["logicalType"]
    return out


def infer_avro_schema(path: str):
    """Writer schema from one local OCF file's header (driver-side
    peek for interactive use; queries pass schemas explicitly). The
    peek grows until the header fits — wide enterprise schemas can
    exceed a fixed 1 MiB prefix (adversarial-review finding) — up to
    a 64 MiB sanity bound."""
    size = 1 << 20
    while True:
        with open(path, "rb") as f:
            buf = f.read(size)
        head = parse_header(buf)
        if head is not None:
            return head[0]
        if len(buf) < size or size >= (1 << 26):
            raise ValueError(f"not an Avro OCF: {path}")
        size *= 8


_TYPE_OK = {
    "int": (int,), "long": (int,),
    "float": (float,), "double": (float,),
    "string": (str,), "enum": (str,),
    "bytes": (bytes, bytearray), "fixed": (bytes, bytearray),
    "boolean": (bool,),
    "array": (list,), "map": (dict,), "record": (dict,),
}


def _base_type(t) -> str:
    """The Avro base-type NAME for a field schema, unwrapping
    ``[null, T]`` unions and WRAPPER-FORM complex types (spec-legal
    ``{"type": {"type": "array", ...}}`` nesting) exactly the way
    ``_avro_field_ddl`` recurses — the adapter's container check must
    stay in lockstep with the DDL, or a wrapper-form array/map field
    gets ``array<...>`` DDL while the adapter silently nulls every
    decoded list (whole-column data loss; adversarial-review
    finding)."""
    if isinstance(t, list):
        branches = [s for s in t if s != "null"]
        if len(branches) != 1:
            # keep in lockstep with avro_spark_ddl, which rejects
            # these at plan time — a silently-wrong adapter here
            # would null every value if union DDL support widens
            raise ValueError("only [null, T] unions map to a column")
        return _base_type(branches[0])
    if isinstance(t, dict):
        inner = t["type"]
        if isinstance(inner, (dict, list)):
            return _base_type(inner)  # wrapper form: follow t['type']
        return inner  # "array"/"map"/"record"/"enum"/"fixed"/primitive
    return t


# logicalType -> factor from the decoded long/int to the Arrow cell
# (microseconds for both timestamp kinds, days for date). Whether the
# instant is UTC-aware (``timestamp``) or a zone-less wall clock
# (``timestamp_ntz``) is the DDL's Arrow type, from _avro_field_ddl.
_LOGICAL_SCALE = {
    "timestamp-micros": 1, "timestamp-millis": 1000,
    "local-timestamp-micros": 1, "local-timestamp-millis": 1000,
    "date": 1,
}


def _field_adapters(avro_schema) -> dict:
    """name -> (default, adapt) for top-level reader fields — the
    spec's Schema Resolution rules that matter across file
    generations: a field the writer lacks takes the READER default
    (spec: error without one; this reader uses the default or null —
    the drop-tolerant variant of the same rule), int/long promote to
    float/double, bytes<->string interconvert. After promotion the
    value is TYPE-CHECKED against the reader type and nulled on
    mismatch — an unresolvable generation difference must degrade to
    a null field, never reach Arrow as a mis-typed cell that kills
    the whole task (adversarial-review finding). Timestamp and date
    logical types rescale to their Arrow cell (``_LOGICAL_SCALE``)."""
    logical = _logical_fields(avro_schema)
    out = {}
    for f in avro_schema["fields"]:
        base = _base_type(f["type"])

        def make_adapt(base, scale):
            ok = _TYPE_OK.get(base)

            def adapt(v):
                if base in ("float", "double") and isinstance(v, int) \
                        and not isinstance(v, bool):
                    v = float(v)
                elif base == "string" and isinstance(
                        v, (bytes, bytearray)):
                    v = v.decode("utf-8", "replace")
                elif base == "bytes" and isinstance(v, str):
                    v = v.encode("utf-8")
                if ok is not None and not isinstance(v, ok):
                    return None
                if ok == (int,) and isinstance(v, bool):
                    return None  # bool is not an avro int/long
                return v * scale if scale else v
            return adapt

        out[f["name"]] = (f.get("default"), make_adapt(
            base, _LOGICAL_SCALE.get(logical.get(f["name"]))))
    return out


def decode_datum(data: bytes, avro_schema) -> dict:
    """One schema-framed binary datum (NO container) against a known
    writer schema — the form Avro takes inside other formats'
    envelopes (Hudi log blocks frame per-record avro bytes; Kafka
    wire format strips the OCF too). Trailing bytes refuse: a datum
    is exactly one value."""
    if isinstance(avro_schema, str):
        avro_schema = json.loads(avro_schema)
    r = _Reader(data)
    v = _decode_value(r, avro_schema)
    if r.pos != r.end:
        raise ValueError(
            f"{r.end - r.pos} trailing bytes after avro datum")
    return v


def encode_datum(avro_schema, value) -> bytes:
    """The builder twin of :func:`decode_datum`."""
    if isinstance(avro_schema, str):
        avro_schema = json.loads(avro_schema)
    w = io.BytesIO()
    _encode_value(w, avro_schema, value)
    return w.getvalue()


def read_avro(spark: SparkSession, path: str, avro_schema) -> DataFrame:
    """DataFrame over ``.avro`` OCF files: binaryFile scan (per-file
    parallelism), stdlib block walk + binary decode inside the Arrow
    row stage, block-granular malformed drops.

    ``avro_schema`` (dict form or JSON string) is the READER schema:
    each file decodes against its own embedded writer schema, then
    resolves field-by-name per the spec's Schema Resolution rules —
    writer-only fields are discarded, reader-only fields take their
    ``default`` (null without one), int/long promote to float/double,
    bytes<->string interconvert — so one scan spans shard generations
    the way real Avro landing zones accrete. A file whose embedded
    schema is structurally incompatible fails field decode and drops
    block-granularly, never poisoning the batch."""
    return records_from_binary(
        spark.read.format("binaryFile").load(path), avro_schema)


def records_from_binary(bin_df: DataFrame, avro_schema) -> DataFrame:
    """The decode stage of :func:`read_avro` over any binaryFile-shaped
    DataFrame (``content`` column) — the same Arrow stage serves the
    batch scan and the streaming landing-zone source
    (``readStream.format('binaryFile')``), so batch and stream agree
    record-for-record."""
    if isinstance(avro_schema, str):
        avro_schema = json.loads(avro_schema)
    adapters = _field_adapters(avro_schema)
    cells = [(f["name"], *adapters[f["name"]])
             for f in avro_schema["fields"]]

    def decode(content):
        for rec in iter_records(content):
            row = []
            for n, default, adapt in cells:
                v = rec.get(n, default)
                row.append(None if v is None else adapt(v))
            yield row

    return flat_map_rows(bin_df.select("content"), decode,
                         avro_spark_ddl(avro_schema))


# ----------------------------------------------------- fixture writer


def _zigzag(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode_value(w: io.BytesIO, schema, v, depth: int = 0) -> None:
    if depth > _MAX_DEPTH:
        raise ValueError("schema too deep")
    if isinstance(schema, list):
        for i, branch in enumerate(schema):
            if (v is None) == (branch == "null"):
                w.write(_zigzag(i))
                _encode_value(w, branch, v, depth + 1)
                return
        raise ValueError("no union branch for value")
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            for f in schema["fields"]:
                # .get: a missing key encodes as null (the JSONL
                # staging convention — writers omit null fields)
                _encode_value(w, f["type"], v.get(f["name"]), depth + 1)
            return
        if t == "enum":
            w.write(_zigzag(schema["symbols"].index(v)))
            return
        if t == "array":
            if v:
                w.write(_zigzag(len(v)))
                for item in v:
                    _encode_value(w, schema["items"], item, depth + 1)
            w.write(_zigzag(0))
            return
        if t == "map":
            if v:
                w.write(_zigzag(len(v)))
                for k, item in v.items():
                    kb = k.encode("utf-8")
                    w.write(_zigzag(len(kb)))
                    w.write(kb)
                    _encode_value(w, schema["values"], item, depth + 1)
            w.write(_zigzag(0))
            return
        if t == "fixed":
            w.write(v)
            return
        _encode_value(w, t, v, depth + 1)
        return
    if schema == "null":
        return
    if schema == "boolean":
        w.write(b"\x01" if v else b"\x00")
    elif schema in ("int", "long"):
        w.write(_zigzag(int(v)))
    elif schema == "float":
        w.write(struct.pack("<f", v))
    elif schema == "double":
        w.write(struct.pack("<d", v))
    elif schema == "bytes":
        w.write(_zigzag(len(v)))
        w.write(v)
    elif schema == "string":
        vb = v.encode("utf-8")
        w.write(_zigzag(len(vb)))
        w.write(vb)
    else:
        raise ValueError(f"unsupported avro type {schema!r}")


def write_ocf(records, avro_schema, codec: str = "deflate",
              records_per_block: int = 1000,
              sync: bytes = b"\x13" * 16) -> bytes:
    """One OCF byte string (the differential fixture twin of
    :func:`iter_records` — deterministic: fixed sync marker, fixed
    block size, spec-canonical encoding)."""
    if isinstance(avro_schema, str):
        avro_schema = json.loads(avro_schema)
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {"avro.schema": json.dumps(
        avro_schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode()}
    out.write(_zigzag(len(meta)))
    for k, v in sorted(meta.items()):
        kb = k.encode()
        out.write(_zigzag(len(kb)))
        out.write(kb)
        out.write(_zigzag(len(v)))
        out.write(v)
    out.write(_zigzag(0))
    out.write(sync)
    records = list(records)
    for i in range(0, len(records), records_per_block):
        chunk = records[i:i + records_per_block]
        body = io.BytesIO()
        for rec in chunk:
            _encode_value(body, avro_schema, rec)
        plain = body.getvalue()
        if codec == "null":
            packed = plain
        elif codec == "deflate":
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            packed = c.compress(plain) + c.flush()
        elif codec == "bzip2":
            packed = bz2.compress(plain)
        elif codec == "xz":
            packed = lzma.compress(plain)
        elif codec == "zstandard":
            from distributed_computing_projects_spark.sources.warc import (
                zstd_backend,
            )
            backend = zstd_backend()
            if backend is None:
                raise RuntimeError("no zstd backend for avro fixture")
            packed = backend[0](plain)
        elif codec == "snappy":
            from distributed_computing_projects_spark.functions import (
                snappy as SN,
            )
            packed = SN.compress(plain) + zlib.crc32(plain).to_bytes(
                4, "big")
        else:
            raise ValueError(f"unsupported writer codec {codec!r}")
        out.write(_zigzag(len(chunk)))
        out.write(_zigzag(len(packed)))
        out.write(packed)
        out.write(sync)
    return out.getvalue()
