"""MessagePack stream ingest — pure stdlib, from the public format
specification (github.com/msgpack/msgpack/blob/master/spec.md) — the
``.msgpack`` dumps scraped-data pipelines and key-value exports ship:
a bare concatenation of self-framing values, no container header (the
BSON shape with the length implicit in the type bytes instead of a
leading size).

Decode policy (the bson/tfrecord adapter discipline):

- **Framing is type-derived, not size-framed**: every value's extent
  follows from its type byte, so the stream walks value-to-value by
  full structural decode. The consequence for drops: a value that
  DECODES but is not a map (or fails DDL adaptation cell-wise) drops
  the ROW — the walk continues at the next value, whose boundary is
  trusted; a value that fails STRUCTURALLY (truncated payload, the
  reserved 0xc1 byte, bomb-bound breach) stops the STREAM — past a
  structural failure no boundary can be trusted and there is no
  resync marker. This is the honest middle between BSON (size frames
  survive element corruption) and bare JSONL (newlines resync).
- **Reader DDL resolves by NAME** with per-cell nulling adapters:
  ``bigint`` takes int, ``double`` takes float32/float64 and widens
  ints, ``string`` takes str, ``binary`` takes bin, ``boolean``
  takes bool, ``timestamp`` takes the spec's timestamp extension
  (type -1: 32-bit secs / 64-bit nanos+secs / 96-bit) emitted as a
  tz-aware instant (the avro lesson); ``array<T>`` element-adapts.
  Writer-only fields discard; reader-only columns null; non-string
  map keys make the row un-addressable by name and drop it.
- **Bomb bounds**: per-value byte budget enforced DURING decode
  (strings/bins check their declared length against the remaining
  buffer before allocating), container counts bounded, depth bounded
  (hostile nesting).

Scale: per-FILE parallelism (binaryFile scan) — the format is not
splittable (no sync markers; boundaries require decoding from the
head), so the documented discipline is the avro/bson one: ingest
once, convert to parquet.

Reference: extension surface (the reference's only record format is
the plain text line, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from distributed_computing_projects_spark.operators.spread import decode_records
from distributed_computing_projects_spark.sources.cborfile import cell_adapter

MAX_VALUE_BYTES = 1 << 28   # single length declaration bound
MAX_CONTAINER = 1 << 24     # elements per container bound
_MAX_DEPTH = 64


class _Timestamp:
    """Spec extension type -1, kept distinct from int so the DDL
    adapter can demand a real timestamp."""

    __slots__ = ("sec", "nsec")

    def __init__(self, sec: int, nsec: int):
        self.sec = sec
        self.nsec = nsec


class _Ext:
    """Any other extension type: opaque (type, payload)."""

    __slots__ = ("code", "data")

    def __init__(self, code: int, data: bytes):
        self.code = code
        self.data = data


def _decode_ts(code: int, payload: bytes):
    if code != -1:
        return _Ext(code, payload)
    if len(payload) == 4:
        return _Timestamp(struct.unpack(">I", payload)[0], 0)
    if len(payload) == 8:
        (v,) = struct.unpack(">Q", payload)
        return _Timestamp(v & ((1 << 34) - 1), v >> 34)
    if len(payload) == 12:
        nsec, sec = struct.unpack(">Iq", payload)
        return _Timestamp(sec, nsec)
    raise ValueError("malformed timestamp extension")


def _decode(data: bytes, pos: int, depth: int = 0):
    """One value; returns (value, new pos). Raises on structural
    failure — the caller's stream-stop signal."""
    if depth > _MAX_DEPTH:
        raise ValueError("nesting bound")
    b = data[pos]
    pos += 1
    if b <= 0x7F:                       # positive fixint
        return b, pos
    if b >= 0xE0:                       # negative fixint
        return b - 0x100, pos
    if 0xA0 <= b <= 0xBF:               # fixstr
        n = b & 0x1F
        return _take_str(data, pos, n)
    if 0x90 <= b <= 0x9F:               # fixarray
        return _take_array(data, pos, b & 0x0F, depth)
    if 0x80 <= b <= 0x8F:               # fixmap
        return _take_map(data, pos, b & 0x0F, depth)
    if b == 0xC0:
        return None, pos
    if b == 0xC2:
        return False, pos
    if b == 0xC3:
        return True, pos
    if b == 0xCA:
        v = struct.unpack_from(">f", data, pos)[0]
        return v, pos + 4
    if b == 0xCB:
        v = struct.unpack_from(">d", data, pos)[0]
        return v, pos + 8
    if 0xCC <= b <= 0xCF:               # uint 8/16/32/64
        n = 1 << (b - 0xCC)
        v = int.from_bytes(data[pos:pos + n], "big")
        _need(data, pos, n)
        return v, pos + n
    if 0xD0 <= b <= 0xD3:               # int 8/16/32/64
        n = 1 << (b - 0xD0)
        _need(data, pos, n)
        v = int.from_bytes(data[pos:pos + n], "big", signed=True)
        return v, pos + n
    if b == 0xD9 or b == 0xDA or b == 0xDB:   # str 8/16/32
        w = 1 << (b - 0xD9)
        _need(data, pos, w)
        n = int.from_bytes(data[pos:pos + w], "big")
        return _take_str(data, pos + w, n)
    if b == 0xC4 or b == 0xC5 or b == 0xC6:   # bin 8/16/32
        w = 1 << (b - 0xC4)
        _need(data, pos, w)
        n = int.from_bytes(data[pos:pos + w], "big")
        return _take_bin(data, pos + w, n)
    if b == 0xDC or b == 0xDD:          # array 16/32
        w = 2 << (b - 0xDC)
        _need(data, pos, w)
        n = int.from_bytes(data[pos:pos + w], "big")
        return _take_array(data, pos + w, n, depth)
    if b == 0xDE or b == 0xDF:          # map 16/32
        w = 2 << (b - 0xDE)
        _need(data, pos, w)
        n = int.from_bytes(data[pos:pos + w], "big")
        return _take_map(data, pos + w, n, depth)
    if 0xD4 <= b <= 0xD8:               # fixext 1/2/4/8/16
        n = 1 << (b - 0xD4)
        _need(data, pos, 1 + n)
        code = struct.unpack_from(">b", data, pos)[0]
        return _decode_ts(code, data[pos + 1:pos + 1 + n]), \
            pos + 1 + n
    if b == 0xC7 or b == 0xC8 or b == 0xC9:   # ext 8/16/32
        w = 1 << (b - 0xC7)
        _need(data, pos, w)
        n = int.from_bytes(data[pos:pos + w], "big")
        if n > MAX_VALUE_BYTES:
            raise ValueError("ext bomb")
        p = pos + w
        _need(data, p, 1 + n)
        code = struct.unpack_from(">b", data, p)[0]
        return _decode_ts(code, data[p + 1:p + 1 + n]), p + 1 + n
    raise ValueError(f"reserved/unknown type byte 0x{b:02x}")


def _need(data: bytes, pos: int, n: int) -> None:
    if pos + n > len(data):
        raise ValueError("truncated value")


def _take_str(data: bytes, pos: int, n: int):
    if n > MAX_VALUE_BYTES:
        raise ValueError("str bomb")
    _need(data, pos, n)
    return data[pos:pos + n].decode("utf-8", "replace"), pos + n


def _take_bin(data: bytes, pos: int, n: int):
    if n > MAX_VALUE_BYTES:
        raise ValueError("bin bomb")
    _need(data, pos, n)
    return bytes(data[pos:pos + n]), pos + n


def _take_array(data: bytes, pos: int, n: int, depth: int):
    if n > MAX_CONTAINER:
        raise ValueError("array bomb")
    out = []
    for _ in range(n):
        v, pos = _decode(data, pos, depth + 1)
        out.append(v)
    return out, pos


def _take_map(data: bytes, pos: int, n: int, depth: int):
    if n > MAX_CONTAINER:
        raise ValueError("map bomb")
    out = {}
    for _ in range(n):
        k, pos = _decode(data, pos, depth + 1)
        v, pos = _decode(data, pos, depth + 1)
        out[k] = v
    return out, pos


def iter_msgpack_values(data: bytes) -> Iterator:
    """Top-level values of one concatenated stream; stream-stop on
    structural failure per the module docstring."""
    pos = 0
    end = len(data)
    while pos < end:
        try:
            v, pos = _decode(data, pos)
        except (ValueError, IndexError, struct.error):
            return  # structural failure: boundaries untrusted
        yield v


# ----------------------------------------------------- Spark stages


def _iter_rows(data: bytes):
    for v in iter_msgpack_values(data):
        if isinstance(v, dict) and all(isinstance(k, str) for k in v):
            yield v  # anything else is not a name-addressable row: drop


def _adapter(sql_type: str):
    if sql_type == "timestamp":
        # Arrow microseconds (UTC), sub-microsecond nsec floored
        return lambda v: (v.sec * 1_000_000 + v.nsec // 1000
                          if isinstance(v, _Timestamp) else None)
    return cell_adapter(sql_type)


def read_msgpack(spark: SparkSession, path: str,
                 ddl: str) -> DataFrame:
    """DataFrame over ``.msgpack`` dump files: binaryFile scan
    (per-file parallelism), the stdlib value walk inside the Arrow
    row stage, row/stream-granular drops, DDL-by-name
    resolution with per-cell nulling adapters."""
    return values_from_binary(
        spark.read.format("binaryFile").load(path), ddl)


def values_from_binary(bin_df: DataFrame, ddl: str) -> DataFrame:
    """The decode stage of :func:`read_msgpack` over any
    binaryFile-shaped DataFrame — shared by batch and the streaming
    landing-zone pattern (the bson/sqlite twin)."""
    return decode_records(bin_df, ddl, _iter_rows, _adapter)


# ----------------------------------------------------- fixture twin


def encode(v) -> bytes:
    """One spec-canonical value — the builder twin of
    :func:`iter_msgpack_values` (smallest encoding, insertion-order
    maps: deterministic)."""
    if v is None:
        return b"\xc0"
    if isinstance(v, bool):
        return b"\xc3" if v else b"\xc2"
    if isinstance(v, int):
        if 0 <= v <= 0x7F:
            return bytes([v])
        if -32 <= v < 0:
            return bytes([v & 0xFF])
        for code, w, lo, hi in (
                (0xCC, 1, 0, 1 << 8), (0xCD, 2, 0, 1 << 16),
                (0xCE, 4, 0, 1 << 32), (0xCF, 8, 0, 1 << 64),
                (0xD0, 1, -(1 << 7), 1 << 7),
                (0xD1, 2, -(1 << 15), 1 << 15),
                (0xD2, 4, -(1 << 31), 1 << 31),
                (0xD3, 8, -(1 << 63), 1 << 63)):
            if lo <= v < hi:
                return bytes([code]) + v.to_bytes(
                    w, "big", signed=code >= 0xD0)
        raise ValueError("int out of 64-bit range")
    if isinstance(v, float):
        return b"\xcb" + struct.pack(">d", v)
    if isinstance(v, str):
        sb = v.encode("utf-8")
        if len(sb) <= 31:
            return bytes([0xA0 | len(sb)]) + sb
        if len(sb) < (1 << 8):
            return b"\xd9" + bytes([len(sb)]) + sb
        if len(sb) < (1 << 16):
            return b"\xda" + struct.pack(">H", len(sb)) + sb
        return b"\xdb" + struct.pack(">I", len(sb)) + sb
    if isinstance(v, (bytes, bytearray)):
        if len(v) < (1 << 8):
            return b"\xc4" + bytes([len(v)]) + bytes(v)
        if len(v) < (1 << 16):
            return b"\xc5" + struct.pack(">H", len(v)) + bytes(v)
        return b"\xc6" + struct.pack(">I", len(v)) + bytes(v)
    if isinstance(v, _Timestamp):
        if v.nsec == 0 and 0 <= v.sec < (1 << 32):
            return b"\xd6\xff" + struct.pack(">I", v.sec)
        if 0 <= v.sec < (1 << 34):
            return b"\xd7\xff" + struct.pack(
                ">Q", (v.nsec << 34) | v.sec)
        return b"\xc7\x0c\xff" + struct.pack(">Iq", v.nsec, v.sec)
    if isinstance(v, list):
        head = (bytes([0x90 | len(v)]) if len(v) <= 15
                else b"\xdc" + struct.pack(">H", len(v))
                if len(v) < (1 << 16)
                else b"\xdd" + struct.pack(">I", len(v)))
        return head + b"".join(encode(e) for e in v)
    if isinstance(v, dict):
        head = (bytes([0x80 | len(v)]) if len(v) <= 15
                else b"\xde" + struct.pack(">H", len(v))
                if len(v) < (1 << 16)
                else b"\xdf" + struct.pack(">I", len(v)))
        return head + b"".join(encode(k) + encode(x)
                               for k, x in v.items())
    raise ValueError(f"unsupported fixture value {type(v)}")


def timestamp(sec: int, nsec: int = 0) -> _Timestamp:
    return _Timestamp(sec, nsec)


def build_msgpack_dump(values) -> bytes:
    """One ``.msgpack`` byte string: values concatenated, nothing
    else."""
    return b"".join(encode(v) for v in values)
