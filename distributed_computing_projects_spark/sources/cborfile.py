"""CBOR stream ingest — pure stdlib, from RFC 8949 — the ``.cbor``
sequences that COSE/WebAuthn tooling, IoT collectors, and CoAP
gateways dump: concatenated self-framing data items (RFC 8742 CBOR
sequences), the msgpack shape with two twists this reader makes
first-class: INDEFINITE-length containers (a streaming writer can
open a map/array/string before knowing its size — framing is only
known at the ``break`` byte) and a TAG system (epoch timestamps ride
tag 1).

Decode policy (the msgpack twin, diverging where the RFC does):

- **Framing is type-derived**: major type + additional info give
  every item's extent, with indefinite containers scanned to their
  ``break``. Drops are ASYMMETRIC exactly as in
  ``sources/msgpackfile.py``: a well-formed item that is not a
  text-keyed map — or one that is WELL-FORMED BUT INVALID per the
  RFC (duplicate map keys) — drops the ROW and the walk continues;
  a structural failure (truncation, reserved additional-info 28-30,
  a stray ``break``, mixed chunk types inside an indefinite string,
  a bomb-bound breach checked before allocation) stops the STREAM.
- **Tags**: tag 1 (epoch time) decodes to a timestamp; every other
  tag stays an opaque wrapper the DDL adapters null — the RFC
  permits treating unknown tags as their content, but silently
  unwrapping would let a tagged value impersonate a plain one.
- **MT7 small values**: false/true/null decode; ``undefined`` and
  other simple values are opaque (null through adapters); float16/
  32/64 all decode (``struct`` ``e``/``f``/``d``).
- **Reader DDL resolves by NAME** with per-cell nulling adapters:
  ``bigint`` takes uint/negint (negints are ``-1-n``: the full
  [-2^64, 2^64) range parses, cells outside int64 null), ``double``
  takes any float width and widens ints, ``string`` takes text,
  ``binary`` takes byte strings, ``boolean`` takes bool,
  ``timestamp`` takes tag-1 integer epochs (float epochs null —
  binary fractions cannot carry exact microseconds; documented),
  ``array<T>`` element-adapts.

Scale: per-FILE parallelism (binaryFile scan), convert-once-to-
parquet discipline — same as the bson/msgpack family.

Reference: extension surface (the reference's only record format is
the plain text line, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from distributed_computing_projects_spark.operators.spread import decode_records

MAX_VALUE_BYTES = 1 << 28
MAX_CONTAINER = 1 << 24
_MAX_DEPTH = 64

_BREAK = object()


class _Timestamp:
    __slots__ = ("sec",)

    def __init__(self, sec):
        self.sec = sec


class _Tag:
    __slots__ = ("tag", "value")

    def __init__(self, tag: int, value):
        self.tag = tag
        self.value = value


class _Simple:
    __slots__ = ("code",)

    def __init__(self, code: int):
        self.code = code


class _Invalid:
    """Well-formed but RFC-invalid (duplicate map keys): the row
    drops, the stream continues."""

    __slots__ = ()


def _head(data: bytes, pos: int):
    ib = data[pos]
    mt, ai = ib >> 5, ib & 0x1F
    pos += 1
    if ai < 24:
        return mt, ai, pos
    if ai == 31:
        return mt, None, pos  # indefinite / break
    if ai > 27:
        raise ValueError(f"reserved additional info {ai}")
    w = 1 << (ai - 24)
    if pos + w > len(data):
        # int.from_bytes of a short slice silently yields a SMALLER
        # value — a torn head must stop the stream, never decode
        raise ValueError("truncated head")
    return mt, int.from_bytes(data[pos:pos + w], "big"), pos + w


def _need(data: bytes, pos: int, n: int) -> None:
    if n > MAX_VALUE_BYTES:
        raise ValueError("length bomb")
    if pos + n > len(data):
        raise ValueError("truncated item")


def _decode(data: bytes, pos: int, depth: int = 0,
            in_indef: bool = False):
    if depth > _MAX_DEPTH:
        raise ValueError("nesting bound")
    ib = data[pos]
    if ib >> 5 == 7:  # MT7: floats / simples / break — direct form
        ai = ib & 0x1F
        pos += 1
        if ai == 20:
            return False, pos
        if ai == 21:
            return True, pos
        if ai == 22:
            return None, pos
        if ai < 24:
            return _Simple(ai), pos  # undefined(23) + simple values
        if ai == 24:
            _need(data, pos, 1)
            return _Simple(data[pos]), pos + 1
        if ai in (25, 26, 27):
            w = 1 << (ai - 24)
            _need(data, pos, w)
            fmt = {25: ">e", 26: ">f", 27: ">d"}[ai]
            return struct.unpack_from(fmt, data, pos)[0], pos + w
        if ai == 31:
            if not in_indef:
                raise ValueError("stray break")
            return _BREAK, pos
        raise ValueError(f"reserved MT7 additional info {ai}")
    mt, arg, pos = _head(data, pos)
    if mt == 0:                          # unsigned int
        if arg is None:
            raise ValueError("indefinite uint")
        return arg, pos
    if mt == 1:                          # negative int: -1 - n
        if arg is None:
            raise ValueError("indefinite negint")
        return -1 - arg, pos
    if mt in (2, 3):                     # bytes / text
        if arg is not None:
            _need(data, pos, arg)
            raw = data[pos:pos + arg]
            return (raw.decode("utf-8", "replace") if mt == 3
                    else bytes(raw)), pos + arg
        chunks = []                      # indefinite: definite chunks
        total = 0
        while True:
            if data[pos] == 0xFF:
                pos += 1
                break
            cmt, carg, pos = _head(data, pos)
            if cmt != mt or carg is None:
                raise ValueError("mixed/indefinite chunk in "
                                 "indefinite string")
            _need(data, pos, carg)
            total += carg
            if total > MAX_VALUE_BYTES:
                raise ValueError("indefinite string bomb")
            chunks.append(data[pos:pos + carg])
            pos += carg
        raw = b"".join(chunks)
        return (raw.decode("utf-8", "replace") if mt == 3
                else raw), pos
    if mt == 4:                          # array
        out = []
        if arg is not None:
            if arg > MAX_CONTAINER:
                raise ValueError("array bomb")
            for _ in range(arg):
                v, pos = _decode(data, pos, depth + 1)
                out.append(v)
            return out, pos
        while True:
            v, pos = _decode(data, pos, depth + 1, in_indef=True)
            if v is _BREAK:
                return out, pos
            if len(out) >= MAX_CONTAINER:
                raise ValueError("array bomb")
            out.append(v)
    if mt == 5:                          # map
        out = {}
        dup = False

        def put(k, v):
            nonlocal dup
            try:
                if k in out:
                    dup = True
                out[k] = v
            except TypeError:
                dup = True  # unhashable key: not name-addressable
        if arg is not None:
            if arg > MAX_CONTAINER:
                raise ValueError("map bomb")
            for _ in range(arg):
                k, pos = _decode(data, pos, depth + 1)
                v, pos = _decode(data, pos, depth + 1)
                put(k, v)
            return (_Invalid() if dup else out), pos
        while True:
            k, pos = _decode(data, pos, depth + 1, in_indef=True)
            if k is _BREAK:
                return (_Invalid() if dup else out), pos
            v, pos = _decode(data, pos, depth + 1)
            if len(out) >= MAX_CONTAINER:
                raise ValueError("map bomb")
            put(k, v)
    # mt == 6: tag
    if arg is None:
        raise ValueError("indefinite tag")
    v, pos = _decode(data, pos, depth + 1)
    if arg == 1 and isinstance(v, (int, float)):
        return _Timestamp(v), pos
    return _Tag(arg, v), pos


def iter_cbor_values(data: bytes) -> Iterator:
    """Top-level data items of one CBOR sequence; stream-stop on
    structural failure per the module docstring."""
    pos = 0
    end = len(data)
    while pos < end:
        try:
            v, pos = _decode(data, pos)
        except (ValueError, IndexError, struct.error,
                OverflowError):
            return
        yield v


# ----------------------------------------------------- Spark stages


def _iter_rows(data: bytes):
    for v in iter_cbor_values(data):
        if isinstance(v, dict) and all(isinstance(k, str) for k in v):
            yield v  # anything else, incl. _Invalid: row drop


def cell_adapter(sql_type: str):
    """Per-cell nulling adapter from one DDL type to decoded
    self-describing values — shared with the MessagePack twin. A value
    of the wrong kind, or an integer outside bigint, nulls the cell."""
    def scalar(v, want):
        if v is None:
            return None
        if want == "bigint":
            return (v if isinstance(v, int)
                    and not isinstance(v, bool)
                    and -(1 << 63) <= v < (1 << 63) else None)
        if want == "double":
            if isinstance(v, float):
                return v
            if isinstance(v, int) and not isinstance(v, bool):
                return float(v)
            return None
        if want == "string":
            return v if isinstance(v, str) else None
        if want == "binary":
            return bytes(v) if isinstance(v, (bytes, bytearray)) \
                else None
        if want == "boolean":
            return v if isinstance(v, bool) else None
        return None

    def adapt(v):
        if sql_type == "timestamp":
            # tag-1 epoch seconds, emitted as Arrow microseconds (UTC)
            return (v.sec * 1_000_000 if isinstance(v, _Timestamp)
                    and isinstance(v.sec, int) else None)
        if sql_type.startswith("array<"):
            if not isinstance(v, list):
                return None
            inner = sql_type[6:-1]
            return [scalar(e, inner) for e in v]
        return scalar(v, sql_type)
    return adapt


def read_cbor(spark: SparkSession, path: str, ddl: str) -> DataFrame:
    """DataFrame over ``.cbor`` sequence files: binaryFile scan, the
    stdlib item walk inside the Arrow row stage, row/stream drops,
    DDL-by-name resolution with per-cell nulling adapters."""
    return values_from_binary(
        spark.read.format("binaryFile").load(path), ddl)


def values_from_binary(bin_df: DataFrame, ddl: str) -> DataFrame:
    """The decode stage of :func:`read_cbor` over any
    binaryFile-shaped DataFrame (the msgpack twin)."""
    return decode_records(bin_df, ddl, _iter_rows, cell_adapter)


# ----------------------------------------------------- fixture twin


def _head_bytes(mt: int, n: int) -> bytes:
    if n < 24:
        return bytes([(mt << 5) | n])
    for ai, w in ((24, 1), (25, 2), (26, 4), (27, 8)):
        if n < (1 << (8 * w)):
            return bytes([(mt << 5) | ai]) + n.to_bytes(w, "big")
    raise ValueError("argument out of range")


def encode(v, indefinite: bool = False) -> bytes:
    """One data item, canonical-ish (smallest heads). With
    ``indefinite=True``, containers and strings at THIS level emit
    the indefinite form — the fixture's framing hazard."""
    if v is None:
        return b"\xf6"
    if isinstance(v, bool):
        return b"\xf5" if v else b"\xf4"
    if isinstance(v, int):
        return _head_bytes(0, v) if v >= 0 else _head_bytes(1, -1 - v)
    if isinstance(v, float):
        return b"\xfb" + struct.pack(">d", v)
    if isinstance(v, _Timestamp):
        return b"\xc1" + encode(v.sec)
    if isinstance(v, str):
        sb = v.encode("utf-8")
        if indefinite and len(sb) > 1:
            mid = len(sb) // 2
            return (b"\x7f" + _head_bytes(3, mid) + sb[:mid]
                    + _head_bytes(3, len(sb) - mid) + sb[mid:]
                    + b"\xff")
        return _head_bytes(3, len(sb)) + sb
    if isinstance(v, (bytes, bytearray)):
        if indefinite and len(v) > 1:
            mid = len(v) // 2
            return (b"\x5f" + _head_bytes(2, mid) + bytes(v[:mid])
                    + _head_bytes(2, len(v) - mid) + bytes(v[mid:])
                    + b"\xff")
        return _head_bytes(2, len(v)) + bytes(v)
    if isinstance(v, list):
        body = b"".join(encode(e) for e in v)
        if indefinite:
            return b"\x9f" + body + b"\xff"
        return _head_bytes(4, len(v)) + body
    if isinstance(v, dict):
        body = b"".join(encode(k) + encode(x) for k, x in v.items())
        if indefinite:
            return b"\xbf" + body + b"\xff"
        return _head_bytes(5, len(v)) + body
    raise ValueError(f"unsupported fixture value {type(v)}")


def timestamp(sec: int) -> _Timestamp:
    return _Timestamp(sec)


def build_cbor_sequence(values, indefinite_every: int = 0) -> bytes:
    """One RFC 8742 sequence; with ``indefinite_every`` = k > 0,
    every k-th item emits indefinite framing at its top level."""
    out = []
    for i, v in enumerate(values):
        indef = indefinite_every > 0 and i % indefinite_every == 0
        out.append(encode(v, indefinite=indef))
    return b"".join(out)
