"""Multi-block XZ splittable ingest — the THIRD splittable container
on the one split protocol (after seekable-zstd and BGZF), from the
public xz file format specification (tukaani.org/xz/xz-file-format,
§2-4).

Why: ``xz -T0`` — the way anyone compresses a large file on a
multi-core box — emits a MULTI-BLOCK stream whose index rides at the
tail, so the big ``.jsonl.xz`` shards that exist in the wild are
usually splittable already; the engine's whole-file xz walk
(``sources/compressed.py``) just could not exploit it. Layout:

    stream header | block 0 | block 1 | ... | index | stream footer

The footer's Backward Size locates the index; the index records each
block's Unpadded Size and Uncompressed Size, giving exact compressed
offsets AND the decompressed coordinates the split planner wants
(better than BGZF, which only bounds them).

Per-block decode WITHOUT the stream container: a block is
self-terminating — the block header declares the filter chain, and
raw LZMA2 data carries its own end marker — so ``_BlockDecompressor``
parses the header, decodes the data through
``lzma.LZMADecompressor(FORMAT_RAW)`` (which honors ``max_length``,
keeping the bomb-bound discipline), then skips padding + check and
hands the remainder back as ``unused_data``. That makes a run of
consecutive blocks satisfy the SAME concatenated-frames bz2-style
contract the seekable-zstd walker targets, so ``zstdseek.split_lines``
(Hadoop line ownership in decompressed coordinates) is reused
verbatim — one ownership protocol, three containers.

Integrity: the stream-header/footer CRCs and the index CRC are
verified at plan time; per-block CRC32 and SHA-256 checks are
verified after decode, CRC64 (the xz CLI default) is parsed but NOT
verified — stdlib has no CRC64 and LZMA2's own structure already
fails corrupt data loudly (documented trade, same spirit as the
seekable-zstd checksum note). Unsupported filter chains (BCJ deltas)
fail the block → the split keeps lines before it (torn semantics).

Fallbacks: single-block files (plain ``xz``), multi-stream
concatenations, stream padding, or any index/footer mismatch degrade
to one whole-file streaming split through ``compressed.iter_lines``'s
lzma path — never a mis-slice.

Reference: extension surface (the reference's only record format is
the plain text line, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import glob as globmod
import hashlib
import lzma
import os
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from distributed_computing_projects_spark.sources import zstdseek as ZS

_MAGIC = b"\xfd7zXZ\x00"
_FOOTER_MAGIC = b"YZ"
_CHECK_SIZES = {0x00: 0, 0x01: 4, 0x04: 8, 0x0A: 32}
MAX_BLOCKS = 1 << 22  # plan-time bomb bound


def _varint(buf: bytes, pos: int):
    acc = 0
    shift = 0
    while True:
        if pos >= len(buf) or shift > 63:
            raise ValueError("xz varint past end")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return acc, pos
        shift += 7


def _enc_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def parse_index(path: str):
    """``(check_id, [(c_off, c_size, d_size), ...])`` for one
    SINGLE-stream multi-block xz file, or ``None`` whenever anything
    disqualifies it from splitting (then the caller streams whole)."""
    size = os.path.getsize(path)
    if size < 32:
        return None
    with open(path, "rb") as f:
        head = f.read(12)
        if head[:6] != _MAGIC:
            return None
        flags = head[6:8]
        if struct.unpack("<I", head[8:12])[0] != zlib.crc32(flags):
            return None
        check_id = flags[1] & 0x0F
        if check_id not in _CHECK_SIZES:
            return None
        f.seek(size - 12)
        footer = f.read(12)
        if footer[10:12] != _FOOTER_MAGIC or footer[8:10] != flags:
            return None
        if struct.unpack("<I", footer[:4])[0] != zlib.crc32(footer[4:10]):
            return None
        (bw,) = struct.unpack("<I", footer[4:8])
        idx_size = (bw + 1) * 4
        idx_off = size - 12 - idx_size
        if idx_off < 12:
            return None
        f.seek(idx_off)
        idx = f.read(idx_size)
    if not idx or idx[0] != 0x00:
        return None
    if struct.unpack("<I", idx[-4:])[0] != zlib.crc32(idx[:-4]):
        return None
    try:
        count, pos = _varint(idx, 1)
        if count > MAX_BLOCKS:
            return None
        entries = []
        c_off = 12
        d_total = 0
        for _ in range(count):
            unpadded, pos = _varint(idx, pos)
            uncomp, pos = _varint(idx, pos)
            padded = (unpadded + 3) & ~3
            entries.append((c_off, padded, uncomp))
            c_off += padded
            d_total += uncomp
    except ValueError:
        return None
    # single stream, no stream padding: blocks exactly fill the span
    # between the stream header and the index
    if c_off != idx_off:
        return None
    return check_id, entries


class _BlockDecompressor:
    """bz2-style contract over ONE xz BLOCK (header + raw LZMA2 data
    + padding + check) — instances chain over a run of consecutive
    blocks exactly like concatenated zstd frames, so the shared
    split walker applies unchanged."""

    __slots__ = ("check_id", "_buf", "_raw", "_hdr_len", "_data_len",
                 "_tail_skip", "_hash", "eof", "unused_data")

    def __init__(self, check_id: int):
        self.check_id = check_id
        self._buf = b""
        self._raw = None
        self._hdr_len = None
        self._data_len = 0
        self._tail_skip = None
        self._hash = (hashlib.sha256() if check_id == 0x0A else
                      zlib.crc32(b"") if check_id == 0x01 else None)
        self.eof = False
        self.unused_data = b""

    def _start(self):
        """Parse the block header once enough bytes are buffered;
        raises on unsupported/malformed headers (torn semantics)."""
        if len(self._buf) < 1:
            return False
        if self._buf[0] == 0x00:
            raise lzma.LZMAError("index indicator where block expected")
        hdr_len = (self._buf[0] + 1) * 4
        if len(self._buf) < hdr_len:
            return False
        hdr = self._buf[:hdr_len]
        if struct.unpack("<I", hdr[-4:])[0] != zlib.crc32(hdr[:-4]):
            raise lzma.LZMAError("block header CRC mismatch")
        bflags = hdr[1]
        n_filters = (bflags & 0x03) + 1
        pos = 2
        if bflags & 0x40:  # compressed size present: skip
            _, pos = _varint(hdr, pos)
        if bflags & 0x80:  # uncompressed size present: skip
            _, pos = _varint(hdr, pos)
        filters = []
        for _ in range(n_filters):
            fid, pos = _varint(hdr, pos)
            plen, pos = _varint(hdr, pos)
            props = hdr[pos:pos + plen]
            pos += plen
            filters.append((fid, props))
        if len(filters) != 1 or filters[0][0] != 0x21 \
                or len(filters[0][1]) != 1:
            # BCJ/delta chains: unsupported -> block fails (torn)
            raise lzma.LZMAError("unsupported xz filter chain")
        v = filters[0][1][0]
        if v > 40:
            raise lzma.LZMAError("invalid LZMA2 dict size byte")
        dict_size = (1 << 32) - 1 if v == 40 else \
            (2 | (v & 1)) << (v // 2 + 11)
        self._raw = lzma.LZMADecompressor(
            format=lzma.FORMAT_RAW,
            filters=[{"id": lzma.FILTER_LZMA2,
                      "dict_size": dict_size}])
        self._hdr_len = hdr_len
        self._buf = self._buf[hdr_len:]
        return True

    def decompress(self, data: bytes, max_length: int = -1) -> bytes:
        if self.eof:
            raise EOFError("block already complete")
        self._buf += data
        if self._raw is None and not self._start():
            return b""  # need more header bytes
        out = b""
        if not self._raw.eof:
            out = self._raw.decompress(
                self._buf, max_length if max_length is not None
                and max_length >= 0 else -1)
            self._data_len += len(self._buf) - len(
                self._raw.unused_data)
            self._buf = self._raw.unused_data
            if self._hash is not None and out:
                if self.check_id == 0x01:
                    self._hash = zlib.crc32(out, self._hash)
                else:
                    self._hash.update(out)
        if self._raw.eof:
            if self._tail_skip is None:
                pad = (-self._data_len) % 4
                self._tail_skip = pad + _CHECK_SIZES[self.check_id]
            if len(self._buf) >= self._tail_skip:
                tail = self._buf[:self._tail_skip]
                self.unused_data = self._buf[self._tail_skip:]
                self._buf = b""
                pad = self._tail_skip - _CHECK_SIZES[self.check_id]
                check = tail[pad:]
                if self.check_id == 0x01 and \
                        struct.unpack("<I", check)[0] != self._hash:
                    raise lzma.LZMAError("block CRC32 mismatch")
                if self.check_id == 0x0A and \
                        check != self._hash.digest():
                    raise lzma.LZMAError("block SHA-256 mismatch")
                # CRC64 (0x04): parsed, not verified (no stdlib CRC64)
                self.eof = True
        return out


def plan_splits(paths, target_bytes: int = 1 << 27, indexes=None):
    """Split rows over multi-block xz files: consecutive blocks
    grouped until ``target_bytes`` DECOMPRESSED bytes (exact, from
    the index). Single-block and disqualified files stream whole."""
    splits = []
    for path in paths:
        parsed = indexes[path] if indexes is not None \
            else parse_index(path)
        size = os.path.getsize(path)
        if parsed is None or len(parsed[1]) < 2:
            # single-block files gain nothing from the split plumbing
            splits.append(dict(path=path, c_off=0, c_len=size,
                               d_off=0, d_len=-1, cont_end=0,
                               streaming=True, check_id=0))
            continue
        check_id, entries = parsed
        frames_end = entries[-1][0] + entries[-1][1]
        i = 0
        d_off = 0
        while i < len(entries):
            j = i
            d_len = 0
            while j < len(entries) and (j == i or d_len < target_bytes):
                d_len += entries[j][2]
                j += 1
            c_off = entries[i][0]
            c_len = entries[j - 1][0] + entries[j - 1][1] - c_off
            splits.append(dict(
                path=path, c_off=c_off, c_len=c_len, d_off=d_off,
                d_len=d_len, cont_end=frames_end, streaming=False,
                check_id=check_id))
            d_off += d_len
            i = j
    return splits


def xz_lines(spark: SparkSession, path: str,
             target_bytes: int | None = None) -> DataFrame:
    """``value: string`` lines over multi-block ``.xz`` files with
    INTRA-file parallelism — the xz sibling of
    ``zstdseek.seekable_lines`` (same adaptive sizing, same shared
    ownership walker, same drop policies)."""
    files = _resolve(path)
    indexes = {p: parse_index(p) for p in files}
    if target_bytes is None:
        total = sum(
            sum(d for _, _, d in parsed[1]) if parsed
            else os.path.getsize(p)
            for p, parsed in indexes.items())
        par = max(spark.sparkContext.defaultParallelism, 1)
        target_bytes = min(max(total // (par * 2), 1 << 16), 1 << 27)
    return ZS.lines_from_splits(
        spark, plan_splits(files, target_bytes, indexes=indexes),
        lambda sp: (lzma.LZMADecompressor,
                    lambda: _BlockDecompressor(sp["check_id"])))


def _resolve(path: str):
    if os.path.isdir(path):
        path = os.path.join(path, "*.xz")
    files = sorted(globmod.glob(path))
    if not files and os.path.isfile(path):
        files = [path]
    return files


def read_jsonl_xz_blocks(spark: SparkSession, path: str, schema,
                         malformed: str = "drop",
                         target_bytes: int | None = None) -> DataFrame:
    """``read_jsonl`` over multi-block ``.jsonl.xz`` with intra-file
    splits — the shared ``parse_jsonl_lines`` stage and malformed
    policy."""
    from distributed_computing_projects_spark.sources.json import (
        parse_jsonl_lines,
    )

    return parse_jsonl_lines(
        xz_lines(spark, path, target_bytes), schema, malformed)


# ------------------------------------------------------ fixture twin


def _dict_size_byte(dict_size: int) -> int:
    for v in range(40):
        if ((2 | (v & 1)) << (v // 2 + 11)) >= dict_size:
            return v
    return 40


def _block(payload: bytes, check_id: int) -> tuple[bytes, int, int]:
    """One spec-exact xz block; returns (bytes, unpadded, uncomp)."""
    dict_size = 1 << 23
    comp = lzma.LZMACompressor(
        format=lzma.FORMAT_RAW,
        filters=[{"id": lzma.FILTER_LZMA2, "dict_size": dict_size}])
    data = comp.compress(payload) + comp.flush()
    filt = bytes([0x21, 0x01, _dict_size_byte(dict_size)])
    body = bytes([0x00]) + filt  # block flags: 1 filter, no sizes
    pad = (-(1 + len(body) + 4)) % 4
    hdr_wo_crc = None
    # header size byte counts the WHOLE header incl. itself and CRC
    total = 1 + len(body) + pad + 4
    hdr_wo_crc = bytes([total // 4 - 1]) + body + b"\x00" * pad
    hdr = hdr_wo_crc + struct.pack("<I", zlib.crc32(hdr_wo_crc))
    dpad = (-len(data)) % 4
    if check_id == 0x01:
        check = struct.pack("<I", zlib.crc32(payload))
    elif check_id == 0x0A:
        check = hashlib.sha256(payload).digest()
    elif check_id == 0x00:
        check = b""
    else:
        raise ValueError("builder supports none/crc32/sha256 checks")
    unpadded = len(hdr) + len(data) + len(check)
    blob = hdr + data + b"\x00" * dpad + check
    return blob, unpadded, len(payload)


def write_multiblock_xz(data: bytes, block_bytes: int = 1 << 16,
                        check_id: int = 0x01) -> bytes:
    """One spec-exact SINGLE-stream multi-block ``.xz`` byte string —
    what ``xz -T0 --block-size`` produces — with blocks cut at
    ARBITRARY byte positions (deliberately not line-aligned). The
    companion pytest proves the xz CLI decodes it byte-exact."""
    flags = bytes([0x00, check_id])
    out = [_MAGIC + flags + struct.pack("<I", zlib.crc32(flags))]
    records = []
    for i in range(0, len(data), block_bytes):
        blob, unpadded, uncomp = _block(data[i:i + block_bytes],
                                        check_id)
        out.append(blob)
        records.append((unpadded, uncomp))
    idx = bytearray(b"\x00") + _enc_varint(len(records))
    for unpadded, uncomp in records:
        idx += _enc_varint(unpadded) + _enc_varint(uncomp)
    idx += b"\x00" * ((-len(idx)) % 4)
    idx += struct.pack("<I", zlib.crc32(bytes(idx)))
    bw = struct.pack("<I", len(idx) // 4 - 1)
    footer = struct.pack("<I", zlib.crc32(bw + flags)) + bw + flags \
        + _FOOTER_MAGIC
    return b"".join(out) + bytes(idx) + footer
