"""BGZF splittable gzip ingest — the OTHER standard splittable
compressed container next to seekable-zstd (``sources/zstdseek.py``),
from the public BGZF specification (SAM/BAM spec §4, samtools/hts-specs
— the "blocked GNU zip format").

Why: BGZF is what large scientific and archival pipelines use to make
gzip seekable — every member is a COMPLETE gzip member of at most
64 KiB decompressed whose compressed length is recorded IN ITS OWN
HEADER (the ``BC`` extra subfield), so a reader can hop member to
member reading ~18 bytes each without decompressing. Unlike
seekable-zstd there is no tail index: the member chain IS the index.
A ``.jsonl.gz`` shard written by bgzip splits across Spark tasks;
plain single-stream gzip falls back to one whole-file split.

Member header layout (spec): the standard 10-byte gzip header with
``FLG.FEXTRA`` set, XLEN, then extra subfields; the BGZF subfield is
``SI1=66 SI2=67 SLEN=2`` carrying ``BSIZE`` = total member length - 1.
Decompressed member payload is <= 65536 bytes (the virtual-offset
contract); a file ends with a 28-byte empty EOF member (accepted,
not required — truncated-but-member-aligned files still read).

Split semantics REUSE the seekable-zstd machinery verbatim
(``zstdseek.split_lines``): members group into frame ranges, line
ownership follows Hadoop's LineRecordReader protocol in decompressed
coordinates, and ``zlib.decompressobj(wbits=31)`` provides exactly
the bz2-style ``eof``/``unused_data``/``max_length`` contract the
split walker targets — one protocol, three codecs (zstd frames, xz
streams in tests, gzip members here).

Plan cost: a driver-side header hop per member (~18 bytes read per
<=64 KiB member ≈ 0.03% of the file), the Hadoop split-computation
shape. A file whose first member is not BGZF (no FEXTRA/BC) degrades
to one streaming whole-file split through the same concatenated-
member zlib loop; a BGZF chain that breaks mid-file keeps the
members before the break as splittable and the tail as one residual
split, so partially-bgzip'd concatenations still read fully.

Reference: extension surface (the reference's only record format is
the plain text line, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import glob as globmod
import os
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from distributed_computing_projects_spark.sources import zstdseek as ZS

MEMBER_CAP = 65536      # spec: decompressed member payload bound
_HDR = 18               # fixed header prefix worth reading per hop
MAX_MEMBERS = 1 << 24   # plan-time bomb bound (1 TiB of 64 KiB members)


def _member_size(hdr: bytes):
    """Total compressed member length from one BGZF header blob, or
    ``None`` when the bytes are not a BGZF member header."""
    if len(hdr) < 12 or hdr[:4] != b"\x1f\x8b\x08\x04":
        return None  # gzip magic + deflate + FLG == FEXTRA exactly
    (xlen,) = struct.unpack_from("<H", hdr, 10)
    if len(hdr) < 12 + xlen:
        return None
    pos = 12
    end = 12 + xlen
    while pos + 4 <= end:
        si1, si2, slen = hdr[pos], hdr[pos + 1], \
            struct.unpack_from("<H", hdr, pos + 2)[0]
        pos += 4
        if si1 == 66 and si2 == 67 and slen == 2:  # 'B' 'C'
            if pos + 2 > end:
                return None
            (bsize,) = struct.unpack_from("<H", hdr, pos)
            return bsize + 1
        pos += slen
    return None  # FEXTRA without a BC subfield: not BGZF


def walk_members(path: str):
    """``(offsets, chain_end)``: compressed offsets of the BGZF
    members from the head of ``path`` and the offset where the chain
    stops (== file size for a fully-BGZF file). ``(None, 0)`` when
    the file does not START with a BGZF member."""
    size = os.path.getsize(path)
    offsets = []
    with open(path, "rb") as f:
        pos = 0
        while pos < size and len(offsets) < MAX_MEMBERS:
            f.seek(pos)
            hdr = f.read(min(_HDR + 64, size - pos))
            n = _member_size(hdr)
            if n is None or n <= 0 or pos + n > size:
                break  # chain stops: residual tail (or junk)
            offsets.append(pos)
            pos += n
    if not offsets:
        return None, 0
    return offsets, pos


def _gzip_decompressor():
    return zlib.decompressobj(wbits=31)


def plan_splits(paths, target_bytes: int = 1 << 27):
    """Split rows over BGZF files: consecutive members grouped until
    ``target_bytes`` of (cap-estimated) decompressed payload. The
    decompressed size is bounded by spec (64 KiB/member), so the plan
    needs NO second read per member. Non-BGZF files (and the residual
    tail after a broken chain) become streaming splits."""
    splits = []
    per = max(1, target_bytes // MEMBER_CAP)
    for path in paths:
        size = os.path.getsize(path)
        offsets, chain_end = walk_members(path)
        if offsets is None or chain_end < size:
            # not BGZF, or a chain that breaks mid-file: the WHOLE
            # file streams as one split — a line can span the break,
            # and splitting around it would duplicate or tear it
            # (correctness over parallelism for damaged files; the
            # streaming walk still reads concatenated members and
            # keeps complete lines before any torn tail)
            splits.append(dict(path=path, c_off=0, c_len=size,
                               d_off=0, d_len=-1, cont_end=0,
                               streaming=True))
            continue
        for i in range(0, len(offsets), per):
            j = min(i + per, len(offsets))
            c_off = offsets[i]
            c_end = offsets[j] if j < len(offsets) else chain_end
            splits.append(dict(
                path=path, c_off=c_off, c_len=c_end - c_off,
                # d_off is only a boolean "am I the file head" in the
                # ownership protocol; member index stands in for it
                d_off=i, d_len=(j - i) * MEMBER_CAP,
                cont_end=chain_end, streaming=False))
    return splits


def bgzf_lines(spark: SparkSession, path: str,
               target_bytes: int | None = None) -> DataFrame:
    """``value: string`` lines over BGZF ``.gz`` files with INTRA-file
    parallelism — the gzip twin of ``zstdseek.seekable_lines``, same
    adaptive split sizing, same drop policies, same ownership
    protocol (via the shared ``split_lines``)."""
    files = _resolve(path)
    plans = {p: walk_members(p) for p in files}
    if target_bytes is None:
        total = sum(
            len(offs) * MEMBER_CAP if offs else os.path.getsize(p)
            for p, (offs, _) in plans.items())
        par = max(spark.sparkContext.defaultParallelism, 1)
        target_bytes = min(max(total // (par * 2), 1 << 16), 1 << 27)
    splits = []
    for p in files:
        splits.extend(plan_splits([p], target_bytes))
    return ZS.lines_from_splits(
        spark, splits, lambda sp: (_gzip_decompressor, _gzip_decompressor))


def _resolve(path: str):
    if os.path.isdir(path):
        path = os.path.join(path, "*.gz")
    files = sorted(globmod.glob(path))
    if not files and os.path.isfile(path):
        files = [path]
    return files


def read_jsonl_bgzf(spark: SparkSession, path: str, schema,
                    malformed: str = "drop",
                    target_bytes: int | None = None) -> DataFrame:
    """``read_jsonl`` over BGZF ``.jsonl.gz`` with intra-file splits —
    the same ``parse_jsonl_lines`` stage and malformed policy as
    every other JSONL producer."""
    from distributed_computing_projects_spark.sources.json import (
        parse_jsonl_lines,
    )

    return parse_jsonl_lines(
        bgzf_lines(spark, path, target_bytes), schema, malformed)


# ------------------------------------------------------ fixture twin


_EOF_MEMBER = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000")


def _member(payload: bytes, level: int = 6) -> bytes:
    """One spec-exact BGZF member for <= 64 KiB of payload."""
    if len(payload) > MEMBER_CAP:
        raise ValueError("BGZF member payload over 64 KiB")
    c = zlib.compressobj(level, zlib.DEFLATED, -15)
    body = c.compress(payload) + c.flush()
    bsize = 12 + 6 + len(body) + 8 - 1  # header+extra+deflate+trailer
    return (b"\x1f\x8b\x08\x04\x00\x00\x00\x00\x00\xff"
            + struct.pack("<H", 6)            # XLEN
            + b"BC" + struct.pack("<H", 2)    # the BGZF subfield
            + struct.pack("<H", bsize)
            + body
            + struct.pack("<I", zlib.crc32(payload))
            + struct.pack("<I", len(payload) & 0xFFFFFFFF))


def write_bgzf(data: bytes, member_bytes: int = 1 << 14,
               eof_marker: bool = True) -> bytes:
    """One BGZF byte string: ``data`` cut into ``member_bytes``
    members at ARBITRARY byte positions (deliberately not
    line-aligned — the split protocol is the thing under test), plus
    the spec EOF member."""
    out = [
        _member(data[i:i + member_bytes])
        for i in range(0, len(data), member_bytes)
    ]
    if eof_marker:
        out.append(_EOF_MEMBER)
    return b"".join(out)
