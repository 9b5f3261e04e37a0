"""ZIP archive source — pure stdlib (``zipfile`` + a local-header
fallback walk), from the public PKWARE APPNOTE structure.

Why: document dumps genuinely ship as ``.zip`` (government/open-data
portals, arXiv bulk files, older corpus releases), and Spark cannot
read zip AT ALL — zip is an archive, not a Hadoop compression codec,
so there is no text-scan route and no datasource. The engine reads it
the way it reads tar (``sources/webdataset.py``): binaryFile scan,
per-file parallelism, stdlib walk inside the Arrow row stage.

Member policies (the codec-seam discipline):

- the CENTRAL DIRECTORY (authoritative, at the archive END) drives
  the walk when it parses; a TORN archive — truncated upload, the
  single most common zip corruption — loses the central directory,
  so the walk falls back to a sequential LOCAL-HEADER scan
  (``PK\\x03\\x04`` records) keeping every complete member before the
  tear (the repo's signature torn policy, applied to zip);
- members drop member-granularly: encrypted (flag bit 0),
  unsupported compression (anything but stored/deflate), declared
  size over ``MAX_MEMBER_BYTES``, actual bytes disagreeing with the
  declared size, or a torn/corrupt deflate stream (bounded inflate —
  the zip-bomb guard never materializes an over-bound member);
- directories are skipped; duplicate names keep the LAST occurrence
  (zip semantics: later entries shadow earlier ones).

Reference: extension surface (the reference's only record format is
the text line, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import io
import struct
import zipfile
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from distributed_computing_projects_spark.operators.spread import flat_map_rows

MAX_MEMBER_BYTES = 1 << 28  # 256 MiB per member, the codec-walk bound

_LOCAL_MAGIC = b"PK\x03\x04"


def _inflate_member(comp: bytes, method: int, want: int):
    """Decompressed member bytes, or None on any malformed shape."""
    if want > MAX_MEMBER_BYTES:
        return None
    if method == zipfile.ZIP_STORED:
        return comp if len(comp) == want else None
    if method == zipfile.ZIP_DEFLATED:
        d = zlib.decompressobj(-15)
        try:
            out = d.decompress(comp, MAX_MEMBER_BYTES + 1)
        except zlib.error:
            return None
        if len(out) != want or not d.eof:
            return None
        return out
    return None  # bzip2/lzma/ppmd members: outside the stdlib subset


def _scan_local_headers(data: bytes) -> Iterator[tuple[str, tuple]]:
    """Metadata-only sequential ``PK\\x03\\x04`` walk for archives
    whose central directory is gone (torn tail): yields
    ``(name, (body_start, csize, method, usize))`` spans for every
    complete member before the tear, WITHOUT decompressing — the
    dedupe pass must not buffer member bodies (aggregate memory per
    archive would be unbounded; only the per-member bound applies).
    Stops at the first non-local signature (the central directory
    start on an intact file) or any inconsistency."""
    pos = 0
    while pos + 30 <= len(data):
        if data[pos:pos + 4] != _LOCAL_MAGIC:
            return  # central dir (PK\x01\x02) or garbage: clean stop
        (flags, method, _t, _d, _crc, csize, usize, nlen, elen,
         ) = struct.unpack("<HHHHLLLHH", data[pos + 6:pos + 30])
        if flags & 0x08:
            # data-descriptor mode: sizes live AFTER the data, the
            # stream is unwalkable without the central directory
            return
        hdr_end = pos + 30 + nlen + elen
        body_end = hdr_end + csize
        if body_end > len(data):
            return  # torn mid-member: drop it, keep what came before
        name = data[pos + 30:pos + 30 + nlen].decode("utf-8", "replace")
        pos = body_end
        if name.endswith("/") or flags & 0x01:
            continue  # directory / encrypted member: skip
        yield name, (hdr_end, csize, method, usize)


def iter_zip_members(data: bytes) -> Iterator[tuple[str, bytes]]:
    """(name, bytes) per member, central-directory first with the
    local-header fallback (module docstring). Duplicate names: last
    wins (dedupe happens on METADATA, then members decode and yield
    ONE AT A TIME — buffering every body before the first yield made
    aggregate memory per archive unbounded and defeated the caller's
    batch flush), preserving first-seen order. A duplicate whose
    winning occurrence is corrupt drops the name (zip semantics: the
    later entry shadows the earlier one, including its defects)."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
        winners: dict[str, zipfile.ZipInfo] = {}
        for info in zf.infolist():
            if info.is_dir() or info.flag_bits & 0x01:
                continue
            if info.file_size > MAX_MEMBER_BYTES:
                continue
            if info.compress_type not in (zipfile.ZIP_STORED,
                                          zipfile.ZIP_DEFLATED):
                continue
            winners[info.filename] = info
    except Exception:
        # no/torn central directory: the local-header fallback —
        # same shape: metadata-dedupe pass, then streaming decode
        spans: dict[str, tuple] = {}
        for name, span in _scan_local_headers(data):
            spans[name] = span
        for name, (start, csize, method, usize) in spans.items():
            body = _inflate_member(data[start:start + csize],
                                   method, usize)
            if body is not None:
                yield name, body
        return
    for name, info in winners.items():
        try:
            body = zf.read(info)
        except Exception:
            continue  # corrupt member: member-granular drop
        if len(body) != info.file_size:
            continue
        yield name, body


def read_zip(spark: SparkSession, path: str) -> DataFrame:
    """DataFrame of (name string, content binary) over ``.zip``
    archives — the generic member table; pipelines route members by
    name/extension into the text or multimodal tiers."""
    return flat_map_rows(
        spark.read.format("binaryFile").load(path).select("content"),
        iter_zip_members, "name string, content binary")


def build_zip(members, compression=zipfile.ZIP_DEFLATED) -> bytes:
    """One deterministic zip from (name, bytes) pairs — the fixture
    twin of :func:`iter_zip_members` (fixed timestamps, fixed
    compression, so archive bytes are reproducible)."""
    out = io.BytesIO()
    with zipfile.ZipFile(out, "w", compression=compression) as zf:
        for name, body in members:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = compression
            zf.writestr(info, body)
    return out.getvalue()
