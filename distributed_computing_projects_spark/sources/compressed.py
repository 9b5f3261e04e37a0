"""Line scan over compression codecs Hadoop does NOT ship — the
``.jsonl.zst`` / ``.jsonl.xz`` shard formats modern LLM training
corpora actually publish (Dolma, RedPajama-v2, OSCAR and the Common
Crawl derivatives ship zstd JSONL; academic dumps ship xz).

Spark's text source decodes gzip/bzip2/deflate/lz4/snappy through the
Hadoop codec registry, but this container's Hadoop (like most
deployments without native libs) exposes NO zstd or xz text codec —
verified empirically: ``CODEC_NOT_AVAILABLE`` for both. So a corpus
shipped as ``.jsonl.zst`` is simply unreadable through the built-in
scan, and the engine needs its own path.

Design (the 100 TB shape):

- ``binaryFile`` scan — one row per shard file. Like gzip, these
  formats are non-splittable without an external seek index, so the
  parallel unit IS the file; corpus shards (~100 MB-1 GB each)
  outnumber executors by orders of magnitude, which is exactly how
  gzip WARC/WET reads scale too (sources/warc.py's documented model).
  For the one layout where that fails — a single over-large shard —
  the zstd SEEKABLE format's embedded seek table lets one file split
  across tasks: ``sources/zstdseek.py``.
- Incremental decode inside the Arrow row stage: the decompressor's
  bz2-style ``decompress(data, max_length)`` contract yields output
  in bounded slices, lines are split and emitted in bounded batches,
  so a high-compression-ratio shard never materializes its plain
  bytes at once — the zip-bomb discipline of the warc/pdf walks
  applied to a LINE source.
- Record-granular drops: a line that exceeds ``MAX_LINE_BYTES``
  (a bomb shaped as one endless line) is skipped in O(1) memory via
  discard mode; a line that is not valid UTF-8 drops; a stream torn
  mid-shard keeps every complete line decoded before the tear and
  drops the unterminated tail (the ``unzstd_members`` torn-frame
  policy). Concatenated frames/streams/members — the standard way
  these shards are appended — continue seamlessly.

Backends: zstd through ``sources/warc.zstd_backend()`` (stdlib
``compression.zstd`` on 3.14+, else the ctypes libzstd binding in
``functions/zstdlib.py`` — C-speed decode in the workers); xz through
stdlib ``lzma``; bz2 through stdlib ``bz2`` (Hadoop also reads ``.bz2``
— splittably — so the router in ``sources/json.py`` prefers the
built-in scan for it; the walker supports it for API uniformity and
as a third conformance instance of the one decompressor contract);
STANDARD-frame lz4 through the ctypes liblz4 binding in
``functions/lz4lib.py`` (Hadoop's own ``.lz4`` codec reads a private
block framing, not the frames the lz4 CLI/Kafka/journald write — the
router magic-sniffs to send each kind down its working path).

Reference: extension surface — the reference's only record format is
the plain text line (mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import bz2
import lzma

from pyspark.sql import DataFrame, SparkSession

from distributed_computing_projects_spark.operators.spread import flat_map_rows

MAX_LINE_BYTES = 1 << 26  # 64 MiB: generous for real JSONL records
_OUT_CHUNK = 1 << 20      # decode granularity per decompress() call
_DEGRADED_CAP = 1 << 28   # post-hoc bound for no-max_length backends


def decompressor_factory(path: str):
    """bz2-contract decompressor constructor for ``path``'s suffix,
    or None when the suffix is unknown / the backend is absent (the
    documented dormant-path drop, like the warc zstd seam)."""
    p = path.lower()
    if p.endswith(".zst"):
        from distributed_computing_projects_spark.sources.warc import (
            zstd_backend,
        )
        backend = zstd_backend()
        if backend is None:
            return None
        return backend[1]
    if p.endswith(".xz"):
        return lambda: lzma.LZMADecompressor(format=lzma.FORMAT_XZ)
    if p.endswith(".bz2"):
        return bz2.BZ2Decompressor
    if p.endswith(".lz4"):
        # STANDARD LZ4 frames (lz4 CLI / Kafka / journald) — which
        # Hadoop's own .lz4 codec cannot read (it uses a private
        # block framing; verified empirically). A Hadoop-framed .lz4
        # fed here fails the frame magic and drops whole — the
        # router (sources/json.read_jsonl_auto) sniffs the magic to
        # send each kind down its working path.
        from distributed_computing_projects_spark.functions import (
            lz4lib,
        )
        if not lz4lib.available():
            return None
        return lz4lib.Lz4Decompressor
    return None


def iter_lines(data: bytes, new_decompressor, *,
               max_line_bytes: int = MAX_LINE_BYTES):
    """Yield complete lines (bytes, newline stripped) from a
    compressed byte string, decoding incrementally.

    Policies (each record-granular, never batch-fatal):
    - concatenated frames/streams decode seamlessly (fresh
      decompressor per stream, ``unused_data`` handoff);
    - a torn stream keeps the complete lines before the tear and
      drops the unterminated tail;
    - a clean EOF emits a final unterminated line (POSIX tail
      tolerance — real shards sometimes lack the last newline);
    - a line longer than ``max_line_bytes`` is dropped in O(1)
      memory (discard mode until the next newline).
    """
    carry = b""
    discard = False
    pos = 0
    clean_eof = True

    def _eof(d) -> bool:
        # degraded backends (the zstandard wheel's zlib-compatible
        # decompressobj) may lack .eof; a one-shot decode counts as
        # a completed stream
        return bool(getattr(d, "eof", True))

    while pos < len(data):
        d = new_decompressor()
        try:
            chunk = d.decompress(data[pos:], _OUT_CHUNK)
        except TypeError:
            # degraded backend: no max_length support — one-shot
            # decode with a post-hoc cap (the warc fallback policy;
            # trades the incremental bound for a length check)
            try:
                chunk = d.decompress(data[pos:])
            except Exception:
                clean_eof = False
                break
            if len(chunk) > _DEGRADED_CAP:
                clean_eof = False
                break
        except Exception:  # backend-specific corrupt-stream errors
            clean_eof = False
            break
        while True:
            if chunk:
                buf = carry + chunk
                lines = buf.split(b"\n")
                carry = lines.pop()
                for ln in lines:
                    if discard:
                        discard = False
                        continue
                    if len(ln) > max_line_bytes:
                        continue  # oversize line inside one chunk
                    yield ln
                if len(carry) > max_line_bytes:
                    discard = True
                    carry = b""
            if _eof(d):
                break
            try:
                nxt = d.decompress(b"", _OUT_CHUNK)
            except TypeError:
                try:
                    nxt = d.decompress(b"")
                except Exception:
                    clean_eof = False
                    break
            except Exception:
                clean_eof = False
                break
            if not nxt and not _eof(d):
                # no progress without new input and none exists:
                # the stream is torn mid-shard
                clean_eof = False
                break
            chunk = nxt
        if not _eof(d):
            break  # torn: complete lines before the tear survive
        unused = getattr(d, "unused_data", b"")
        consumed = len(data) - pos - len(unused)
        if consumed <= 0:
            clean_eof = False  # zero-length "stream" would loop
            break
        pos += consumed
    if clean_eof and carry and not discard:
        yield carry


def compressed_lines(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.text`` twin for ``.zst``/``.xz``(/``.bz2``) files:
    a DataFrame of one ``value: string`` row per text line.

    Lines that are not valid UTF-8 drop record-granularly (the
    malformed policy — never mojibake'd into downstream text ops).
    A file whose suffix has no available backend drops whole, the
    warc-seam dormant-path behavior.
    """
    return lines_from_binary(
        spark.read.format("binaryFile").load(path))


def lines_from_binary(bin_df: DataFrame) -> DataFrame:
    """The walker stage of :func:`compressed_lines` over any
    binaryFile-shaped DataFrame (``path``, ``content`` columns) — the
    same Arrow stage serves the batch scan and the streaming
    landing-zone source (``readStream.format('binaryFile')``), so
    batch and stream agree line-for-line."""
    def lines(path, content):
        nd = decompressor_factory(path)
        if nd is not None:
            yield from line_rows(iter_lines(content, nd))

    return flat_map_rows(bin_df.select("path", "content"), lines,
                         "value string")


def line_rows(raw_lines):
    """``(value,)`` rows from raw byte lines: a trailing CR strips,
    a line that is not valid UTF-8 drops."""
    for ln in raw_lines:
        try:
            yield (ln.removesuffix(b"\r").decode("utf-8"),)
        except UnicodeDecodeError:
            continue
