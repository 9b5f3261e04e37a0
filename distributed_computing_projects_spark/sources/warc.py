"""WARC (Web ARChive, ISO 28500) source — the container format web
training corpora actually arrive in (Common Crawl publishes WARC), so
an engine claiming the LLM-ingest surface needs to read it natively:
record parse, warcinfo/request skip, HTTP-response envelope strip,
HTTP ``Content-Encoding`` body decode (identity/gzip/deflate/br,
chained — servers compress most crawl bodies on the wire),
and per-document extraction with the engine's malformed-record drop
policy (sources/csv.py) at record granularity.

Format recap (the subset parsed here, general over well-formed
records): a WARC file is a sequence of records, each a version line
(``WARC/1.0`` or ``WARC/1.1``), CRLF-terminated named header lines
through a blank line, then exactly ``Content-Length`` bytes of block,
then CRLF CRLF. Response records carry
``Content-Type: application/http...`` blocks whose own HTTP headers
end at the first CRLF CRLF, the remainder being the page body.

Scale shape: WARC is not block-splittable (records are
length-prefixed but unindexed), so the unit of parallelism is the
FILE — Common Crawl ships ~1 GB segment files in the tens of
thousands, far more files than executors, which is exactly the
granularity Spark's whole-file reads parallelize over. Parsing is an
Arrow row stage (``flat_map_rows``) per payload; everything before it
(eligibility filters, file listing) stays JVM-side.

The record builder is a deterministic fixture generator (per-doc
single-response WARC with a leading warcinfo record so the skip path
always runs); the parser is general over the subset.

Reference parity note: the reference (karthiksharma98/
distributed-computing-projects) reads plain text/CSV only; WARC is
LLM-pipeline scale-extension surface (SURVEY.md §2 extensions).
"""

from __future__ import annotations

import gzip
import re
import zlib

from pyspark.sql import DataFrame

from distributed_computing_projects_spark.operators.spread import (
    encode_payloads, flat_map_rows)

_CRLF = b"\r\n"
_GZIP_MAGIC = b"\x1f\x8b"
_ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"

# Decompression-bomb guard: one member of a hostile payload must not
# OOM an executor (a few KB of DEFLATE expand to GBs). Members whose
# plain size exceeds this bound drop record-granularly, like a torn
# member. 256 MiB is far above any real crawl record and far below
# executor memory.
MAX_MEMBER_BYTES = 1 << 28


def zstd_backend():
    """``(compress, new_decompressor)`` for zstandard, or ``None``.

    Newer archive tooling and some Common Crawl mirrors ship
    ``.warc.zst`` (frame-per-record, mirroring ``.warc.gz``'s
    member-per-record layout). Two public backends are probed:
    stdlib ``compression.zstd`` (Python 3.14+) whose
    ``ZstdDecompressor`` follows the ``bz2.BZ2Decompressor``
    ``eof``/``unused_data``/``max_length`` contract exactly, the
    system ``libzstd`` through the ctypes binding in
    ``functions/zstdlib.py`` (same full contract incl. bounded
    continuation; present on virtually every Linux image — it is
    what ACTIVATES the path in this container), and LAST the
    ``zstandard`` wheel via its zlib-compatible ``decompressobj()``
    — last because its ``decompress`` takes no ``max_length``
    (consumers carry a documented TypeError fallback that trades
    the incremental bomb bound for a post-hoc length check). A
    container with none of the three keeps the dormant-path
    behavior: ``.warc.zst`` payloads drop the row like any
    undecodable payload, the fixture builder raises, and the tests
    skip."""
    try:
        from compression import zstd as _z  # Python 3.14+ stdlib

        return _z.compress, _z.ZstdDecompressor
    except ImportError:
        pass
    from distributed_computing_projects_spark.functions import (
        zstdlib as _zl,
    )

    if _zl.available():
        return _zl.compress, _zl.ZstdDecompressor
    try:
        import zstandard as _z

        def _new():
            return _z.ZstdDecompressor().decompressobj()

        def _compress(data: bytes) -> bytes:
            return _z.ZstdCompressor().compress(data)

        return _compress, _new
    except ImportError:
        pass
    return None


def unzstd_members(b: bytes):
    """Decompress a frame-per-record zstd stream (``.warc.zst``) into
    the concatenated plain bytes — :func:`gunzip_members`' policy:
    a frame torn mid-stream keeps the complete frames before it;
    ``None`` when not even one frame decompresses OR no zstd backend
    exists in the environment (both are the row drop)."""
    backend = zstd_backend()
    if backend is None:
        return None
    _, new_decompressor = backend
    out: list[bytes] = []
    pos = 0
    while pos < len(b):
        d = new_decompressor()
        try:
            # stdlib follows the bz2 max_length contract; the wheel's
            # decompressobj takes no bound (TypeError -> unbounded,
            # then the length check below still drops the bomb)
            try:
                chunk = d.decompress(b[pos:], MAX_MEMBER_BYTES + 1)
            except TypeError:
                chunk = d.decompress(b[pos:])
        except Exception:  # backend-specific error types
            break  # torn/corrupt frame: drop it and the rest
        if len(chunk) > MAX_MEMBER_BYTES:
            break  # decompression bomb: drop it and the rest
        if not getattr(d, "eof", True):
            break  # stream ends mid-frame
        out.append(chunk)
        unused = getattr(d, "unused_data", b"")
        consumed = len(b) - pos - len(unused)
        if consumed <= 0:
            break  # zero-length "frame" would loop forever
        pos += consumed
    return b"".join(out) if out else None


def build_record(warc_type: str, headers: dict, block: bytes) -> bytes:
    """Serialize one WARC/1.0 record (fixture builder)."""
    lines = [b"WARC/1.0", f"WARC-Type: {warc_type}".encode()]
    for k, v in headers.items():
        lines.append(f"{k}: {v}".encode())
    lines.append(f"Content-Length: {len(block)}".encode())
    return _CRLF.join(lines) + _CRLF + _CRLF + block + _CRLF + _CRLF


def encode_http_body(body: bytes, content_encoding: str) -> bytes:
    """Fixture twin of :func:`decode_content_encoding`: apply the
    coding chain left-to-right (``"gzip, br"`` gzips first, then
    brotli — the wire order the decoder reverses)."""
    for coding in [c.strip() for c in content_encoding.split(",")
                   if c.strip()]:
        if coding == "identity":
            continue
        elif coding == "gzip":
            body = gzip.compress(body, mtime=0)
        elif coding == "deflate":
            body = zlib.compress(body, 6)
        elif coding == "br":
            from distributed_computing_projects_spark.functions import (
                brotlilib,
            )

            body = brotlilib.compress(body)
        else:
            raise ValueError(f"fixture coding {coding!r} unsupported")
    return body


def build_response_record(url: str, body: bytes, status: int = 200,
                          content_encoding: str | None = None) -> bytes:
    ce = ""
    if content_encoding is not None:
        body = encode_http_body(body, content_encoding)
        ce = f"Content-Encoding: {content_encoding}\r\n"
    http = (f"HTTP/1.1 {status} OK\r\n"
            f"Content-Type: text/html\r\n{ce}"
            f"Content-Length: {len(body)}\r\n\r\n").encode() + body
    return build_record(
        "response",
        {"WARC-Target-URI": url,
         "WARC-Date": "2024-01-01T00:00:00Z",
         "Content-Type": "application/http; msgtype=response"},
        http,
    )


def parse_records(b: bytes):
    """Parse a WARC byte string into a list of (headers dict with
    lowercased keys incl. ``warc-type``, block bytes). Returns
    ``None`` if no record parses (non-WARC payload — the row drop);
    a stream torn mid-record keeps the complete records before it
    (record-granular drop, like flac.py/mp3meta.py)."""
    records: list = []
    pos = 0
    try:
        while pos < len(b):
            # tolerate inter-record CRLF runs
            while b[pos:pos + 2] == _CRLF:
                pos += 2
            if pos >= len(b):
                break
            if not b[pos:pos + 5] == b"WARC/":
                break
            hdr_end = b.index(_CRLF + _CRLF, pos)
            headers: dict = {}
            lines = b[pos:hdr_end].split(_CRLF)
            for line in lines[1:]:
                key, _, val = line.partition(b":")
                headers[key.strip().lower().decode("ascii")] = \
                    val.strip().decode("utf-8", "replace")
            length = int(headers["content-length"])
            if length < 0:
                break  # malformed: a negative length would walk pos
                # backward and loop forever
            block0 = hdr_end + 4
            if block0 + length > len(b):
                break  # torn block
            records.append((headers, b[block0:block0 + length]))
            pos = block0 + length
    except (ValueError, KeyError, IndexError):
        pass
    return records if records else None


def gunzip_members(b: bytes):
    """Decompress a member-per-record gzip stream (``.warc.gz`` — the
    wire format Common Crawl actually ships: each WARC record is its
    own gzip member so readers can seek member boundaries) into the
    concatenated plain bytes. A member torn mid-stream keeps the
    complete members before it — the same record-granular drop policy
    as :func:`parse_records` (a tear in a concatenated-member stream
    can only be a suffix). Returns ``None`` when not even one member
    decompresses (non-gzip payload — the row drop)."""
    out: list[bytes] = []
    pos = 0
    while pos < len(b):
        d = zlib.decompressobj(wbits=31)  # 31 = gzip wrapper
        try:
            chunk = d.decompress(b[pos:], MAX_MEMBER_BYTES + 1)
        except zlib.error:
            break  # torn/corrupt member: drop it and the rest
        if len(chunk) > MAX_MEMBER_BYTES:
            break  # decompression bomb: drop it and the rest
        if not d.eof:
            break  # stream ends mid-member
        out.append(chunk)
        consumed = len(b) - pos - len(d.unused_data)
        if consumed <= 0:
            break  # zero-length "member" would loop forever
        pos += consumed
    return b"".join(out) if out else None


def split_http_response(block: bytes):
    """(status, head, body) from an application/http response block,
    or ``None`` if the block is not an HTTP response."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0 or not block.startswith(b"HTTP/"):
        return None
    try:
        status = int(block[:sep].split(_CRLF)[0].split(b" ")[1])
    except (ValueError, IndexError):
        return None
    return status, block[:sep], block[sep + 4:]


_CE_RE = re.compile(rb"(?im)^content-encoding:[ \t]*([^\r\n]+)")


def _inflate_http(body: bytes, wbits: int, max_bytes: int):
    """Inflate an HTTP body; for gzip (wbits=31) concatenated MEMBERS
    decode in full — CDNs/proxies emit multi-member bodies and a
    single-member inflate silently TRUNCATES them (adversarial-review
    finding). Trailing bytes after at least one complete gzip member
    that do NOT parse as another member are tolerated and ignored
    (warcio's policy — buggy servers pad gzip bodies with NULs or cut
    at block boundaries, and dropping those records loses real
    data); a zlib/raw-deflate stream with trailing bytes stays a
    drop, matching the brotli path's strictness."""
    out_parts: list[bytes] = []
    total = 0
    pos = 0
    while True:
        d = zlib.decompressobj(wbits)
        try:
            out = d.decompress(body[pos:], max_bytes + 1 - total)
        except zlib.error:
            if wbits == 31 and out_parts:
                return b"".join(out_parts)  # lenient gzip tail
            return None
        total += len(out)
        if total > max_bytes:
            return None  # bomb bound: always a drop
        if not d.eof:
            # a TORN member decodes partially without raising — same
            # tolerated-tail policy as the except branch: a torn
            # SUBSEQUENT gzip member cuts the body at the last member
            # boundary (warcio: buggy servers cut at block
            # boundaries); a torn FIRST member stays a drop
            if wbits == 31 and out_parts:
                return b"".join(out_parts)
            return None
        out_parts.append(out)
        unused = d.unused_data
        if not unused:
            return b"".join(out_parts)
        if wbits != 31:
            return None  # trailing bytes after a zlib/raw stream
        consumed = len(body) - pos - len(unused)
        if consumed <= 0:
            return b"".join(out_parts)
        pos += consumed  # next gzip member, or a tolerated tail


def decode_content_encoding(head: bytes, body: bytes,
                            max_bytes: int | None = None):
    """Apply the HTTP ``Content-Encoding`` chain to a response body —
    what real crawl WARCs require before any text processing (Common
    Crawl response records store the raw HTTP payload, and servers
    gzip/br most of them). Codings apply right-to-left per RFC 9110
    §8.4; supported: ``identity``, ``gzip``/``x-gzip`` (zlib
    wbits=31), ``deflate`` (zlib stream, with the classic raw-deflate
    server-quirk fallback), ``br`` (system libbrotli via
    ``functions/brotlilib.py``). Unsupported codings (``compress``),
    torn streams, and bodies expanding past the bomb bound return
    ``None`` — the record-granular drop."""
    if max_bytes is None:
        max_bytes = MAX_MEMBER_BYTES
    # RFC 9110 §5.3: repeated field lines combine into one list in
    # order — a response may carry several Content-Encoding headers
    matches = _CE_RE.findall(head)
    if not matches:
        return body
    codings = [c.strip().lower()
               for m in matches for c in m.split(b",") if c.strip()]
    for coding in reversed(codings):
        if coding == b"identity":
            continue
        if coding in (b"gzip", b"x-gzip"):
            body = _inflate_http(body, 31, max_bytes)
        elif coding == b"deflate":
            out = _inflate_http(body, 15, max_bytes)
            if out is None:
                out = _inflate_http(body, -15, max_bytes)
            body = out
        elif coding == b"br":
            from distributed_computing_projects_spark.functions import (
                brotlilib,
            )

            body = (brotlilib.decompress(body, max_bytes)
                    if brotlilib.available() else None)
        else:
            return None  # compress/unknown: outside subset
        if body is None:
            return None
    return body


# fixture geometry: the oracle pins the body via its length plus the
# byte sum of a bounded prefix (full-body sums would make the SQL
# quadratic in doc length for no extra decode coverage)
WARC_PREFIX = 32


def _warcinfo() -> bytes:
    return build_record(
        "warcinfo", {"Content-Type": "application/warc-fields"},
        b"software: fixture\r\n")


def _doc_url(source, i) -> str:
    return f"https://{source}.example.com/doc/{i}"


def _gz(record: bytes) -> bytes:
    return gzip.compress(record, compresslevel=6, mtime=0)


def warc_payloads(df: DataFrame, id_col: str, text_col: str,
                  source_col: str) -> DataFrame:
    """(id, payload): a deterministic two-record WARC per row — a
    warcinfo record (exercises the skip path) then one HTTP response
    whose Target-URI derives from (source, id) and whose body is the
    doc text. No eligibility filter: WARC carries any body length."""

    def encode(i, text, source):
        return _warcinfo() + build_response_record(
            _doc_url(source, i), text.encode("utf-8"))

    return encode_payloads(df, encode, id_col, text_col, source_col)


CONTENT_ENCODINGS = [None, "gzip", "deflate", "br", "gzip, br"]


def warc_ce_payloads(df: DataFrame, id_col: str, text_col: str,
                     source_col: str) -> DataFrame:
    """(id, payload): the warc_payloads two-record layout, but the
    HTTP response body is Content-Encoding-compressed per
    ``id % 5`` — identity, gzip, deflate, br, and the chained
    ``gzip, br`` — so every coding the extractor supports is on the
    hash path across the corpus. Requires libbrotli (raises like the
    zstd builder when the backend is absent)."""
    from distributed_computing_projects_spark.functions import brotlilib

    if not brotlilib.available():
        raise RuntimeError(
            "warc_ce_payloads needs libbrotli (functions/brotlilib.py)")

    def encode(i, text, source):
        ce = CONTENT_ENCODINGS[i % len(CONTENT_ENCODINGS)]
        return _warcinfo() + build_response_record(
            _doc_url(source, i), text.encode("utf-8"), content_encoding=ce)

    return encode_payloads(df, encode, id_col, text_col, source_col)


def warc_zst_payloads(df: DataFrame, id_col: str, text_col: str,
                      source_col: str) -> DataFrame:
    """Like :func:`warc_gz_payloads` but zstd FRAME-PER-RECORD
    (``.warc.zst``). Raises ``RuntimeError`` at plan-build time when
    no zstd backend exists (see :func:`zstd_backend` — the documented
    boundary), rather than building payloads that silently drop."""
    backend = zstd_backend()
    if backend is None:
        raise RuntimeError(
            "no zstd backend: needs Python 3.14+ compression.zstd or "
            "the zstandard wheel (documented boundary in sources/warc.py)"
        )
    compress, _ = backend

    def encode(i, text, source):
        resp = build_response_record(_doc_url(source, i),
                                     text.encode("utf-8"))
        return compress(_warcinfo()) + compress(resp)

    return encode_payloads(df, encode, id_col, text_col, source_col)


def warc_gz_payloads(df: DataFrame, id_col: str, text_col: str,
                     source_col: str) -> DataFrame:
    """Like :func:`warc_payloads` but compressed MEMBER-PER-RECORD the
    way Common Crawl publishes ``.warc.gz``: each record is its own
    gzip member (mtime pinned 0 so the payload is deterministic),
    members concatenated."""

    def encode(i, text, source):
        resp = build_response_record(_doc_url(source, i),
                                     text.encode("utf-8"))
        return _gz(_warcinfo()) + _gz(resp)

    return encode_payloads(df, encode, id_col, text_col, source_col)


def build_conversion_record(url: str, text: bytes) -> bytes:
    """One WET ``conversion`` record: the extracted plain text Common
    Crawl publishes alongside each WARC segment (``.warc.wet.gz``) —
    same WARC framing, ``WARC-Type: conversion``, ``text/plain``
    block with NO HTTP envelope."""
    return build_record(
        "conversion",
        {"WARC-Target-URI": url,
         "WARC-Date": "2024-01-01T00:00:00Z",
         "WARC-Refers-To": "<urn:uuid:00000000-0000-0000-0000-000000000000>",
         "Content-Type": "text/plain"},
        text,
    )


def wet_payloads(df: DataFrame, id_col: str, text_col: str,
                 source_col: str) -> DataFrame:
    """(id, payload): a deterministic WET file per row — warcinfo +
    one conversion record, each its own gzip member (the
    ``.warc.wet.gz`` layout Common Crawl publishes)."""

    def encode(i, text, source):
        conv = build_conversion_record(_doc_url(source, i),
                                       text.encode("utf-8"))
        return _gz(_warcinfo()) + _gz(conv)

    return encode_payloads(df, encode, id_col, text_col, source_col)


def wet_zst_payloads(df: DataFrame, id_col: str, text_col: str,
                     source_col: str) -> DataFrame:
    """(id, payload): the wet_payloads layout with each record its own
    zstd FRAME (``.warc.wet.zst`` — the WET sibling of
    ``.warc.zst``). Raises when no zstd backend exists, like the
    other zstd builders."""
    backend = zstd_backend()
    if backend is None:
        raise RuntimeError(
            "wet_zst_payloads needs a zstd backend (sources/warc.py)")
    compress, _ = backend

    def encode(i, text, source):
        conv = build_conversion_record(_doc_url(source, i),
                                       text.encode("utf-8"))
        return compress(_warcinfo()) + compress(conv)

    return encode_payloads(df, encode, id_col, text_col, source_col)


WET_SCHEMA = (
    "id bigint, url string, n_text_bytes bigint, prefix_sum bigint"
)


def extract_conversions(payloads: DataFrame) -> DataFrame:
    """WET extraction: the same record walk as
    :func:`extract_responses` (and the same gzip/zstd member decode),
    keeping ``conversion`` records, whose block IS the text — no HTTP
    envelope to strip. Emits (id, url, text byte length, bounded
    prefix byte sum)."""

    def extract(i, raw):
        if raw[:2] == _GZIP_MAGIC:
            raw = gunzip_members(raw)
        elif raw[:4] == _ZSTD_MAGIC:
            raw = unzstd_members(raw)
        records = parse_records(raw) if raw is not None else None
        for headers, block in records or ():
            if headers.get("warc-type") == "conversion":
                yield (i, headers.get("warc-target-uri", ""), len(block),
                       sum(block[:WARC_PREFIX]))

    return flat_map_rows(payloads.select("id", "payload"), extract,
                         WET_SCHEMA)


WARC_SCHEMA = (
    "id bigint, url string, status int, n_body_bytes bigint,"
    " prefix_sum bigint"
)


BODY_SCHEMA = "id bigint, url string, status int, body string"


def extract_response_bodies(payloads: DataFrame) -> DataFrame:
    """Like :func:`extract_responses` but emits the DECODED body
    itself as a string — the shape a wire-to-corpus pipeline consumes
    (the body then flows into HTML->text, quality gates, dedup).
    Same record walk, warcinfo/request skip, Content-Encoding decode,
    and record-granular drops; bodies that are not valid UTF-8 after
    decode drop too (a wrong or skipped Content-Encoding decode
    usually surfaces exactly there)."""

    def extract(i, payload):
        for url, status, body in iter_http_responses(payload):
            try:
                yield i, url, status, body.decode("utf-8")
            except UnicodeDecodeError:
                continue

    return flat_map_rows(payloads.select("id", "payload"), extract,
                         BODY_SCHEMA)


def iter_http_responses(raw: bytes):
    """(url, status, decoded body) per response record of one WARC
    payload — the ONE record walk both extractors consume (magic
    sniff, member decode, record parse, response filter, HTTP
    envelope split, Content-Encoding decode), so a walk fix can never
    land in one extractor and not the other. Record-granular drops
    throughout; a non-WARC payload yields nothing."""
    if raw[:2] == _GZIP_MAGIC:
        raw = gunzip_members(raw)
    elif raw[:4] == _ZSTD_MAGIC:
        raw = unzstd_members(raw)
    if raw is None:
        return
    records = parse_records(raw)
    if records is None:
        return
    for headers, block in records:
        if headers.get("warc-type") != "response":
            continue
        http = split_http_response(block)
        if http is None:
            continue
        status, head, body = http
        body = decode_content_encoding(head, body)
        if body is None:
            continue  # torn/bomb/unsupported coding: drop
        yield headers.get("warc-target-uri", ""), status, body


def extract_responses(payloads: DataFrame) -> DataFrame:
    """Per-payload WARC extraction inside one Arrow row stage:
    walk records, skip non-response types, strip the HTTP envelope,
    and emit (id, url, status, body length, byte sum of the first
    ``WARC_PREFIX`` body bytes) per response record — the fields a
    crawl-ingest stage filters and dedups on. Non-WARC payloads drop
    the row; torn records drop from the tear onward. Payloads opening
    with the gzip magic are gunzipped member-wise first
    (:func:`gunzip_members` — ``.warc.gz``, the wire format Common
    Crawl ships), zstd-magic payloads decode frame-wise when a zstd
    backend exists (:func:`unzstd_members` — ``.warc.zst``), so
    plain, gzip, and zstd WARC read through the one path
    (:func:`iter_http_responses`)."""

    def extract(i, payload):
        for url, status, body in iter_http_responses(payload):
            yield i, url, status, len(body), sum(body[:WARC_PREFIX])

    return flat_map_rows(payloads.select("id", "payload"), extract,
                         WARC_SCHEMA)
