"""PDF text extraction in pure stdlib — the single biggest
document-corpus format after HTML, and (unlike lossy media) its text
layer is exactly recomputable: content streams are byte streams whose
only compression in the wild's dominant subset is zlib Flate, and the
text-showing operators (``Tj``, ``TJ``) carry literal strings whose
escape rules are lossless. So extraction here is REAL — actual object
walk, actual inflate, actual operator scan — with no imaging or PDF
library in the container.

Subset (documented, PDF 1.4 §3.2/§5.3): classic xref layout, direct
``/Length`` values, ``/Filter /FlateDecode`` or unfiltered streams,
text shown with ``Tj`` (single string) and ``TJ`` (array of strings
with kern numbers), literal strings with backslash escapes (incl.
octal) and NO unescaped nested parentheses. Outside the subset —
object streams (``/Type /ObjStm``), cross-reference streams,
predictors, CID/Type0 multi-byte encodings, encryption — the payload
or stream DROPS per the engine's malformed-record policy
(sources/csv.py discipline, record granularity = the stream).

Scale shape: like WARC, PDF is not block-splittable; the unit of
parallelism is the FILE, and extraction is one Arrow row stage
over payload bytes with everything before it JVM-side.

Reference parity note: the reference reads plain text/CSV only
(mp1/src/grep.go); PDF is LLM-ingest scale-extension surface
(SURVEY.md §2 extensions).
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame

from distributed_computing_projects_spark.operators.spread import (
    flat_map_rows, prefix_payloads)

_PDF_HEADER = b"%PDF-1.4"

MAX_STREAM_BYTES = 1 << 28  # zip-bomb guard: see sources/warc.py

# literal string: escaped-or-plain bytes between parens (subset rule:
# parens inside strings are always escaped)
_LITSTR = rb"\((?:[^()\\]|\\.)*\)"
_TJ_RE = re.compile(_LITSTR + rb"\s*Tj")
# array elements are literal strings or kern numbers; the string
# alternative comes FIRST so a ']' INSIDE a string never terminates
# the array match
_TJARR_RE = re.compile(
    rb"\[((?:" + _LITSTR + rb"|[-+0-9.\s])*)\]\s*TJ"
)
_STR_RE = re.compile(_LITSTR)
# the 'stream' keyword: not the tail of 'endstream', followed by EOL
_STREAM_KW = re.compile(rb"(?<!end)stream(?=\r\n|\r|\n)")
_OCTAL_RE = re.compile(rb"\\([0-7]{1,3})")

_ESCAPES = {
    ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t",
    ord("b"): b"\x08", ord("f"): b"\x0c",
    ord("("): b"(", ord(")"): b")", ord("\\"): b"\\",
}


def escape_string(raw: bytes) -> bytes:
    """Escape ``raw`` for a PDF literal string (encoder side): the
    exact inverse of :func:`unescape_string` over the subset —
    backslash-escapes for the specials, octal for control bytes."""
    out = bytearray()
    for c in raw:
        if c in (0x28, 0x29, 0x5C):  # ( ) backslash
            out += b"\\" + bytes([c])
        elif c < 0x20 or c == 0x7F:
            out += b"\\%03o" % c
        else:
            out.append(c)
    return bytes(out)


def unescape_string(s: bytes) -> bytes:
    """Decode a literal-string BODY (parens stripped) per PDF 1.4
    §3.2.3: named escapes, octal escapes, and unknown-escape =
    drop-the-backslash."""
    out = bytearray()
    i = 0
    while i < len(s):
        c = s[i]
        if c != 0x5C:  # not backslash
            out.append(c)
            i += 1
            continue
        if i + 1 >= len(s):
            break  # trailing lone backslash: ignored per spec
        n = s[i + 1]
        m = _OCTAL_RE.match(s, i)
        if m:
            out.append(int(m.group(1), 8) & 0xFF)
            i = m.end()
        elif n in _ESCAPES:
            out += _ESCAPES[n]
            i += 2
        else:
            out.append(n)  # unknown escape: backslash dropped
            i += 2
    return bytes(out)


def _stream_objects(b: bytes):
    """Yield ``(dict_bytes, stream_bytes)`` for each stream object,
    delimited by the dict's direct ``/Length`` (required in-subset:
    scanning for ``endstream`` instead would tear on Flate output
    that happens to contain those bytes). A stream whose Length runs
    past the buffer is torn: it and everything after drop, keeping
    prior streams (record-granular policy)."""
    pos = 0
    while True:
        kw = _STREAM_KW.search(b, pos)
        if kw is None:
            return
        s = kw.start()
        d0 = b.rfind(b"<<", 0, s)
        if d0 < 0:
            pos = s + 6
            continue
        dct = b[d0:s]
        m = re.search(rb"/Length\s+(\d+)(?!\s+0\s+R)", dct)
        if m is None:
            return  # indirect /Length: outside subset, drop onward
        length = int(m.group(1))
        body0 = s + 6
        if b[body0:body0 + 2] == b"\r\n":
            body0 += 2
        elif b[body0:body0 + 1] in (b"\n", b"\r"):
            body0 += 1
        if body0 + length > len(b):
            return  # torn stream
        yield dct, b[body0:body0 + length]
        pos = body0 + length


def extract_text(b: bytes):
    """Extract the text layer of one PDF payload. Returns
    ``(n_streams, n_flate, n_text_ops, text_bytes)`` or ``None`` when
    the payload is not a PDF / no stream parses (the row drop).
    ``n_text_ops`` counts ``Tj`` + ``TJ`` operators; ``text_bytes``
    concatenates every shown string in operator order."""
    if not b.startswith(_PDF_HEADER[:5]):
        return None
    n_streams = n_flate = n_ops = 0
    parts: list[bytes] = []
    for dct, stream in _stream_objects(b):
        n_streams += 1
        if b"/FlateDecode" in dct:
            n_flate += 1
            # bounded inflate (zip-bomb guard, sources/warc.py
            # discipline): a corrupt OR bomb stream drops, rest keeps
            d = zlib.decompressobj()
            try:
                stream = d.decompress(stream, MAX_STREAM_BYTES + 1)
            except zlib.error:
                continue
            if len(stream) > MAX_STREAM_BYTES or not d.eof:
                # over-bound = bomb; not-eof = torn stream whose
                # partial inflate must DROP, not count partial text
                continue
        if b"BT" not in stream:
            continue  # not a text content stream
        for m in _TJ_RE.finditer(stream):
            parts.append(unescape_string(m.group(0)[1:m.group(0).rfind(b")")]))
            n_ops += 1
        for m in _TJARR_RE.finditer(stream):
            for sm in _STR_RE.finditer(m.group(1)):
                parts.append(unescape_string(sm.group(0)[1:-1]))
            n_ops += 1
    if n_streams == 0:
        return None
    return n_streams, n_flate, n_ops, b"".join(parts)


# fixture geometry: 64 text bytes per doc — stream 1 shows bytes
# 0..31 as four 8-byte Tj ops, stream 2 shows bytes 32..63 as one TJ
# array of four 8-byte strings with kern numbers between them
PDF_TEXT_BYTES = 64
_SEG = 8


def build_pdf(text_bytes: bytes, flate: bool) -> bytes:
    """One deterministic two-content-stream PDF (classic xref layout)
    showing ``text_bytes`` (len 64) through both text operators, both
    streams Flate-compressed when ``flate``."""
    half = PDF_TEXT_BYTES // 2
    a, b_ = text_bytes[:half], text_bytes[half:]
    tj = b"BT /F1 12 Tf 72 720 Td " + b" ".join(
        b"(" + escape_string(a[i:i + _SEG]) + b") Tj"
        for i in range(0, half, _SEG)
    ) + b" ET"
    tjarr = b"BT /F1 12 Tf 72 600 Td [" + b" -120 ".join(
        b"(" + escape_string(b_[i:i + _SEG]) + b")"
        for i in range(0, half, _SEG)
    ) + b"] TJ ET"

    def stream_obj(num: int, content: bytes) -> bytes:
        body = zlib.compress(content, 6) if flate else content
        filt = b" /Filter /FlateDecode" if flate else b""
        return (b"%d 0 obj << /Length %d%s >>\nstream\n" %
                (num, len(body), filt) + body + b"\nendstream\nendobj\n")

    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Contents [4 0 R 5 0 R] /Resources << /Font << /F1 6 0 R >>"
        b" >> >> endobj\n",
        stream_obj(4, tj),
        stream_obj(5, tjarr),
        b"6 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" >> endobj\n",
    ]
    out = bytearray(_PDF_HEADER + b"\n")
    offsets = []
    for o in objs:
        offsets.append(len(out))
        out += o
    xref = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer << /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, xref))
    return bytes(out)


def pdf_payloads(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, payload): a deterministic PDF per row showing the doc's
    first ``PDF_TEXT_BYTES`` UTF-8 bytes — even ids Flate-compress
    both content streams (REAL zlib through the decode path), odd ids
    leave them raw. Callers pre-filter to rows with enough bytes."""
    return prefix_payloads(
        df, id_col, text_col, PDF_TEXT_BYTES,
        lambda i, raw: build_pdf(raw, flate=i % 2 == 0))


PDF_SCHEMA = (
    "id bigint, n_streams int, n_flate int, n_text_ops int,"
    " n_chars bigint, prefix_sum bigint"
)


def extract_pdf_text(payloads: DataFrame) -> DataFrame:
    """Per-payload PDF text extraction in one Arrow row stage:
    stream-object walk, Flate inflate, Tj/TJ scan, escape decode —
    emitting (stream/op counts, extracted byte count, byte sum of the
    extracted text) per payload. Non-PDF payloads drop the row."""

    def extract(i, payload):
        parsed = extract_text(payload)
        if parsed is not None:
            n_streams, n_flate, n_ops, text = parsed
            yield i, n_streams, n_flate, n_ops, len(text), sum(text)

    return flat_map_rows(payloads.select("id", "payload"), extract,
                         PDF_SCHEMA)
