"""PDF 1.5+ object-model parsing in pure stdlib — the layout modern
crawl PDFs actually ship. ``sources/pdf.py`` covers the classic-xref
1.4 subset by scanning for stream objects; real Common-Crawl PDFs are
dominantly 1.5+, where the document's non-stream objects (page tree,
fonts, lengths) live *inside* compressed object streams
(``/Type /ObjStm``) indexed by a cross-reference STREAM
(``/Type /XRef``) whose rows are themselves Flate-compressed behind a
PNG row predictor. Text extraction there requires the real object
model: startxref -> xref-stream decode (predictor unfilter via the
PNG machinery in ``operators/multimodal.py``) -> object map ->
object-stream unpack -> page-tree walk -> content-stream filter
chain -> operator scan.

This module implements that walk, plus the two text-encoding features
the 1.4 scanner's subset excluded:

- **hex strings** (``<48656C6C6F> Tj``) everywhere literal strings
  are allowed;
- **ToUnicode CMaps** for composite (Type0/CID) fonts: shown bytes
  are font CODES, not characters, and only become text through the
  font's ToUnicode CMap (``bfchar``/``bfrange``). The extractor
  tracks the current font across ``Tf`` operators and maps each shown
  string through its CMap when one exists.

Stream filters cover the non-image set real crawl PDFs carry:
FlateDecode and LZWDecode (shared MSB-first codec in
``functions/lzw.py``, ``/EarlyChange`` honored) each with the PNG
row predictor, plus ASCIIHexDecode / ASCII85Decode /
RunLengthDecode, chained in any order. Out-of-subset remains
record-granular drop (sources/csv.py policy): encryption, image
filters (DCT/JPX/JBIG2/CCITT), TIFF predictor 2, torn streams, and
cyclic references drop the payload or stream, never the batch.

Scale shape: identical to pdf.py — PDFs are not block-splittable, the
unit of parallelism is the file, and everything runs in one Arrow
row stage over payload bytes.

Reference parity note: the reference reads plain text/CSV only
(mp1/src/grep.go); PDF is LLM-ingest scale-extension surface
(SURVEY.md §2 extensions).
"""

from __future__ import annotations

import re
import zlib
from typing import NamedTuple

from pyspark.sql import DataFrame

from distributed_computing_projects_spark.operators.multimodal import (
    _png_unfilter,
)
from distributed_computing_projects_spark.operators.spread import (
    flat_map_rows, prefix_payloads)
from distributed_computing_projects_spark.sources.pdf import (
    PDF_TEXT_BYTES,
    escape_string,
    unescape_string,
)

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_PARSE_ERRORS = (
    ValueError, KeyError, IndexError, TypeError, AttributeError,
    OverflowError, zlib.error,
)


class Ref(NamedTuple):
    """Indirect object reference ``num gen R`` (generation ignored:
    the fixture corpus and modern incremental-update-free files are
    generation-0; a nonzero generation resolves to the same slot)."""
    num: int


# ---------------------------------------------------------------------------
# COS object parser (PDF 32000-1:2008 §7.3): recursive descent over
# bytes, returning plain Python values — dict (name keys as str),
# list, bytes (strings), str (names), int/float, bool, None, Ref.
# ---------------------------------------------------------------------------

def _skip_ws(b: bytes, i: int) -> int:
    n = len(b)
    while i < n:
        c = b[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # % comment runs to end of line
            j = i
            while j < n and b[j] not in b"\r\n":
                j += 1
            i = j
        else:
            break
    return i


_NUM_RE = re.compile(rb"[-+]?(?:\d+\.?\d*|\.\d+)")
_REF_RE = re.compile(rb"\s+(\d+)\s+R(?![A-Za-z0-9])")
_NAME_HEX = re.compile(rb"#([0-9A-Fa-f]{2})")


def _parse_name(b: bytes, i: int):
    # i points at '/'
    j = i + 1
    n = len(b)
    while j < n and b[j] not in _WS and b[j] not in _DELIM:
        j += 1
    raw = _NAME_HEX.sub(
        lambda m: bytes([int(m.group(1), 16)]), b[i + 1:j]
    )
    return raw.decode("latin-1"), j


def _parse_literal_string(b: bytes, i: int):
    # i points at '('; full spec nesting: balanced unescaped parens
    # are legal inside the string (unlike pdf.py's escaped-only subset)
    j = i + 1
    depth = 1
    n = len(b)
    while j < n:
        c = b[j]
        if c == 0x5C:  # backslash: skip escaped byte
            j += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return unescape_string(b[i + 1:j]), j + 1
        j += 1
    raise ValueError("unterminated literal string")


def _parse_hex_string(b: bytes, i: int):
    # i points at '<' (and not '<<')
    j = b.index(b">", i + 1)
    digits = re.sub(rb"\s+", b"", b[i + 1:j])
    if len(digits) % 2:
        digits += b"0"  # odd count: final digit padded with 0 (spec)
    return bytes.fromhex(digits.decode("latin-1")), j + 1


_MAX_DEPTH = 64  # nesting bound: a hostile [[[[... payload must be a
# ValueError (the row drop), not a RecursionError out of the worker


def parse_object(b: bytes, i: int, depth: int = 0):
    """Parse one object at ``i``; returns ``(value, next_i)``."""
    if depth > _MAX_DEPTH:
        raise ValueError("nesting bound exceeded")
    i = _skip_ws(b, i)
    if i >= len(b):
        raise ValueError("eof")
    c = b[i]
    if b.startswith(b"<<", i):
        i += 2
        d: dict = {}
        while True:
            i = _skip_ws(b, i)
            if b.startswith(b">>", i):
                return d, i + 2
            if b[i] != 0x2F:
                raise ValueError("dict key is not a name")
            key, i = _parse_name(b, i)
            d[key], i = parse_object(b, i, depth + 1)
    if c == 0x5B:  # [
        i += 1
        arr: list = []
        while True:
            i = _skip_ws(b, i)
            if b[i] == 0x5D:
                return arr, i + 1
            v, i = parse_object(b, i, depth + 1)
            arr.append(v)
    if c == 0x2F:  # /
        return _parse_name(b, i)
    if c == 0x28:  # (
        return _parse_literal_string(b, i)
    if c == 0x3C:  # < (hex string; << handled above)
        return _parse_hex_string(b, i)
    m = _NUM_RE.match(b, i)
    if m:
        tok = m.group(0)
        if b"." not in tok:
            r = _REF_RE.match(b, m.end())
            if r and not tok.startswith((b"-", b"+")):
                return Ref(int(tok)), r.end()
            return int(tok), m.end()
        return float(tok), m.end()
    if b.startswith(b"true", i):
        return True, i + 4
    if b.startswith(b"false", i):
        return False, i + 5
    if b.startswith(b"null", i):
        return None, i + 4
    raise ValueError(f"unparseable object at {i}")


# ---------------------------------------------------------------------------
# Stream filters (§7.4): FlateDecode with the optional PNG row
# predictor (the one xref streams ship). Unsupported filters return
# None -> the stream drops, record-granularly.
# ---------------------------------------------------------------------------

def _apply_predictor(data: bytes, parms: dict):
    pred = parms.get("Predictor", 1)
    if pred == 1:
        return data
    colors = parms.get("Colors", 1)
    bpc = parms.get("BitsPerComponent", 8)
    columns = parms.get("Columns", 1)
    if pred == 2:
        # TIFF predictor 2 (horizontal differencing, §7.4.4.4 /
        # TIFF 6.0 §14): per-row, per-color cumulative sum. 8-bit
        # components only — the sub-byte variants drop.
        if bpc != 8:
            return None
        stride = columns * colors
        if stride <= 0 or len(data) % stride:
            return None  # torn rows: drop, never partial
        import numpy as np

        rows = np.frombuffer(data, dtype=np.uint8).reshape(
            -1, columns, colors)
        return ((rows.astype(np.uint32).cumsum(axis=1) % 256)
                .astype(np.uint8).tobytes())
    if pred < 10:
        return None  # predictor 3..9: not a defined PDF value
    bpp = max(1, (colors * bpc) // 8)
    stride = (columns * colors * bpc + 7) // 8
    h = len(data) // (stride + 1)
    if h == 0:
        return None
    arr = _png_unfilter(data[:h * (stride + 1)], columns, h, bpp, stride)
    return None if arr is None else arr.tobytes()


MAX_STREAM_BYTES = 1 << 28  # zip-bomb guard (sources/warc.py
# discipline): a Flate stream expanding past this drops, instead of
# OOMing the executor on one hostile payload


def _inflate_bounded(raw: bytes):
    d = zlib.decompressobj()
    try:
        out = d.decompress(raw, MAX_STREAM_BYTES + 1)
    except zlib.error:
        return None
    if len(out) > MAX_STREAM_BYTES or not d.eof:
        # over-bound = bomb; not-eof = torn stream whose partial
        # inflate must DROP, not pass as complete text
        return None
    return out


def _lzw_bounded(raw: bytes, parms):
    """PDF LZWDecode (§7.4.4) — the shared MSB-first codec
    (functions/lzw.py, same algorithm as TIFF tag 5); /EarlyChange 0
    is the one per-stream dialect knob. Bomb-bounded like Flate."""
    from distributed_computing_projects_spark.functions.lzw import lzw_decode

    ec = parms.get("EarlyChange", 1) if isinstance(parms, dict) else 1
    return lzw_decode(
        raw, early_change=0 if ec == 0 else 1, max_out=MAX_STREAM_BYTES
    )


_HEX_DIGITS = frozenset(b"0123456789abcdefABCDEF")
_PDF_WS = frozenset(b" \t\r\n\f\x00")


def _asciihex_decode(raw: bytes):
    """ASCIIHexDecode (§7.4.2): hex pairs, whitespace ignored, ``>``
    is EOD; an odd trailing digit reads as if followed by 0. Missing
    EOD or a non-hex byte drops the stream."""
    out = bytearray()
    hi = -1
    for c in raw:
        if c in _PDF_WS:
            continue
        if c == 0x3E:  # '>'
            if hi >= 0:
                out.append(int(chr(hi) + "0", 16))
            return bytes(out)
        if c not in _HEX_DIGITS:
            return None
        if hi < 0:
            hi = c
        else:
            out.append(int(chr(hi) + chr(c), 16))
            hi = -1
    return None  # no '>' EOD: torn stream


def _ascii85_decode(raw: bytes):
    """ASCII85Decode (§7.4.3): 5 chars ``!``..``u`` -> 4 bytes base-85
    big-endian; ``z`` = four zero bytes (only between groups); ``~>``
    is EOD; a partial final group of n chars pads with ``u`` and
    emits n-1 bytes. Group overflow past 2^32-1, a lone trailing
    digit, or a missing EOD drops the stream."""
    out = bytearray()
    group: list[int] = []

    def flush(g):
        val = 0
        for d in g:
            val = val * 85 + d
        if val > 0xFFFFFFFF:
            return None
        return val.to_bytes(4, "big")

    i, n = 0, len(raw)
    if raw.startswith(b"<~"):  # optional Adobe-form leader
        i = 2
    while i < n:
        c = raw[i]
        if c in _PDF_WS:
            i += 1
            continue
        if c == 0x7E:  # '~': EOD marker start
            j = i + 1
            while j < n and raw[j] in _PDF_WS:
                j += 1
            if j >= n or raw[j] != 0x3E or len(group) == 1:
                return None
            if group:
                k = len(group)
                quad = flush(group + [84] * (5 - k))
                if quad is None:
                    return None
                out += quad[: k - 1]
            return bytes(out)
        if c == 0x7A:  # 'z': four zeros, ill-formed inside a group
            if group:
                return None
            out += b"\x00\x00\x00\x00"
            i += 1
            continue
        if not 0x21 <= c <= 0x75:
            return None
        group.append(c - 0x21)
        if len(group) == 5:
            quad = flush(group)
            if quad is None:
                return None
            out += quad
            group = []
        i += 1
    return None  # no '~>' EOD: torn stream


def _runlength_decode(raw: bytes):
    """RunLengthDecode (§7.4.5): length byte 0..127 copies the next
    L+1 bytes, 129..255 repeats the next byte 257-L times, 128 is
    EOD. Torn input or output past the bomb bound drops."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        length = raw[i]
        i += 1
        if length == 128:
            return bytes(out)
        if length < 128:
            if i + length + 1 > n:
                return None
            out += raw[i : i + length + 1]
            i += length + 1
        else:
            if i >= n:
                return None
            out += raw[i : i + 1] * (257 - length)
            i += 1
        if len(out) > MAX_STREAM_BYTES:
            return None
    return None  # no EOD byte: torn stream


def decode_stream(dct: dict, raw: bytes, resolve):
    """Run the stream's filter chain (filters compose left-to-right,
    e.g. ``/Filter [/ASCII85Decode /LZWDecode]``); None on any
    unsupported or ill-formed link — a partially decoded stream must
    never pass as fully decoded."""
    filt = resolve(dct.get("Filter"))
    parms = resolve(dct.get("DecodeParms", dct.get("DP")))
    filters = filt if isinstance(filt, list) else ([] if filt is None else [filt])
    if isinstance(parms, list):
        # the spec allows null entries and a short list; pad with None
        # so a short /DecodeParms cannot zip-truncate the filter chain
        parmlist = list(parms) + [None] * (len(filters) - len(parms))
    else:
        parmlist = [parms] * len(filters)
    for f, p in zip(filters, parmlist):
        f, p = resolve(f), resolve(p)
        if f in ("FlateDecode", "Fl"):
            raw = _inflate_bounded(raw)
        elif f in ("LZWDecode", "LZW"):
            raw = _lzw_bounded(raw, p)
        elif f in ("ASCIIHexDecode", "AHx"):
            raw = _asciihex_decode(raw)
        elif f in ("ASCII85Decode", "A85"):
            raw = _ascii85_decode(raw)
        elif f in ("RunLengthDecode", "RL"):
            raw = _runlength_decode(raw)
        else:
            return None  # DCT/JPX/JBIG2/CCITT/Crypt: outside subset
        if raw is None:
            return None
        if f in ("FlateDecode", "Fl", "LZWDecode", "LZW") and isinstance(p, dict):
            raw = _apply_predictor(raw, p)  # predictors apply to the
            if raw is None:  # compression filters only (§7.4.4.4)
                return None
    return raw


# ---------------------------------------------------------------------------
# Document: xref chain -> object map -> lazy object store
# ---------------------------------------------------------------------------

_OBJ_HDR = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")


class PdfDocument:
    """Random-access object store over one PDF payload: resolves the
    startxref chain (classic tables, xref streams, hybrid /XRefStm),
    unpacks object streams on demand, and memoizes parsed objects.
    Raises on malformed input — callers translate to the row drop."""

    def __init__(self, b: bytes):
        self.b = b
        self.xref: dict[int, tuple] = {}  # num -> ("o",off) | ("c",stm,idx)
        self.trailer: dict = {}
        self.xref_predictors: list[int] = []
        self._objs: dict[int, tuple] = {}  # num -> (value, stream|None)
        self._resolving: set[int] = set()
        matches = list(_STARTXREF_RE.finditer(b))
        if not matches:
            raise ValueError("no startxref")
        off = int(matches[-1].group(1))
        seen: set[int] = set()
        queue = [off]
        while queue and len(seen) < 16:
            off = queue.pop(0)
            if off in seen or not 0 <= off < len(b):
                continue
            seen.add(off)
            trailer = self._load_xref_section(off)
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)  # newest section wins
            for key in ("XRefStm", "Prev"):
                nxt = trailer.get(key)
                if isinstance(nxt, int):
                    queue.append(nxt)

    # -- xref sections -----------------------------------------------------

    def _load_xref_section(self, off: int) -> dict:
        b = self.b
        i = _skip_ws(b, off)
        if b.startswith(b"xref", i):
            return self._load_classic_table(i + 4)
        return self._load_xref_stream(i)

    def _load_classic_table(self, i: int) -> dict:
        b = self.b
        while True:
            i = _skip_ws(b, i)
            if b.startswith(b"trailer", i):
                trailer, _ = parse_object(b, i + 7)
                if not isinstance(trailer, dict):
                    raise ValueError("bad trailer")
                return trailer
            m = re.match(rb"(\d+)\s+(\d+)", b[i:i + 48])
            if m is None:
                raise ValueError("bad xref subsection header")
            start, count = int(m.group(1)), int(m.group(2))
            i = _skip_ws(b, i + m.end())
            for k in range(count):
                e = b[i:i + 20]
                if len(e) < 18:
                    raise ValueError("torn xref entry")
                if e[17:18] == b"n":
                    self.xref.setdefault(start + k, ("o", int(e[0:10])))
                elif e[17:18] == b"f":
                    # tombstone: shadow older sections (see xref
                    # stream walk) so freed objects stay deleted
                    self.xref.setdefault(start + k, None)
                i += 20

    def _load_xref_stream(self, i: int) -> dict:
        b = self.b
        m = _OBJ_HDR.match(b, i)
        if m is None:
            raise ValueError("xref offset points at no object")
        dct, j = parse_object(b, m.end())
        if not isinstance(dct, dict) or dct.get("Type") != "XRef":
            raise ValueError("not an xref stream")
        length = dct.get("Length")
        if not isinstance(length, int):
            raise ValueError("xref stream needs a direct /Length")
        raw = self._stream_bytes(j, length)
        parms = dct.get("DecodeParms")
        self.xref_predictors.append(
            parms.get("Predictor", 1) if isinstance(parms, dict) else 1
        )
        data = decode_stream(dct, raw, lambda v: v)
        if data is None:
            raise ValueError("undecodable xref stream")
        w = dct.get("W")
        if not (isinstance(w, list) and len(w) == 3):
            raise ValueError("bad /W")
        w1, w2, w3 = w
        rw = w1 + w2 + w3
        index = dct.get("Index", [0, dct.get("Size", 0)])
        rows = len(data) // rw
        pos = 0
        pairs = [(index[k], index[k + 1]) for k in range(0, len(index), 2)]
        for start, count in pairs:
            for k in range(count):
                if pos + rw > len(data):
                    raise ValueError("torn xref stream rows")
                row = data[pos:pos + rw]
                pos += rw
                f1 = int.from_bytes(row[:w1], "big") if w1 else 1
                f2 = int.from_bytes(row[w1:w1 + w2], "big")
                f3 = int.from_bytes(row[w1 + w2:], "big")
                num = start + k
                if f1 == 1:
                    self.xref.setdefault(num, ("o", f2))
                elif f1 == 2:
                    self.xref.setdefault(num, ("c", f2, f3))
                elif f1 == 0:
                    # free entry: record a tombstone so an OLDER /Prev
                    # section's stale in-use row cannot resurrect an
                    # object this newer section deleted
                    self.xref.setdefault(num, None)
        del rows
        return dct

    # -- object access -----------------------------------------------------

    def _stream_bytes(self, after_dict: int, length: int) -> bytes:
        b = self.b
        i = _skip_ws(b, after_dict)
        if not b.startswith(b"stream", i):
            raise ValueError("missing stream keyword")
        i += 6
        if b[i:i + 2] == b"\r\n":
            i += 2
        elif b[i:i + 1] in (b"\n", b"\r"):
            i += 1
        if i + length > len(b):
            raise ValueError("torn stream")
        return b[i:i + length]

    def resolve(self, v):
        if isinstance(v, Ref):
            return self.get(v.num)
        return v

    def get(self, num: int):
        if num in self._objs:
            return self._objs[num][0]
        if num in self._resolving:
            raise ValueError("reference cycle")
        entry = self.xref.get(num)
        if entry is None:
            return None
        self._resolving.add(num)
        try:
            if entry[0] == "o":
                val, raw = self._parse_indirect(entry[1])
            else:
                val, raw = self._objstm_member(entry[1], entry[2]), None
            self._objs[num] = (val, raw)
            return val
        finally:
            self._resolving.discard(num)

    def get_stream(self, num: int):
        """Decoded stream bytes of object ``num`` (None if the object
        has no stream or its filter chain is unsupported)."""
        self.get(num)
        val, raw = self._objs.get(num, (None, None))
        if raw is None or not isinstance(val, dict):
            return None
        return decode_stream(val, raw, self.resolve)

    def _parse_indirect(self, off: int):
        b = self.b
        m = _OBJ_HDR.match(b, _skip_ws(b, off))
        if m is None:
            raise ValueError("offset points at no object header")
        val, i = parse_object(b, m.end())
        i = _skip_ws(b, i)
        if isinstance(val, dict) and b.startswith(b"stream", i):
            length = self.resolve(val.get("Length"))
            if not isinstance(length, int):
                raise ValueError("unresolvable /Length")
            return val, self._stream_bytes(i, length)
        return val, None

    def _objstm_member(self, stm: int, idx: int):
        data = self.get_stream(stm)
        dct = self._objs[stm][0]
        if data is None or dct.get("Type") != "ObjStm":
            raise ValueError("bad object stream")
        n, first = dct.get("N"), dct.get("First")
        if not (isinstance(n, int) and isinstance(first, int) and idx < n):
            raise ValueError("bad ObjStm header")
        ints = [int(t) for t in data[:first].split()]
        if len(ints) < 2 * n:
            raise ValueError("short ObjStm header")
        off = first + ints[2 * idx + 1]
        val, _ = parse_object(data, off)
        return val


# ---------------------------------------------------------------------------
# ToUnicode CMaps (§9.10.3): shown bytes -> Unicode for Type0/CID
# fonts. bfchar maps single codes; bfrange maps spans (scalar-dst
# increments, array-dst enumerates).
# ---------------------------------------------------------------------------

_HEXTOK = re.compile(rb"<([0-9A-Fa-f]+)>")
_BFCHAR_BLOCK = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_BLOCK = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_CODESPACE_BLOCK = re.compile(
    rb"begincodespacerange(.*?)endcodespacerange", re.S
)
_RANGE_ENTRY = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
    rb"(\[(?:\s*<[0-9A-Fa-f]+>)*\s*\]|<[0-9A-Fa-f]+>)"
)
_RANGE_CAP = 1 << 16  # bound enumeration of hostile spans


def _utf16be(hexdigits: bytes) -> str:
    return bytes.fromhex(hexdigits.decode("latin-1")).decode(
        "utf-16-be", errors="replace"
    )


def parse_tounicode(data: bytes):
    """``(code_bytes, {code: text})`` from a ToUnicode CMap stream."""
    clen = None
    m = _CODESPACE_BLOCK.search(data)
    if m:
        toks = _HEXTOK.findall(m.group(1))
        if toks:
            clen = len(toks[0]) // 2
    table: dict[int, str] = {}
    for m in _BFCHAR_BLOCK.finditer(data):
        toks = _HEXTOK.findall(m.group(1))
        for src, dst in zip(toks[0::2], toks[1::2]):
            if clen is None:
                clen = len(src) // 2
            table[int(src, 16)] = _utf16be(dst)
    for m in _BFRANGE_BLOCK.finditer(data):
        for e in _RANGE_ENTRY.finditer(m.group(1)):
            lo, hi = int(e.group(1), 16), int(e.group(2), 16)
            if clen is None:
                clen = len(e.group(1)) // 2
            span = min(hi - lo + 1, _RANGE_CAP)
            dst = e.group(3)
            if dst.startswith(b"["):
                dsts = _HEXTOK.findall(dst)
                for k, d in enumerate(dsts[:span]):
                    table[lo + k] = _utf16be(d)
            else:
                dhex = _HEXTOK.match(dst).group(1)
                base = int(dhex, 16)
                width = len(dhex) // 2
                for k in range(span):
                    table[lo + k] = (base + k).to_bytes(
                        width, "big"
                    ).decode("utf-16-be", errors="replace")
    return (clen or 2), table


# ---------------------------------------------------------------------------
# Content-stream text scan with font tracking: Tf switches the
# current font; Tj/TJ show literal OR hex strings, mapped through the
# current font's ToUnicode CMap when it has one.
# ---------------------------------------------------------------------------

_LIT = rb"\((?:[^()\\]|\\.)*\)"
_HEX = rb"<[0-9A-Fa-f\s]*>"
_STR = rb"(?:" + _LIT + rb"|" + _HEX + rb")"
_CONTENT_OP = re.compile(
    rb"/(?P<font>[^\s/<>\[\]()]+)\s+[-+0-9.]+\s+Tf"
    rb"|(?P<tjs>" + _STR + rb")\s*Tj"
    rb"|\[(?P<arr>(?:" + _STR + rb"|[-+0-9.\s])*)\]\s*TJ"
)
_STR_RE = re.compile(_STR)


def _string_bytes(tok: bytes):
    """(payload bytes, was_hex) for one literal/hex string token."""
    if tok.startswith(b"("):
        return unescape_string(tok[1:-1]), False
    digits = re.sub(rb"\s+", b"", tok[1:-1])
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("latin-1")), True


def _map_shown(raw: bytes, cmap) -> str:
    if cmap is None:
        return raw.decode("latin-1")
    clen, table = cmap
    return "".join(
        table.get(int.from_bytes(raw[k:k + clen], "big"), "�")
        for k in range(0, len(raw) - clen + 1, clen)
    )


def scan_content(content: bytes, cmaps: dict):
    """``(n_text_ops, n_hex_strings, text)`` over one page's content,
    tracking the current font through ``Tf``; ``cmaps`` maps resource
    font names to ``(code_bytes, table)`` or None."""
    n_ops = n_hex = 0
    cur = None
    parts: list[str] = []
    for m in _CONTENT_OP.finditer(content):
        if m.group("font") is not None:
            cur = cmaps.get(m.group("font").decode("latin-1"))
            continue
        toks = [m.group("tjs")] if m.group("tjs") is not None else \
            _STR_RE.findall(m.group("arr"))
        n_ops += 1
        for tok in toks:
            raw, was_hex = _string_bytes(tok)
            n_hex += int(was_hex)
            parts.append(_map_shown(raw, cur))
    return n_ops, n_hex, "".join(parts)


def extract_facts(b: bytes):
    """Full xref-driven extraction of one payload. Returns a dict of
    (n_pages, n_objstm, n_compressed_objs, pred, n_fonts, n_text_ops,
    n_hex_strings, n_chars, prefix_sum) or None on any out-of-subset
    or malformed payload (the row drop). ``prefix_sum`` sums Unicode
    code points of the extracted text, so a CMap that is skipped or
    misapplied changes the hash."""
    if not b.startswith(b"%PDF-"):
        return None
    try:
        doc = PdfDocument(b)
        root = doc.resolve(doc.trailer.get("Root"))
        if not isinstance(root, dict):
            return None
        pages: list[dict] = []
        # bound VISITED nodes, not just collected leaves: a cyclic
        # /Pages tree (hostile or corrupt) must terminate, not hang
        # the executor; seen-by-identity breaks cycles outright since
        # the object store memoizes (same Ref -> same dict object)
        stack = [doc.resolve(root.get("Pages"))]
        seen_nodes: set[int] = set()
        visited = 0
        while stack and len(pages) < 10_000 and visited < 100_000:
            node = stack.pop()
            visited += 1
            if not isinstance(node, dict) or id(node) in seen_nodes:
                continue
            seen_nodes.add(id(node))
            if node.get("Type") == "Page":
                pages.append(node)
            else:
                kids = doc.resolve(node.get("Kids")) or []
                if isinstance(kids, list):
                    stack.extend(doc.resolve(k) for k in reversed(kids))
        n_ops = n_hex = n_fonts = 0
        parts: list[str] = []
        for page in pages:
            # /Contents is a Ref or an array of Refs — never resolve
            # before the Ref check (a stream object is always indirect)
            contents = page.get("Contents")
            refs = contents if isinstance(contents, list) else [contents]
            chunks = []
            for r in refs:
                if isinstance(r, Ref):
                    data = doc.get_stream(r.num)
                    if data is not None:
                        chunks.append(data)
            content = b"\n".join(chunks)
            res = doc.resolve(page.get("Resources")) or {}
            fdict = doc.resolve(res.get("Font")) or {}
            cmaps: dict = {}
            for name, fref in fdict.items():
                n_fonts += 1
                fd = doc.resolve(fref)
                cmaps[name] = None
                if isinstance(fd, dict) and isinstance(
                    fd.get("ToUnicode"), Ref
                ):
                    cdata = doc.get_stream(fd["ToUnicode"].num)
                    if cdata is not None:
                        cmaps[name] = parse_tounicode(cdata)
            ops, hexes, text = scan_content(content, cmaps)
            n_ops += ops
            n_hex += hexes
            parts.append(text)
        text = "".join(parts)
        compressed = [
            e for e in doc.xref.values() if e is not None and e[0] == "c"
        ]
        return {
            "extracted": text,
            "n_pages": len(pages),
            "n_objstm": len({e[1] for e in compressed}),
            "n_compressed_objs": len(compressed),
            "pred": max(doc.xref_predictors, default=1),
            "n_fonts": n_fonts,
            "n_text_ops": n_ops,
            "n_hex_strings": n_hex,
            "n_chars": len(text),
            "prefix_sum": sum(ord(c) for c in text),
        }
    except _PARSE_ERRORS:
        return None


# ---------------------------------------------------------------------------
# Fixture builders: deterministic modern-layout PDFs over the
# documents table (same 64-byte geometry as pdf.py so the oracles
# share the character-code recomputation).
# ---------------------------------------------------------------------------

_SEG = 8


def _content_pair(text_bytes: bytes):
    """The pdf.py two-stream geometry: stream 1 shows bytes 0..31 as
    four 8-byte Tj ops, stream 2 bytes 32..63 as one TJ array."""
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
    return tj, tjarr


def _up_filter(rows: bytes, width: int) -> bytes:
    """Forward PNG Up (predictor 12) filtering for xref-stream rows."""
    out = bytearray()
    prev = bytes(width)
    for r in range(0, len(rows), width):
        cur = rows[r:r + width]
        out.append(2)
        out += bytes((cur[i] - prev[i]) & 0xFF for i in range(width))
        prev = cur
    return bytes(out)


def build_pdf_objstm(text_bytes: bytes, predictor: bool) -> bytes:
    """One deterministic PDF 1.5 file: catalog/pages/page/font AND the
    content streams' indirect /Length integers live in a Flate object
    stream (obj 7); the content streams are Flate regular objects; the
    cross-reference stream (obj 10, W [1 3 1]) is Flate behind PNG
    predictor 12 when ``predictor`` (raw rows otherwise)."""
    tj, tjarr = _content_pair(text_bytes)
    s4, s5 = zlib.compress(tj, 6), zlib.compress(tjarr, 6)

    members = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Contents [4 0 R 5 0 R]"
            b" /Resources << /Font << /F1 6 0 R >> >> >>"),
        (6, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
        (8, b"%d" % len(s4)),
        (9, b"%d" % len(s5)),
    ]
    payload = bytearray()
    offs = []
    for num, body in members:
        offs.append(b"%d %d" % (num, len(payload)))
        payload += body + b" "
    header = b" ".join(offs) + b" "
    stm = zlib.compress(header + bytes(payload), 6)

    def stream_obj(num: int, dct: bytes, body: bytes) -> bytes:
        return (b"%d 0 obj << %s >>\nstream\n" % (num, dct)
                + body + b"\nendstream\nendobj\n")

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    off4 = len(out)
    out += stream_obj(4, b"/Length 8 0 R /Filter /FlateDecode", s4)
    off5 = len(out)
    out += stream_obj(5, b"/Length 9 0 R /Filter /FlateDecode", s5)
    off7 = len(out)
    out += stream_obj(
        7,
        b"/Type /ObjStm /N 6 /First %d /Length %d /Filter /FlateDecode"
        % (len(header), len(stm)),
        stm,
    )
    off10 = len(out)
    entries = {
        0: (0, 0, 65535),
        1: (2, 7, 0), 2: (2, 7, 1), 3: (2, 7, 2),
        4: (1, off4, 0), 5: (1, off5, 0),
        6: (2, 7, 3), 7: (1, off7, 0),
        8: (2, 7, 4), 9: (2, 7, 5),
        10: (1, off10, 0),
    }
    rows = b"".join(
        bytes([t]) + f2.to_bytes(3, "big") + bytes([f3 & 0xFF])
        for t, f2, f3 in (entries[n] for n in range(11))
    )
    width = 5
    if predictor:
        xdata = zlib.compress(_up_filter(rows, width), 6)
        parms = b" /DecodeParms << /Predictor 12 /Columns %d >>" % width
    else:
        xdata = zlib.compress(rows, 6)
        parms = b""
    out += stream_obj(
        10,
        b"/Type /XRef /Size 11 /W [1 3 1] /Root 1 0 R"
        b" /Length %d /Filter /FlateDecode%s" % (len(xdata), parms),
        xdata,
    )
    out += b"startxref\n%d\n%%%%EOF\n" % off10
    return bytes(out)


TOUNICODE_TAIL = b"=end="  # shown through the plain (no-CMap) font
TOUNICODE_TAIL_SUM = sum(TOUNICODE_TAIL)
_T_SEG = 16


def _cid_hex(chunk: bytes) -> bytes:
    """Text bytes -> hex string of 2-byte codes 0xE000+b (the private
    codespace the fixture CMap maps back to Unicode b)."""
    return b"<" + b"".join(b"E0%02X" % c for c in chunk) + b">"


def _tounicode_cmap() -> bytes:
    bfchars = b"\n".join(
        b"<E0%02X> <00%02X>" % (c, c) for c in range(0x20)
    )
    return (
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"32 beginbfchar\n" + bfchars + b"\nendbfchar\n"
        b"1 beginbfrange\n<E020> <E0FF> <0020>\nendbfrange\n"
        b"endcmap\nend\nend\n"
    )


def build_pdf_tounicode(text_bytes: bytes, flate: bool) -> bytes:
    """One deterministic classic-xref PDF whose 64 text bytes are
    shown as HEX strings of 2-byte CIDs through a Type0 font with a
    ToUnicode CMap (bfchar for codes <0x20, bfrange for the rest),
    plus a 5-byte literal tail through a plain Type1 font — so font
    tracking across ``Tf`` and CMap application are both on the hash
    path (raw CID bytes would sum to a completely different value)."""
    segs = [text_bytes[i:i + _T_SEG]
            for i in range(0, PDF_TEXT_BYTES, _T_SEG)]
    content = (
        b"BT /F1 12 Tf 72 720 Td "
        + _cid_hex(segs[0]) + b" Tj " + _cid_hex(segs[1]) + b" Tj ["
        + _cid_hex(segs[2]) + b" -120 " + _cid_hex(segs[3]) + b"] TJ "
        b"/F2 12 Tf (" + escape_string(TOUNICODE_TAIL) + b") Tj ET"
    )
    cmap = zlib.compress(_tounicode_cmap(), 6)

    def stream_obj(num: int, body: bytes, do_flate: bool,
                   extra: bytes = b"") -> bytes:
        data = zlib.compress(body, 6) if do_flate else body
        filt = b" /Filter /FlateDecode" if do_flate else b""
        return (b"%d 0 obj << /Length %d%s%s >>\nstream\n"
                % (num, len(data), filt, extra)
                + data + b"\nendstream\nendobj\n")

    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Contents 4 0 R /Resources << /Font"
        b" << /F1 5 0 R /F2 7 0 R >> >> >> endobj\n",
        stream_obj(4, content, flate),
        b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Synth"
        b" /Encoding /Identity-H /DescendantFonts [8 0 R]"
        b" /ToUnicode 6 0 R >> endobj\n",
        b"6 0 obj << /Length %d /Filter /FlateDecode"
        b" /Type /CMap >>\nstream\n" % len(cmap)
        + cmap + b"\nendstream\nendobj\n",
        b"7 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" >> endobj\n",
        b"8 0 obj << /Type /Font /Subtype /CIDFontType2 /BaseFont /Synth"
        b" >> endobj\n",
    ]
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
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


# -- filter-matrix fixture (encoder twins, written from the specs) ---------


def _lzw_encode(data: bytes, early_change: int = 1) -> bytes:
    """MSB-first LZW encoder (fixture twin, written from TIFF 6.0 §13
    / ISO 32000-1 §7.4.4): ClearCode leads, EOD trails. Width bumps
    track the DECODER's table — which grows one code later than the
    writer's, on every non-first data code INCLUDING the final flush —
    so a boundary crossed exactly at the flush still emits EOD at the
    width the decoder will read it with."""
    CLEAR, EOD = 256, 257
    out_bits: list[tuple[int, int]] = []
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    dec_len = 258  # decoder table size after reading the last code
    emitted = 0  # data codes since the last ClearCode

    def emit_data(code: int):
        nonlocal width, dec_len, emitted
        out_bits.append((code, width))
        emitted += 1
        if emitted >= 2:
            dec_len += 1  # decoder appends on every non-first code
        # mirror the decoder's post-append width check exactly
        if dec_len + early_change >= (1 << width) and width < 12:
            width += 1

    def emit_clear():
        nonlocal table, next_code, width, dec_len, emitted
        out_bits.append((CLEAR, width))
        table = {bytes([i]): i for i in range(256)}
        next_code = 258
        width = 9
        dec_len = 258
        emitted = 0

    emit_clear()
    cur = b""
    for byte in data:
        nxt = cur + bytes([byte])
        if nxt in table:
            cur = nxt
            continue
        emit_data(table[cur])
        table[nxt] = next_code
        next_code += 1
        if next_code == 4094:
            emit_clear()
        cur = bytes([byte])
    if cur:
        emit_data(table[cur])
    out_bits.append((EOD, width))
    acc = n = 0
    out = bytearray()
    for code, w in out_bits:
        acc = (acc << w) | code
        n += w
        while n >= 8:
            out.append((acc >> (n - 8)) & 0xFF)
            n -= 8
    if n:
        out.append((acc << (8 - n)) & 0xFF)
    return bytes(out)


def _asciihex_encode(data: bytes) -> bytes:
    import binascii

    return binascii.hexlify(data).upper() + b">"


def _ascii85_encode(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 4):
        quad = data[i:i + 4]
        k = len(quad)
        val = int.from_bytes(quad + b"\x00" * (4 - k), "big")
        if val == 0 and k == 4:
            out += b"z"  # the zero-group shortcut, §7.4.3
            continue
        digits = bytearray(5)
        for j in range(4, -1, -1):
            digits[j] = 0x21 + val % 85
            val //= 85
        out += digits[: k + 1]
    return bytes(out) + b"~>"


def _runlength_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out.append(257 - run)
            out.append(data[i])
            i += run
            continue
        j = i + 1  # literal stretch up to the next >=3 run or 128 bytes
        while (j < n and j - i < 128
               and not (j + 2 < n and data[j] == data[j + 1] == data[j + 2])):
            j += 1
        out.append(j - i - 1)
        out += data[i:j]
        i = j
    out.append(128)  # EOD
    return bytes(out)


FILTER_VARIANTS = 7
_PRED2_COLS = 64


def build_pdf_filters(text_bytes: bytes, variant: int) -> bytes:
    """One deterministic classic-xref PDF whose single content stream
    carries the pdf.py two-block geometry (4 Tj + one 4-string TJ)
    behind the ``variant % 7``-th stream-filter encoding: LZW
    (EarlyChange default), LZW with ``/EarlyChange 0``, ASCIIHex,
    ASCII85 (incl. the ``z`` zero-group), RunLength, the chained
    ``[/ASCII85Decode /LZWDecode]`` with a deliberately SHORT
    ``/DecodeParms [null]`` list (spec-legal; must pad, not truncate
    the chain), and LZW behind TIFF ``/Predictor 2`` (horizontal
    differencing — the classic scanned-TIFF-in-PDF layout)."""
    tj, tjarr = _content_pair(text_bytes)
    content = tj + b"\n" + tjarr
    v = variant % FILTER_VARIANTS
    if v == 0:
        data, filt = _lzw_encode(content, 1), b"/Filter /LZWDecode"
    elif v == 1:
        data = _lzw_encode(content, 0)
        filt = b"/Filter /LZWDecode /DecodeParms << /EarlyChange 0 >>"
    elif v == 2:
        data, filt = _asciihex_encode(content), b"/Filter /ASCIIHexDecode"
    elif v == 3:
        data, filt = _ascii85_encode(content), b"/Filter /ASCII85Decode"
    elif v == 4:
        data, filt = _runlength_encode(content), b"/Filter /RunLengthDecode"
    elif v == 5:
        data = _ascii85_encode(_lzw_encode(content, 1))
        filt = b"/Filter [/ASCII85Decode /LZWDecode] /DecodeParms [null]"
    else:
        # pad to whole predictor rows with PDF-harmless spaces, then
        # difference each row (the encode twin of _apply_predictor's
        # pred-2 branch) before LZW
        content += b" " * ((-len(content)) % _PRED2_COLS)
        diffed = bytearray()
        for r in range(0, len(content), _PRED2_COLS):
            prev = 0
            for byte in content[r:r + _PRED2_COLS]:
                diffed.append((byte - prev) & 0xFF)
                prev = byte
        data = _lzw_encode(bytes(diffed), 1)
        filt = (b"/Filter /LZWDecode /DecodeParms"
                b" << /Predictor 2 /Columns %d >>" % _PRED2_COLS)
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"
        b" endobj\n",
        b"4 0 obj << /Length %d %s >>\nstream\n" % (len(data), filt)
        + data + b"\nendstream\nendobj\n",
        b"5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" >> endobj\n",
    ]
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
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


# ---------------------------------------------------------------------------
# DataFrame wiring (pdf.py shapes: encode row stage -> extract row
# stage, everything before the Python stage JVM-side)
# ---------------------------------------------------------------------------

def pdf_objstm_payloads(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, payload): a PDF 1.5 object-stream-layout file per row —
    even ids put the xref stream behind PNG predictor 12, odd ids
    leave its rows raw (both decode paths on the hash path)."""
    return prefix_payloads(
        df, id_col, text_col, PDF_TEXT_BYTES,
        lambda i, raw: build_pdf_objstm(raw, i % 2 == 0),
    )


def pdf_tounicode_payloads(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, payload): a hex-string + ToUnicode-CMap PDF per row — even
    ids Flate the content stream, odd ids leave it raw."""
    return prefix_payloads(
        df, id_col, text_col, PDF_TEXT_BYTES,
        lambda i, raw: build_pdf_tounicode(raw, i % 2 == 0),
    )


def pdf_filters_payloads(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, payload): a classic-xref PDF per row whose content stream
    is encoded through the ``id % FILTER_VARIANTS`` (= 7)-th entry of
    the stream-filter
    matrix (see ``build_pdf_filters``) — every non-Flate filter
    ``decode_stream`` supports is on the hash path across the
    corpus."""
    return prefix_payloads(
        df, id_col, text_col, PDF_TEXT_BYTES,
        lambda i, raw: build_pdf_filters(raw, i))


OBJSTM_SCHEMA = (
    "id bigint, n_pages int, n_objstm int, n_compressed_objs int,"
    " pred int, n_text_ops int, n_chars bigint, prefix_sum bigint"
)
TOUNICODE_SCHEMA = (
    "id bigint, n_fonts int, n_text_ops int, n_hex_strings int,"
    " n_chars bigint, prefix_sum bigint"
)


def _extractor(keys: list[str], schema: str):
    def extract(i, payload):
        facts = extract_facts(payload)
        if facts is not None:
            yield (i, *(facts[k] for k in keys))

    def run(payloads: DataFrame) -> DataFrame:
        return flat_map_rows(payloads.select("id", "payload"), extract,
                             schema)
    return run


extract_pdf_objstm = _extractor(
    ["n_pages", "n_objstm", "n_compressed_objs", "pred",
     "n_text_ops", "n_chars", "prefix_sum"],
    OBJSTM_SCHEMA,
)
extract_pdf_tounicode = _extractor(
    ["n_fonts", "n_text_ops", "n_hex_strings", "n_chars", "prefix_sum"],
    TOUNICODE_SCHEMA,
)

# the extracted STRING itself (the html/wikitext discipline): exact
# content equality through the object-model path catches reorderings
# and substitutions that byte sums cannot
extract_pdf_strings = _extractor(
    ["extracted"], "id bigint, extracted string"
)

FACTS_SCHEMA = (
    "id bigint, n_pages int, n_objstm int, n_compressed_objs int,"
    " pred int, n_fonts int, n_text_ops int, n_hex_strings int,"
    " n_chars bigint, prefix_sum bigint"
)
# every fact the object-model walk produces (the CLI surface; the two
# query extractors above select the subsets their oracles pin)
extract_pdf_facts = _extractor(
    ["n_pages", "n_objstm", "n_compressed_objs", "pred", "n_fonts",
     "n_text_ops", "n_hex_strings", "n_chars", "prefix_sum"],
    FACTS_SCHEMA,
)
