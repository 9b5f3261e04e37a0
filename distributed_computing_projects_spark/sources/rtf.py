"""RTF text extraction — pure stdlib, from the public RTF 1.9.1
specification (control words, groups, destinations, the \\uN Unicode
+ \\ucN fallback protocol, code-page \\'hh escapes, \\binN raw data).

Why: RTF is the remaining legacy office text format in public
document dumps (court filings, government archives, pre-OOXML
exports ship .rtf constantly); unlike the zip-of-XML tier it is a
single token stream, so this is a control-word parser, not an
expat composition.

Extraction semantics (a text pipeline, not a renderer):

- plain characters accumulate into the current paragraph; ``\\par``
  (and ``\\sect``/``\\page``) end a paragraph, ``\\line`` contributes
  ``\\n`` within one, ``\\tab`` contributes ``\\t``;
- formatting control words (``\\b``, ``\\i``, ``\\fs24``, ...) are
  transparent — unknown control words are IGNORED per spec, never
  leak into text;
- DESTINATION groups contribute nothing: ``fonttbl``, ``colortbl``,
  ``stylesheet``, ``info``, ``pict``, ``object``, headers/footers,
  footnotes, and ``\\fldinst`` (the field INSTRUCTION — its
  ``\\fldrslt`` sibling is the displayed text and passes through);
  every ``{\\*\\...}`` group is an ignorable destination unless the
  control word is known to carry text (spec rule: readers skip
  ``\\*`` destinations they do not understand);
- ``\\'hh`` decodes through the declared code page (``\\ansicpgN``,
  default cp1252); ``\\uN`` emits the Unicode scalar (negative N
  wraps per the signed-16-bit convention) and skips the current
  ``\\uc`` count of fallback characters (a ``\\'hh`` counts as ONE
  fallback char, per spec);
- ``\\binN`` skips exactly N raw bytes (they are NOT text and may
  contain braces).

Drop policy: a payload without the ``{\\rtf`` magic drops the ROW;
a truncated token stream keeps completed paragraphs plus the final
partial one (token streams tear mid-text, the POSIX-tail analogue of
the wikidump torn-XML rule); runaway group nesting and an output
bomb bound stop the walk keeping what was extracted.

Reference parity note: extension surface (the reference reads plain
text/CSV only, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from distributed_computing_projects_spark.operators.spread import (
    encode_payloads, extract_values)

MAX_TEXT_CHARS = 1 << 26  # output bomb bound
_MAX_DEPTH = 128          # group nesting bound

# destinations whose content is never document text
_SKIP_DESTS = {
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "header", "footer", "headerl", "headerr", "headerf",
    "footerl", "footerr", "footerf", "footnote", "annotation",
    "fldinst", "xe", "tc", "bkmkstart", "bkmkend", "themedata",
    "colorschememapping", "datastore", "latentstyles",
}
# \* destinations that DO carry document text (pass through)
_KEEP_STAR = {"fldrslt"}


def _is_alpha(b: int) -> bool:
    return 0x61 <= b <= 0x7A or 0x41 <= b <= 0x5A


def _is_digit(b: int) -> bool:
    return 0x30 <= b <= 0x39


def extract_rtf_text(data: bytes):
    """Plain text from one ``.rtf`` byte string (module docstring
    semantics), or ``None`` — the row drop — when the payload lacks
    the RTF magic or yields no text."""
    if not data.startswith(b"{\\rtf"):
        return None
    paras: list[str] = []
    cur: list[str] = []
    n_chars = 0
    # group state: (skipping, uc); the stack restores on '}'
    skipping = False
    uc = 1
    stack: list[tuple[bool, int]] = []
    codepage = "cp1252"
    pending_star = False
    skip_fallback = 0  # chars to swallow after \uN
    pos = 0
    end = len(data)

    def flush():
        nonlocal cur
        text = "".join(cur)
        paras.append(text)
        cur = []

    def emit(s: str):
        nonlocal n_chars, skip_fallback
        if skipping or not s:
            return
        if skip_fallback:
            skip_fallback -= 1  # one visible char of \uN fallback
            return
        cur.append(s)
        n_chars += len(s)

    while pos < end:
        b = data[pos]
        if b == 0x7B:  # {
            if len(stack) >= _MAX_DEPTH:
                break  # hostile nesting: keep what was extracted
            stack.append((skipping, uc))
            pos += 1
            # a fresh group inherits state; \* or a destination word
            # immediately after may flip it to skipping
            if pos < end and data[pos] == 0x5C and pos + 1 < end \
                    and data[pos + 1] == 0x2A:  # \*
                pending_star = True
                pos += 2
            continue
        if b == 0x7D:  # }
            if stack:
                skipping, uc = stack.pop()
            else:
                break  # more closers than openers: stream over
            pos += 1
            continue
        if b == 0x5C:  # backslash
            if pos + 1 >= end:
                break
            c = data[pos + 1]
            if not _is_alpha(c):
                # control SYMBOL: one non-letter char
                pos += 2
                if c in (0x5C, 0x7B, 0x7D):  # \\ \{ \}
                    emit(chr(c))
                elif c == 0x27:  # \'hh — ONE char (incl. as fallback)
                    hexs = data[pos:pos + 2]
                    pos += len(hexs)
                    try:
                        raw = bytes([int(hexs, 16)])
                    except ValueError:
                        continue  # malformed escape: char drops
                    try:
                        emit(raw.decode(codepage))
                    except (UnicodeDecodeError, LookupError):
                        emit(raw.decode("latin-1"))
                elif c == 0x7E:  # \~ non-breaking space
                    emit("\u00a0")
                elif c == 0x2D:  # \- optional hyphen: invisible
                    pass
                elif c == 0x5F:  # \_ non-breaking hyphen
                    emit("\u2011")
                # \* handled at group open; stray one is a no-op
                continue
            # control WORD: letters + optional signed number + space
            w_start = pos + 1
            p = w_start
            while p < end and _is_alpha(data[p]):
                p += 1
            word = data[w_start:p].decode("ascii")
            num = None
            if p < end and (data[p] == 0x2D or _is_digit(data[p])):
                n_start = p
                p += 1 if data[p] == 0x2D else 0
                while p < end and _is_digit(data[p]):
                    p += 1
                try:
                    num = int(data[n_start:p])
                except ValueError:
                    num = None
            if p < end and data[p] == 0x20:
                p += 1  # the delimiter space is part of the token
            pos = p
            star = pending_star
            pending_star = False
            if word == "bin":
                pos += max(0, num or 0)  # raw bytes: never text
                continue
            if skipping:
                continue
            if word in _SKIP_DESTS or (star and word not in _KEEP_STAR):
                skipping = True  # until this group's '}'
                continue
            if word == "uc":
                uc = max(0, num if num is not None else 1)
            elif word == "ansicpg" and num:
                codepage = f"cp{num}"
            elif word == "u" and num is not None:
                if skip_fallback:
                    skip_fallback -= 1  # a \uN can itself be fallback
                else:
                    cp = num + 65536 if num < 0 else num
                    emit(chr(cp) if 0 <= cp < 0x110000 else "\ufffd")
                    skip_fallback = uc
            elif word == "par" or word == "sect" or word == "page":
                skip_fallback = 0
                flush()
            elif word == "line":
                emit("\n")
            elif word == "tab":
                emit("\t")
            elif word == "emdash":
                emit("\u2014")
            elif word == "endash":
                emit("\u2013")
            # every other control word is formatting: transparent
            continue
        # plain text run up to the next delimiter
        stop = pos
        while stop < end and data[stop] not in (0x5C, 0x7B, 0x7D):
            stop += 1
        run = data[pos:stop]
        pos = stop
        if skipping:
            continue
        # CR/LF in the token stream are NOT text (the spec: writers
        # may wrap lines anywhere)
        text = run.replace(b"\r", b"").replace(b"\n", b"")
        if skip_fallback:
            take = min(skip_fallback, len(text))
            skip_fallback -= take
            text = text[take:]
        if text:
            try:
                s = text.decode(codepage)
            except (UnicodeDecodeError, LookupError):
                s = text.decode("latin-1")
            cur.append(s)
            n_chars += len(s)
        if n_chars > MAX_TEXT_CHARS:
            break  # output bomb: keep the bounded prefix
    if cur:
        flush()  # torn tail: the partial final paragraph survives
    while paras and paras[-1] == "":
        paras.pop()  # the final \par leaves an empty trailing para
    text = "\n".join(paras)
    return text if text else None


# -------------------------------------------------------- builder


def _escape_rtf(text: str) -> str:
    out = []
    for ch in text:
        o = ord(ch)
        if ch in "\\{}":
            out.append("\\" + ch)
        elif ch == "\n":
            out.append("\\line ")
        elif ch == "\t":
            out.append("\\tab ")
        elif o < 128:
            out.append(ch)
        else:
            try:
                # cp1252-range chars take the \'hh path, the rest \uN
                # with a one-char '?' fallback — BOTH escape forms on
                # the hash path whenever the corpus carries them
                enc = ch.encode("cp1252")
                out.append(f"\\'{enc[0]:02x}")
            except UnicodeEncodeError:
                u = o if o < 32768 else o - 65536
                out.append(f"\\u{u}?")
    return "".join(out)


RUN_CHARS = 23  # builder: split paragraph text into runs of this many


def build_rtf(paragraphs: list[str]) -> bytes:
    """One deterministic ``.rtf`` from paragraph strings — the
    fixture twin of :func:`extract_rtf_text`: fonttbl/colortbl/
    stylesheet decoys, a ``\\*\\generator`` ignorable destination, a
    ``\\pict`` group with hex payload, a field whose INSTRUCTION must
    not leak while its result does, runs split every RUN_CHARS with
    alternating ``\\b`` formatting."""
    body = []
    for k, para in enumerate(paragraphs):
        chunks = [para[i:i + RUN_CHARS]
                  for i in range(0, len(para), RUN_CHARS)] or [""]
        run_parts = []
        for j, chunk in enumerate(chunks):
            esc = _escape_rtf(chunk)
            run_parts.append(
                f"{{\\b {esc}}}" if j % 2 else f"{{\\plain {esc}}}")
        body.append("".join(run_parts) + "\\par\n")
    doc = (
        "{\\rtf1\\ansi\\ansicpg1252\\deff0\\uc1\n"
        "{\\fonttbl{\\f0\\froman Times New Roman;}"
        "{\\f1\\fswiss DECOY FONT NAME;}}\n"
        "{\\colortbl ;\\red255\\green0\\blue0;}\n"
        "{\\stylesheet{\\s0 Normal;}{\\s1 DECOY STYLE;}}\n"
        "{\\info{\\title DECOY TITLE}{\\author DECOY AUTHOR}}\n"
        "{\\*\\generator dcp-spark-engine 15;}\n"
        "{\\pict\\wmetafile8\\picw100\\pich100 "
        "0123456789abcdef0123456789abcdef}\n"
        "{\\field{\\*\\fldinst HYPERLINK \"http://decoy.example\"}"
        "{\\fldrslt }}\n"
        + "".join(body)
        + "}"
    )
    return doc.encode("ascii")


# ------------------------------------------------------- Spark stages


def rtf_payloads(df: DataFrame, id_col: str, text_col: str,
                 para_chars: int = 76) -> DataFrame:
    """(id, payload): a deterministic ``.rtf`` per row whose
    paragraphs are the doc text chunked every ``para_chars``
    characters (the docx_payloads shape)."""

    def encode(i, text):
        return build_rtf([text[k:k + para_chars]
                          for k in range(0, len(text), para_chars)])

    return encode_payloads(df, encode, id_col, text_col)


def read_rtf(spark, path: str) -> DataFrame:
    """(path, extracted) over ``.rtf`` files on disk: binaryFile
    scan (per-file parallelism), the control-word walk in Arrow
    batches, rows without extractable text dropped."""
    return extract_values(
        spark.read.format("binaryFile").load(path)
        .select("path", "content"),
        extract_rtf_text, "path string, extracted string")


def extract_rtf(payloads: DataFrame) -> DataFrame:
    """(id, extracted) over an (id, payload) DataFrame; rows whose
    payload yields no text drop (the record-granular policy)."""
    return extract_values(payloads.select("id", "payload"),
                          extract_rtf_text, "id bigint, extracted string")
