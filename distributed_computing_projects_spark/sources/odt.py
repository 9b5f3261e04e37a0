"""ODT (OpenDocument Text) extraction — the third ZIP-of-XML office
format after DOCX/EPUB, from the public OASIS OpenDocument spec
(ISO/IEC 26300): LibreOffice/OpenOffice's native format, what
European government portals and public-sector document dumps ship
alongside PDF.

Same composition as ``sources/docx.py``: the engine's ZIP walk +
a namespace-aware expat parse, here of ``content.xml``. ODT-specific
extraction semantics (OpenDocument part 1 §6.1):

- paragraphs are ``text:p`` AND headings ``text:h`` (both are
  paragraph-level text containers), joined with ``\\n``;
- whitespace is ENCODED, not literal: runs of spaces collapse in XML,
  so the format writes ``text:s text:c="N"`` for N spaces (default
  1), ``text:tab`` for tabs, ``text:line-break`` for newlines — the
  extractor must expand all three or real documents lose exact
  spacing;
- ``office:annotation`` (comments) and other non-content subtrees
  contribute nothing; styles.xml/meta.xml members are ignored;
- drop policy: not-a-zip / no parseable ``content.xml`` drops the
  ROW; torn XML keeps completed paragraphs (the wikidump rule).

Reference parity note: extension surface (the reference reads plain
text/CSV only, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

from xml.sax.saxutils import escape

from pyspark.sql import DataFrame

from distributed_computing_projects_spark.operators.spread import (
    encode_payloads, extract_values)
from distributed_computing_projects_spark.sources.ziparchive import (
    build_zip,
    iter_zip_members,
)

_NS_TEXT = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
_NS_OFFICE = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"

_MANIFEST = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    '<manifest:manifest xmlns:manifest="urn:oasis:names:tc:'
    'opendocument:xmlns:manifest:1.0" manifest:version="1.2">'
    '<manifest:file-entry manifest:full-path="/" manifest:media-type='
    '"application/vnd.oasis.opendocument.text"/>'
    '<manifest:file-entry manifest:full-path="content.xml" '
    'manifest:media-type="text/xml"/>'
    "</manifest:manifest>"
)

_STYLES = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    f'<office:document-styles xmlns:office="{_NS_OFFICE}">'
    "</office:document-styles>"
)

RUN_CHARS = 19  # builder: span splitting, offset from docx's 17


def _encode_ws(piece: str) -> str:
    """OpenDocument whitespace encoding for one literal text piece:
    tabs/newlines become elements; the SECOND and later spaces of
    every run become ``text:s`` (the format's collapse rule)."""
    out = []
    i = 0
    while i < len(piece):
        ch = piece[i]
        if ch == "\t":
            out.append("<text:tab/>")
            i += 1
        elif ch == "\n":
            out.append("<text:line-break/>")
            i += 1
        elif ch == " ":
            j = i
            while j < len(piece) and piece[j] == " ":
                j += 1
            run = j - i
            out.append(" ")
            if run == 2:
                out.append("<text:s/>")
            elif run > 2:
                out.append(f'<text:s text:c="{run - 1}"/>')
            i = j
        else:
            j = i
            while j < len(piece) and piece[j] not in " \t\n":
                j += 1
            out.append(escape(piece[i:j]))
            i = j
    return "".join(out)


def _para_xml(kind: str, paragraph: str) -> str:
    chunks = [paragraph[i:i + RUN_CHARS]
              for i in range(0, len(paragraph), RUN_CHARS)] or [""]
    spans = []
    for j, chunk in enumerate(chunks):
        body = _encode_ws(chunk)
        if j % 2:  # alternate spans carry a style the extractor skips
            body = f'<text:span text:style-name="T1">{body}</text:span>'
        spans.append(body)
    attrs = ' text:outline-level="1"' if kind == "h" else ""
    return f"<text:{kind}{attrs}>{''.join(spans)}</text:{kind}>"


def build_odt(paragraphs: list[str]) -> bytes:
    """One deterministic minimal-but-real ``.odt`` — the fixture twin
    of :func:`extract_odt_text`. Every third paragraph is a
    ``text:h`` heading; an ``office:annotation`` decoy rides in the
    first paragraph and must not leak."""
    paras = []
    for i, p in enumerate(paragraphs):
        kind = "h" if i % 3 == 2 else "p"
        xml = _para_xml(kind, p)
        if i == 0:
            note = ("<office:annotation><text:p>DECOY comment text"
                    "</text:p></office:annotation>")
            xml = xml.replace(">", ">" + note, 1)
        paras.append(xml)
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<office:document-content xmlns:office="{_NS_OFFICE}" '
        f'xmlns:text="{_NS_TEXT}">'
        f"<office:body><office:text>{''.join(paras)}</office:text>"
        "</office:body></office:document-content>"
    )
    import zipfile as _zf

    return build_zip([
        ("mimetype", b"application/vnd.oasis.opendocument.text"),
        ("META-INF/manifest.xml", _MANIFEST.encode("utf-8")),
        ("styles.xml", _STYLES.encode("utf-8")),
        ("content.xml", content.encode("utf-8")),
    ], compression=_zf.ZIP_DEFLATED)


def parse_content_xml(xml_bytes: bytes):
    """Paragraph texts from an ODT ``content.xml``, or ``None`` when
    no completed paragraph parses. Whitespace elements expand
    (``text:s``/``text:tab``/``text:line-break``); annotation
    subtrees are invisible; paragraphs completed before a torn tail
    survive."""
    from xml.parsers import expat

    paras: list[str] = []
    cur: list[str] | None = None
    in_annotation = 0

    def split(name):
        ns, _, local = name.rpartition(" ")
        return ns, local

    def start(name, attrs):
        nonlocal cur, in_annotation
        ns, local = split(name)
        if ns == _NS_OFFICE and local == "annotation":
            in_annotation += 1
            return
        if in_annotation or ns != _NS_TEXT:
            return
        if local in ("p", "h") and cur is None:
            cur = []
        elif cur is not None and local == "tab":
            cur.append("\t")
        elif cur is not None and local == "line-break":
            cur.append("\n")
        elif cur is not None and local == "s":
            count = attrs.get(f"{_NS_TEXT} c", "1")
            try:
                n = max(0, int(count))
            except ValueError:
                n = 1
            cur.append(" " * n)

    def end(name):
        nonlocal cur, in_annotation
        ns, local = split(name)
        if ns == _NS_OFFICE and local == "annotation":
            if in_annotation:
                in_annotation -= 1
            return
        if in_annotation:
            return  # a text:p INSIDE the annotation must not close
            # the document paragraph it rides in
        if ns == _NS_TEXT and local in ("p", "h") and cur is not None:
            paras.append("".join(cur))
            cur = None

    def chars(data):
        if cur is not None and not in_annotation:
            cur.append(data)

    p = expat.ParserCreate(namespace_separator=" ")
    p.StartElementHandler = start
    p.EndElementHandler = end
    p.CharacterDataHandler = chars
    p.buffer_text = True
    try:
        p.Parse(xml_bytes, True)
    except expat.ExpatError:
        pass  # torn tail: completed paragraphs survive
    return paras if paras else None


def extract_odt_text(data: bytes):
    """Plain text from one ``.odt`` byte string, or ``None`` — the
    row drop — when the archive has no extractable ``content.xml``."""
    for name, body in iter_zip_members(data):
        if name == "content.xml":
            paras = parse_content_xml(body)
            return "\n".join(paras) if paras is not None else None
    return None


# ------------------------------------------------------- Spark stages


def odt_payloads(df: DataFrame, id_col: str, text_col: str,
                 para_chars: int = 72) -> DataFrame:
    """(id, payload): a deterministic ``.odt`` per row, paragraphs =
    ``para_chars``-sized chunks of the doc text (heading every third
    paragraph, annotation decoy in the first, spans split at
    RUN_CHARS with alternating styles)."""

    def encode(i, text):
        return build_odt([text[k:k + para_chars]
                          for k in range(0, len(text), para_chars)])

    return encode_payloads(df, encode, id_col, text_col)


def extract_odt(payloads: DataFrame) -> DataFrame:
    """(id, extracted) over an (id, payload) DataFrame; rows whose
    payload yields no text drop (the record-granular policy)."""
    return extract_values(payloads.select("id", "payload"),
                          extract_odt_text, "id bigint, extracted string")


def read_odt(spark, path: str) -> DataFrame:
    """(path, extracted) over ``.odt`` files on disk."""
    return extract_values(
        spark.read.format("binaryFile").load(path)
        .select("path", "content"),
        extract_odt_text, "path string, extracted string")
