"""DOCX text extraction — pure stdlib, composing the engine's own ZIP
walk (``sources/ziparchive.py``) with an expat parse of
``word/document.xml`` (the ``sources/wikidump.py`` push-parser
pattern), from the public ECMA-376 WordprocessingML structure.

Why: real document dumps (government/open-data portals, court-filing
corpora, enterprise exports) ship ``.docx`` constantly, and Spark has
no route into it — docx is a ZIP of XML parts, not a file format any
datasource reads. The engine already owns both layers; this module is
the composition.

Extraction semantics (what a text pipeline needs, not a renderer):

- paragraphs (``w:p``, anywhere — body or table cells) join with
  ``\\n``; within a paragraph, run text (``w:t``) concatenates in
  document order, ``w:tab`` contributes ``\\t``, ``w:br``/``w:cr``
  contribute ``\\n``;
- NON-text parts (styles.xml, comments.xml, headers, media) are
  ignored — only ``word/document.xml`` is the text of record;
- run properties (bold/italic ``w:rPr``), paragraph properties, and
  any other markup contribute nothing;
- both ECMA-376 namespaces are honored (transitional and strict) via
  namespace-aware parsing, so an unusual prefix cannot hide text;
- drop policy (the repo's member discipline): an archive that is not
  a zip, lacks a parseable ``word/document.xml``, or tears inside it
  drops the ROW (``None``); a zip torn AFTER document.xml still
  extracts via the ziparchive local-header fallback.

Scale shape: the walk + parse run per-document inside the Arrow row
stage — file-parallel, bounded by the ziparchive member
guards (encrypted/bomb/oversize members never materialize).

Reference parity note: the reference reads plain text/CSV only
(mp3/src/maple/mapler.go:41-43); this is LLM-ingest extension surface
(SURVEY.md §2 extensions).
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

# ECMA-376 WordprocessingML main namespaces: transitional (what Word
# writes) and strict (ISO 29500 §8.1) — text must extract under either
_WML_NS = (
    "http://schemas.openxmlformats.org/wordprocessingml/2006/main",
    "http://purl.oclc.org/ooxml/wordprocessingml/main",
)

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.wordprocessingml.document.main'
    '+xml"/>'
    "</Types>"
)

_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
    '2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="word/document.xml"/>'
    "</Relationships>"
)

_STYLES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<w:styles xmlns:w="{_WML_NS[0]}"><w:style w:type="paragraph" '
    'w:styleId="Normal"><w:name w:val="Normal"/></w:style></w:styles>'
)

RUN_CHARS = 17  # builder: split paragraph text into runs of this many


def _runs_xml(paragraph: str) -> str:
    """WordprocessingML runs for one paragraph's text: split into
    RUN_CHARS-sized runs (alternate runs carry a bold ``w:rPr`` the
    extractor must skip); ``\\t`` becomes ``<w:tab/>`` and ``\\n``
    becomes ``<w:br/>`` so the builder/extractor pair round-trips any
    whitespace the corpus carries."""
    out = []
    chunks = [paragraph[i:i + RUN_CHARS]
              for i in range(0, len(paragraph), RUN_CHARS)] or [""]
    for j, chunk in enumerate(chunks):
        rpr = "<w:rPr><w:b/></w:rPr>" if j % 2 else ""
        body = []
        for piece in chunk.replace("\t", "\x00\t\x00").replace(
                "\n", "\x00\n\x00").split("\x00"):
            if piece == "\t":
                body.append("<w:tab/>")
            elif piece == "\n":
                body.append("<w:br/>")
            elif piece:
                body.append(
                    f'<w:t xml:space="preserve">{escape(piece)}</w:t>')
        out.append(f"<w:r>{rpr}{''.join(body)}</w:r>")
    return "".join(out)


def build_docx(paragraphs: list[str]) -> bytes:
    """One deterministic minimal-but-real ``.docx`` from paragraph
    strings — the fixture twin of :func:`extract_docx_text` (ECMA-376
    part layout: content types + package rels + document.xml, plus a
    styles.xml decoy the extractor must ignore)."""
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_WML_NS[0]}"><w:body>'
        + "".join(f"<w:p><w:pPr><w:pStyle w:val=\"Normal\"/></w:pPr>"
                  f"{_runs_xml(p)}</w:p>" for p in paragraphs)
        + "<w:sectPr/></w:body></w:document>"
    )
    return build_zip([
        ("[Content_Types].xml", _CONTENT_TYPES.encode("utf-8")),
        ("_rels/.rels", _RELS.encode("utf-8")),
        ("word/styles.xml", _STYLES.encode("utf-8")),
        ("word/document.xml", doc.encode("utf-8")),
    ])


def parse_document_xml(xml_bytes: bytes):
    """Paragraph texts from a ``word/document.xml`` byte string, or
    ``None`` when the XML yields no completed paragraph at all.
    Namespace-aware (both ECMA-376 main namespaces); paragraphs
    completed before a parse error (torn member tail) are kept — the
    wikidump torn-XML rule."""
    from xml.parsers import expat

    paras: list[str] = []
    cur: list[str] | None = None
    depth_in_p = 0  # w:p nests inside table cells; only depth 0->1 opens
    in_t = 0

    def split(name):
        ns, _, local = name.rpartition(" ")
        return ns, local

    def start(name, attrs):
        nonlocal cur, depth_in_p, in_t
        ns, local = split(name)
        if ns not in _WML_NS:
            return
        if local == "p":
            if cur is None:
                cur = []
            depth_in_p += 1
        elif local == "t":
            in_t += 1
        elif cur is not None and local == "tab":
            cur.append("\t")
        elif cur is not None and local in ("br", "cr"):
            cur.append("\n")

    def end(name):
        nonlocal cur, depth_in_p, in_t
        ns, local = split(name)
        if ns not in _WML_NS:
            return
        if local == "t" and in_t:
            in_t -= 1
        elif local == "p" and depth_in_p:
            depth_in_p -= 1
            if depth_in_p == 0 and cur is not None:
                paras.append("".join(cur))
                cur = None
            elif cur is not None:
                # nested w:p (textbox w:txbxContent) closing: keep the
                # inner paragraph boundary as a newline inside the host
                # paragraph instead of silently concatenating the runs
                cur.append("\n")

    def chars(data):
        if in_t and cur is not None:
            cur.append(data)

    p = expat.ParserCreate(namespace_separator=" ")
    p.StartElementHandler = start
    p.EndElementHandler = end
    p.CharacterDataHandler = chars
    p.buffer_text = True
    try:
        p.Parse(xml_bytes, True)
    except expat.ExpatError:
        pass  # torn tail: paragraphs completed before it survive
    return paras if paras else None


def extract_docx_text(data: bytes):
    """Plain text from one ``.docx`` byte string (module docstring
    semantics), or ``None`` — the row drop — when the archive has no
    extractable ``word/document.xml``."""
    for name, body in iter_zip_members(data):
        if name == "word/document.xml":
            paras = parse_document_xml(body)
            return "\n".join(paras) if paras is not None else None
    return None


# ------------------------------------------------------- Spark stages


def docx_payloads(df: DataFrame, id_col: str, text_col: str,
                  para_chars: int = 64) -> DataFrame:
    """(id, payload): a deterministic ``.docx`` per row whose
    paragraphs are the doc text chunked every ``para_chars``
    characters — multi-paragraph, multi-run (RUN_CHARS), alternating
    bold, with a styles.xml decoy part in every archive."""

    def encode(i, text):
        return build_docx([text[k:k + para_chars]
                           for k in range(0, len(text), para_chars)])

    return encode_payloads(df, encode, id_col, text_col)


def read_docx(spark, path: str) -> DataFrame:
    """(path, extracted) over ``.docx`` files on disk: binaryFile
    scan (per-file parallelism), the extraction walk in Arrow
    batches, rows without extractable text dropped."""
    return extract_values(
        spark.read.format("binaryFile").load(path)
        .select("path", "content"),
        extract_docx_text, "path string, extracted string")


def extract_docx(payloads: DataFrame) -> DataFrame:
    """(id, extracted) over an (id, payload) DataFrame; rows whose
    payload yields no text drop (the record-granular policy)."""
    return extract_values(payloads.select("id", "payload"),
                          extract_docx_text, "id bigint, extracted string")
