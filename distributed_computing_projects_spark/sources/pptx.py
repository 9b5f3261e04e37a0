"""PPTX text extraction — pure stdlib, the fifth ZIP-of-XML office
format (after docx/odt/xlsx/epub): the engine's ZIP walk
(``sources/ziparchive.py``) plus expat parses of the PresentationML
package chain, from the public ECMA-376 specs.

Why: slide-deck dumps are common in enterprise and conference corpora
and Spark has no route into them. The text of record is NOT the zip
member order but the ``p:sldIdLst`` order — slide part names sort
lexicographically (``slide10.xml`` before ``slide2.xml``), so naive
"concatenate the slide members" extraction scrambles any deck past
nine slides. The package walk here follows the spec chain instead
(the EPUB spine lesson, applied to OOXML):

1. ``ppt/presentation.xml`` lists slides in presentation order as
   ``p:sldId`` elements whose ``r:id`` attributes are RELATIONSHIP
   ids, not part names;
2. ``ppt/_rels/presentation.xml.rels`` maps each relationship id to
   its slide part (targets resolve relative to ``ppt/``);
3. each slide part is DrawingML-carrying SlideML: run text (``a:t``)
   concatenates within a paragraph (``a:p``), ``a:br`` contributes
   ``\\n``, run/paragraph properties are transparent; paragraphs join
   with ``\\n``; slides join with ``\\n``.

NOTES PARTS DO NOT LEAK: ``ppt/notesSlides/*`` (and masters, layouts,
comments) carry ``a:t`` runs too, but only parts reached through the
slide chain are text of record — a scan-all-members extractor would
silently interleave speaker notes into the corpus (the fixture plants
exactly that decoy).

Drop policy (the epub discipline): a broken presentation/rels chain
drops the ROW (``None``); a single missing or unparseable slide part
drops SLIDE-granularly, keeping the rest (paragraphs completed before
a torn slide tail survive — the wikidump torn-XML rule); ``None``
when no slide yields text. Bomb/encrypted/torn members are handled by
the ziparchive walk underneath, plus the same archive-level
decompressed-total bound the epub walker carries (random access to
members forces buffering, so the per-member bound alone is not
enough).

Reference parity note: extension surface (the reference reads plain
text/CSV only, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import posixpath
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame

from distributed_computing_projects_spark.operators.spread import (
    encode_payloads, extract_values)
from distributed_computing_projects_spark.sources.ziparchive import (
    build_zip,
    iter_zip_members,
)

# ECMA-376 namespaces, transitional (what PowerPoint writes) and
# strict (ISO 29500) — text must extract under either pair
_PML_NS = (
    "http://schemas.openxmlformats.org/presentationml/2006/main",
    "http://purl.oclc.org/ooxml/presentationml/main",
)
_DML_NS = (
    "http://schemas.openxmlformats.org/drawingml/2006/main",
    "http://purl.oclc.org/ooxml/drawingml/main",
)
_REL_ATTR_NS = (
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships",
    "http://purl.oclc.org/ooxml/officeDocument/relationships",
)
_NS_PKG_RELS = \
    "http://schemas.openxmlformats.org/package/2006/relationships"

MAX_TOTAL_BYTES = 1 << 30  # archive-level bound (the epub lesson)


def _split(name: str):
    ns, _, local = name.rpartition(" ")
    return ns, local


def _parse_xml(xml_bytes: bytes, start, end=None, chars=None) -> bool:
    """Namespace-aware expat parse; ``False`` on any ExpatError."""
    from xml.parsers import expat

    p = expat.ParserCreate(namespace_separator=" ")
    p.StartElementHandler = start
    if end is not None:
        p.EndElementHandler = end
    if chars is not None:
        p.CharacterDataHandler = chars
    p.buffer_text = True
    try:
        p.Parse(xml_bytes, True)
    except expat.ExpatError:
        return False
    return True


def slide_rids_from_presentation(xml_bytes: bytes):
    """Ordered ``r:id`` list from ``p:sldIdLst``, or ``None`` on
    unparseable XML. Only ``p:sldId`` INSIDE the slide-id list counts
    — ``p:notesMasterIdLst`` / ``p:sldMasterIdLst`` entries carry
    relationship ids too and must not enter the reading order."""
    rids: list[str] = []
    in_lst = 0

    def start(name, attrs):
        nonlocal in_lst
        ns, local = _split(name)
        if ns not in _PML_NS:
            return
        if local == "sldIdLst":
            in_lst += 1
        elif local == "sldId" and in_lst:
            for k, v in attrs.items():
                ans, alocal = _split(k)
                if ans in _REL_ATTR_NS and alocal == "id":
                    rids.append(v)

    def end(name):
        nonlocal in_lst
        ns, local = _split(name)
        if ns in _PML_NS and local == "sldIdLst" and in_lst:
            in_lst -= 1

    if not _parse_xml(xml_bytes, start, end):
        return None
    return rids


def parse_rels(xml_bytes: bytes):
    """Relationship ``Id -> Target`` map from a ``.rels`` part, or
    ``None`` on unparseable XML."""
    rels: dict[str, str] = {}

    def start(name, attrs):
        ns, local = _split(name)
        if ns == _NS_PKG_RELS and local == "Relationship":
            rid, target = attrs.get("Id"), attrs.get("Target")
            if rid and target:
                rels[rid] = target

    if not _parse_xml(xml_bytes, start):
        return None
    return rels


def slide_paragraphs(xml_bytes: bytes):
    """Paragraph texts from one slide part (``a:t`` runs inside
    ``a:p``, ``a:br`` as ``\\n``, properties transparent), or ``None``
    when nothing extracts. Paragraphs completed before a torn tail
    survive (the wikidump torn-XML rule)."""
    from xml.parsers import expat

    paras: list[str] = []
    cur: list[str] | None = None
    in_t = 0

    def start(name, attrs):
        nonlocal cur, in_t
        ns, local = _split(name)
        if ns not in _DML_NS:
            return
        if local == "p":
            # a:p does not nest in SlideML (no txbxContent analogue);
            # a stray nested one merges into the open paragraph
            if cur is None:
                cur = []
        elif local == "t":
            in_t += 1
        elif cur is not None and local == "br":
            cur.append("\n")

    def end(name):
        nonlocal cur, in_t
        ns, local = _split(name)
        if ns not in _DML_NS:
            return
        if local == "t" and in_t:
            in_t -= 1
        elif local == "p" and cur is not None:
            paras.append("".join(cur))
            cur = None

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
        pass  # torn tail: completed paragraphs survive
    return paras if paras else None


def extract_pptx_text(data: bytes):
    """Plain text from one ``.pptx`` byte string (module docstring
    semantics: presentation -> rels -> ordered slide parts), or
    ``None`` when the package chain is broken or no slide yields
    text."""
    members: dict[str, bytes] = {}
    total = 0
    for name, body in iter_zip_members(data):
        total += len(body)
        if total > MAX_TOTAL_BYTES:
            return None  # archive-level decompression bomb: row drop
        members[name] = body
    pres = members.get("ppt/presentation.xml")
    if pres is None:
        return None
    rids = slide_rids_from_presentation(pres)
    if rids is None:
        return None
    rels_part = members.get("ppt/_rels/presentation.xml.rels")
    if rels_part is None:
        return None
    rels = parse_rels(rels_part)
    if rels is None:
        return None
    from urllib.parse import unquote

    slides: list[str] = []
    for rid in rids:
        target = rels.get(rid)
        if target is None:
            continue  # dangling r:id: slide-granular drop
        # targets are URIs relative to the part's directory (ppt/);
        # a leading "/" is package-absolute (ECMA-376 Part 2)
        if target.startswith("/"):
            name = posixpath.normpath(unquote(target))[1:]
        else:
            name = posixpath.normpath(
                posixpath.join("ppt", unquote(target)))
        doc = members.get(name)
        if doc is None:
            continue  # missing member: slide-granular drop
        paras = slide_paragraphs(doc)
        if paras is None:
            continue  # unparseable slide: slide-granular drop
        slides.append("\n".join(paras))
    return "\n".join(slides) if slides else None


# -------------------------------------------------------- builder


_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    "</Types>"
)

_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<Relationships xmlns="{_NS_PKG_RELS}">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="ppt/presentation.xml"/>'
    "</Relationships>"
)

RUN_CHARS = 19  # builder: split paragraph text into runs of this many


def _runs_xml(paragraph: str) -> str:
    """DrawingML runs for one paragraph: RUN_CHARS-sized runs with
    alternating ``a:rPr b="1"`` properties the extractor must treat
    as transparent; ``\\n`` becomes ``<a:br/>``."""
    out = []
    chunks = [paragraph[i:i + RUN_CHARS]
              for i in range(0, len(paragraph), RUN_CHARS)] or [""]
    for j, chunk in enumerate(chunks):
        rpr = '<a:rPr b="1" lang="en-US"/>' if j % 2 else ""
        body = []
        for piece in chunk.replace("\n", "\x00\n\x00").split("\x00"):
            if piece == "\n":
                body.append("<a:br/>")
            elif piece:
                body.append(f"<a:t>{escape(piece)}</a:t>")
        out.append(f"<a:r>{rpr}{''.join(body)}</a:r>")
    return "".join(out)


def _slide_xml(paragraphs: list[str]) -> str:
    paras = "".join(
        f"<a:p><a:pPr lvl=\"0\"/>{_runs_xml(p)}</a:p>"
        for p in paragraphs)
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<p:sld xmlns:p="{_PML_NS[0]}" xmlns:a="{_DML_NS[0]}">'
        "<p:cSld><p:spTree><p:sp><p:txBody>"
        f"<a:bodyPr/>{paras}"
        "</p:txBody></p:sp></p:spTree></p:cSld></p:sld>"
    )


def _notes_xml(i: int) -> str:
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<p:notes xmlns:p="{_PML_NS[0]}" xmlns:a="{_DML_NS[0]}">'
        "<p:cSld><p:spTree><p:sp><p:txBody><a:p><a:r>"
        f"<a:t>DECOY speaker notes for slide {i} that must never "
        "reach the extraction</a:t>"
        "</a:r></a:p></p:txBody></p:sp></p:spTree></p:cSld></p:notes>"
    )


def build_pptx(slides: list[list[str]]) -> bytes:
    """One deterministic ``.pptx`` from slides (each a paragraph
    list) — the fixture twin of :func:`extract_pptx_text`. Slide
    MEMBERS are written in REVERSED zip order, relationship ids are
    assigned in REVERSED numeric order, and every slide gets a
    notesSlide decoy part carrying ``a:t`` runs — so member-order OR
    rId-order extraction cannot round-trip and notes must not leak."""
    import zipfile as _zf

    n = len(slides)
    # rId assignment deliberately anti-monotonic vs slide order
    rids = [f"rId{n - i + 1}" for i in range(n)]
    sld_ids = "".join(
        f'<p:sldId id="{256 + i}" r:id="{rids[i]}"/>'
        for i in range(n))
    pres = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<p:presentation xmlns:p="{_PML_NS[0]}" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/'
        '2006/relationships">'
        # notesMaster r:id decoy: carries a relationship id that must
        # not enter the reading order (it is outside sldIdLst)
        '<p:notesMasterIdLst><p:notesMasterId r:id="rId999"/>'
        "</p:notesMasterIdLst>"
        f"<p:sldIdLst>{sld_ids}</p:sldIdLst></p:presentation>"
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_NS_PKG_RELS}">'
        + "".join(
            f'<Relationship Id="{rids[i]}" Type="http://schemas.'
            'openxmlformats.org/officeDocument/2006/relationships/'
            f'slide" Target="slides/slide{i + 1}.xml"/>'
            for i in range(n))
        + '<Relationship Id="rId999" Type="http://schemas.'
          'openxmlformats.org/officeDocument/2006/relationships/'
          'notesMaster" Target="notesMasters/notesMaster1.xml"/>'
        + "</Relationships>"
    )
    members = [
        ("[Content_Types].xml", _CONTENT_TYPES.encode("utf-8")),
        ("_rels/.rels", _ROOT_RELS.encode("utf-8")),
        ("ppt/presentation.xml", pres.encode("utf-8")),
        ("ppt/_rels/presentation.xml.rels", rels.encode("utf-8")),
    ] + [
        item
        for i in reversed(range(n))
        for item in (
            (f"ppt/slides/slide{i + 1}.xml",
             _slide_xml(slides[i]).encode("utf-8")),
            (f"ppt/notesSlides/notesSlide{i + 1}.xml",
             _notes_xml(i + 1).encode("utf-8")),
        )
    ]
    return build_zip(members, compression=_zf.ZIP_DEFLATED)


# ------------------------------------------------------- Spark stages


def pptx_payloads(df: DataFrame, id_col: str, text_col: str,
                  slide_chars: int = 150,
                  para_chars: int = 50) -> DataFrame:
    """(id, payload): a deterministic ``.pptx`` per row — slides are
    ``slide_chars``-sized chunks of the doc text, each split into
    ``para_chars``-sized paragraphs, members and rIds reversed vs the
    presentation order, a notes decoy per slide."""

    def encode(i, text):
        return build_pptx([
            [text[k:k + para_chars]
             for k in range(c, min(c + slide_chars, len(text)),
                            para_chars)]
            for c in range(0, len(text), slide_chars)
        ])

    return encode_payloads(df, encode, id_col, text_col)


def read_pptx(spark, path: str) -> DataFrame:
    """(path, extracted) over ``.pptx`` files on disk: binaryFile
    scan (per-file parallelism), the package-chain walk in Arrow
    batches, rows without extractable text dropped."""
    return extract_values(
        spark.read.format("binaryFile").load(path)
        .select("path", "content"),
        extract_pptx_text, "path string, extracted string")


def extract_pptx(payloads: DataFrame) -> DataFrame:
    """(id, extracted) over an (id, payload) DataFrame; rows whose
    payload yields no text drop (the record-granular policy)."""
    return extract_values(payloads.select("id", "payload"),
                          extract_pptx_text, "id bigint, extracted string")
