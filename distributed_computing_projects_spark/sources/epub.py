"""EPUB text extraction — pure stdlib, the second ZIP-of-XML document
format after ``sources/docx.py``: the engine's ZIP walk
(``sources/ziparchive.py``) plus expat parses of the OCF container
pointer, the OPF package document, and the spine's XHTML content
documents, from the public EPUB 3 / OCF specs (ISO/IEC 23736).

Why: ebook corpora (Project Gutenberg-adjacent dumps, public-domain
library collections) ship EPUB; the text of record is NOT the zip
member order but the OPF SPINE order, so naive "concatenate the
.xhtml members" extraction scrambles chapters — the package walk here
follows the spec chain instead:

1. ``META-INF/container.xml`` names the OPF package document
   (``rootfile@full-path``);
2. the OPF ``<manifest>`` maps item ids to hrefs (relative to the OPF
   directory) and ``<spine>`` lists the reading order by idref —
   manifest items NOT in the spine (nav, cover) contribute nothing;
3. each spine document is XHTML: text inside ``<p>`` elements within
   ``<body>`` (inline markup transparent, ``<br>`` contributes
   ``\\n``), paragraphs joined with ``\\n``; chapters join with
   ``\\n``.

Drop policy: a broken container/OPF chain drops the ROW (``None``);
a single missing or unparseable spine document drops CHAPTER-
granularly (the remaining spine still extracts; ``None`` only when no
chapter yields text). Bomb/encrypted/torn members are already handled
by the ziparchive walk underneath.

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

_NS_CONTAINER = "urn:oasis:names:tc:opendocument:xmlns:container"
_NS_OPF = "http://www.idpf.org/2007/opf"
_NS_XHTML = "http://www.w3.org/1999/xhtml"

# The package chain needs RANDOM access to members (spine order !=
# member order), so unlike the streaming zip scan this extractor
# materializes the member table — an archive-level bound is needed on
# top of ziparchive's per-member one, or a many-member deflate bomb
# expands ~1000x into executor memory before any per-member check
# trips (the zip-walk buffering lesson, applied to the one consumer
# that must buffer)
MAX_TOTAL_BYTES = 1 << 30


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


def _split(name: str):
    ns, _, local = name.rpartition(" ")
    return ns, local


def opf_path_from_container(xml_bytes: bytes):
    """``rootfile@full-path`` from META-INF/container.xml, or None."""
    found: list[str] = []

    def start(name, attrs):
        ns, local = _split(name)
        if ns == _NS_CONTAINER and local == "rootfile" and not found:
            path = attrs.get("full-path")
            if path:
                found.append(path)

    ok = _parse_xml(xml_bytes, start)
    return found[0] if ok and found else None


def parse_opf(xml_bytes: bytes):
    """(manifest id->href, spine idref order) from an OPF package
    document, or ``None`` when the XML is unparseable."""
    manifest: dict[str, str] = {}
    spine: list[str] = []

    def start(name, attrs):
        ns, local = _split(name)
        if ns != _NS_OPF:
            return
        if local == "item":
            item_id, href = attrs.get("id"), attrs.get("href")
            if item_id and href:
                manifest[item_id] = href
        elif local == "itemref":
            idref = attrs.get("idref")
            if idref and attrs.get("linear", "yes") != "no":
                spine.append(idref)

    if not _parse_xml(xml_bytes, start):
        return None
    return manifest, spine


def xhtml_paragraphs(xml_bytes: bytes):
    """Paragraph texts from one XHTML content document (text inside
    ``<p>`` within ``<body>``, ``<br>`` as ``\\n``), or ``None`` when
    nothing extracts. Paragraphs completed before a torn tail
    survive (the wikidump torn-XML rule)."""
    from xml.parsers import expat

    paras: list[str] = []
    in_body = 0
    cur: list[str] | None = None

    def start(name, attrs):
        nonlocal in_body, cur
        ns, local = _split(name)
        if ns != _NS_XHTML:
            return
        if local == "body":
            in_body += 1
        elif in_body and local == "p" and cur is None:
            cur = []
        elif cur is not None and local == "br":
            cur.append("\n")

    def end(name):
        nonlocal in_body, cur
        ns, local = _split(name)
        if ns != _NS_XHTML:
            return
        if local == "body" and in_body:
            in_body -= 1
        elif local == "p" and cur is not None:
            paras.append("".join(cur))
            cur = None

    def chars(data):
        if cur is not None:
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


def extract_epub_text(data: bytes):
    """Plain text from one ``.epub`` byte string (module docstring
    semantics: container -> OPF -> spine-ordered XHTML), or ``None``
    when the package chain is broken or no chapter yields text."""
    members: dict[str, bytes] = {}
    total = 0
    for name, body in iter_zip_members(data):
        total += len(body)
        if total > MAX_TOTAL_BYTES:
            return None  # archive-level decompression bomb: row drop
        members[name] = body
    container = members.get("META-INF/container.xml")
    if container is None:
        return None
    opf_path = opf_path_from_container(container)
    if opf_path is None or opf_path not in members:
        return None
    parsed = parse_opf(members[opf_path])
    if parsed is None:
        return None
    manifest, spine = parsed
    base = posixpath.dirname(opf_path)
    chapters: list[str] = []
    from urllib.parse import unquote

    for idref in spine:
        href = manifest.get(idref)
        if href is None:
            continue  # dangling idref: chapter-granular drop
        # hrefs are URIs (spec): percent-encoded names ("ch%201
        # .xhtml") must decode before the member lookup
        doc = members.get(
            posixpath.normpath(posixpath.join(base, unquote(href))))
        if doc is None:
            continue  # missing/torn member: chapter-granular drop
        paras = xhtml_paragraphs(doc)
        if paras is None:
            continue  # unparseable chapter: chapter-granular drop
        chapters.append("\n".join(paras))
    return "\n".join(chapters) if chapters else None


# -------------------------------------------------------- builder


_CONTAINER_XML = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    f'<container version="1.0" xmlns="{_NS_CONTAINER}">'
    '<rootfiles><rootfile full-path="OEBPS/content.opf" '
    'media-type="application/oebps-package+xml"/></rootfiles>'
    "</container>"
)

_NAV_XHTML = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    f'<html xmlns="{_NS_XHTML}"><body><p>DECOY nav text that must '
    "never reach the extraction</p></body></html>"
)


def _chapter_xhtml(paragraphs: list[str]) -> str:
    body = []
    for i, para in enumerate(paragraphs):
        inner = escape(para).replace("\n", "<br/>")
        if i % 2:  # alternate paragraphs carry inline markup
            inner = f"<em>{inner}</em>"
        body.append(f"<p>{inner}</p>")
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<html xmlns="{_NS_XHTML}"><head><title>ignored</title></head>'
        f"<body><h1>ignored heading</h1>{''.join(body)}</body></html>"
    )


def build_epub(chapters: list[list[str]]) -> bytes:
    """One deterministic ``.epub`` from chapters (each a paragraph
    list) — the fixture twin of :func:`extract_epub_text`. Chapter
    MEMBERS are written in REVERSED zip order while the spine lists
    the true order, and a nav.xhtml decoy sits in the manifest but
    not the spine — member-order extraction cannot round-trip."""
    items = "".join(
        f'<item id="c{i}" href="chap{i}.xhtml" '
        'media-type="application/xhtml+xml"/>'
        for i in range(len(chapters)))
    refs = "".join(f'<itemref idref="c{i}"/>'
                   for i in range(len(chapters)))
    opf = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<package version="3.0" xmlns="{_NS_OPF}" '
        'unique-identifier="uid"><metadata/>'
        f'<manifest><item id="nav" href="nav.xhtml" '
        'media-type="application/xhtml+xml" properties="nav"/>'
        f"{items}</manifest><spine>{refs}</spine></package>"
    )
    import zipfile as _zf

    members = [
        ("mimetype", b"application/epub+zip"),
        ("META-INF/container.xml", _CONTAINER_XML.encode("utf-8")),
        ("OEBPS/content.opf", opf.encode("utf-8")),
        ("OEBPS/nav.xhtml", _NAV_XHTML.encode("utf-8")),
    ] + [
        (f"OEBPS/chap{i}.xhtml", _chapter_xhtml(ch).encode("utf-8"))
        for i in reversed(range(len(chapters)))
        for ch in [chapters[i]]
    ]
    return build_zip(members, compression=_zf.ZIP_DEFLATED)


# ------------------------------------------------------- Spark stages


def epub_payloads(df: DataFrame, id_col: str, text_col: str,
                  chapter_chars: int = 150,
                  para_chars: int = 50) -> DataFrame:
    """(id, payload): a deterministic ``.epub`` per row — chapters are
    ``chapter_chars``-sized chunks of the doc text, each split into
    ``para_chars``-sized paragraphs, members reversed vs the spine."""

    def encode(i, text):
        return build_epub([
            [text[k:k + para_chars]
             for k in range(c, min(c + chapter_chars, len(text)),
                            para_chars)]
            for c in range(0, len(text), chapter_chars)
        ])

    return encode_payloads(df, encode, id_col, text_col)


def read_epub(spark, path: str) -> DataFrame:
    """(path, extracted) over ``.epub`` files on disk: binaryFile
    scan (per-file parallelism), the package-chain walk in Arrow
    batches, rows without extractable text dropped."""
    return extract_values(
        spark.read.format("binaryFile").load(path)
        .select("path", "content"),
        extract_epub_text, "path string, extracted string")


def extract_epub(payloads: DataFrame) -> DataFrame:
    """(id, extracted) over an (id, payload) DataFrame; rows whose
    payload yields no text drop (the record-granular policy)."""
    return extract_values(payloads.select("id", "payload"),
                          extract_epub_text, "id bigint, extracted string")
