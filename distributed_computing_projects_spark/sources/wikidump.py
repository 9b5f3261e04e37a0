"""MediaWiki dump ingestion in pure stdlib — Wikipedia publishes its
full-corpus dumps as MULTISTREAM bz2 (`pages-articles-multistream
.xml.bz2`: many independent bz2 streams concatenated, ~100 pages per
stream, so readers can seek stream boundaries from the index file),
wrapping MediaWiki XML. Both layers are stdlib-decodable (``bz2`` +
``xml.parsers.expat``), making this the third real wire format the
engine reads end-to-end after WARC/gzip-WARC and PDF.

Extraction policy mirrors the other sources: a payload that is not a
bz2 stream at all drops the row; a stream torn mid-member keeps the
complete members before it (the gzip-WARC rule); XML truncated inside
the last member keeps the PAGES COMPLETED before the tear (expat is a
push parser — completed <page> elements survive an ExpatError at the
torn tail). Non-article namespaces pass through with their ``ns`` so
callers filter (the real dumps carry Talk/User/Template pages that
training pipelines drop on ns != 0).

Scale shape: like WARC, the dump is file-parallel (one ~20 GB
multistream file splits logically at the index's stream offsets; here
the unit is the payload row). Extraction is one Arrow row stage.

Reference parity note: the reference reads plain text/CSV only; this
is LLM-ingest scale-extension surface (SURVEY.md §2 extensions).
"""

from __future__ import annotations

import bz2
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame

from distributed_computing_projects_spark.operators.spread import (
    encode_payloads, flat_map_rows)

_BZ2_MAGIC = b"BZh"

# Decompression-bomb guard (sources/warc.py discipline): a member
# whose plain size exceeds this drops with everything after it,
# instead of OOMing the executor. Real dump streams are ~100 pages.
MAX_MEMBER_BYTES = 1 << 28


def bunzip_members(b: bytes):
    """Decompress a concatenated-stream (multistream) bz2 byte string
    into the joined plain bytes; a member torn mid-stream keeps the
    complete members before it. Returns ``None`` when not even one
    member decompresses."""
    out: list[bytes] = []
    pos = 0
    while pos < len(b):
        d = bz2.BZ2Decompressor()
        try:
            chunk = d.decompress(b[pos:], MAX_MEMBER_BYTES + 1)
        except OSError:
            break  # corrupt member: drop it and the rest
        if len(chunk) > MAX_MEMBER_BYTES:
            break  # decompression bomb: drop it and the rest
        if not d.eof:
            break  # stream ends mid-member
        out.append(chunk)
        consumed = len(b) - pos - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed
    return b"".join(out) if out else None


def parse_pages(xml_bytes: bytes):
    """Parse MediaWiki XML into a list of page dicts
    ``{page_id, title, ns, text}`` (text as bytes). Pages completed
    before a parse error (torn tail) are kept; returns ``None`` when
    the bytes yield no completed page at all."""
    from xml.parsers import expat

    pages: list[dict] = []
    cur: dict | None = None
    path: list[str] = []
    buf: list[str] = []

    def start(name, attrs):
        nonlocal cur
        path.append(name)
        if name == "page":
            cur = {"page_id": None, "title": "", "ns": 0, "text": ""}
        buf.clear()

    def chars(data):
        buf.append(data)

    def end(name):
        nonlocal cur
        text = "".join(buf)
        buf.clear()
        if cur is not None:
            if name == "title":
                cur["title"] = text
            elif name == "ns" and len(path) >= 2 and path[-2] == "page":
                cur["ns"] = int(text or 0)
            elif name == "id" and len(path) >= 2 and path[-2] == "page":
                # the page's own id; revision/contributor ids sit deeper
                if cur["page_id"] is None:
                    cur["page_id"] = int(text)
            elif name == "text":
                cur["text"] = text
            elif name == "page":
                pages.append(cur)
                cur = None
        path.pop()

    p = expat.ParserCreate()
    p.StartElementHandler = start
    p.EndElementHandler = end
    p.CharacterDataHandler = chars
    # buffer_text coalesces character-data events so multi-chunk text
    # nodes arrive whole where possible; the buf list handles the rest
    p.buffer_text = True
    try:
        p.Parse(xml_bytes, True)
    except expat.ExpatError:
        pass  # torn tail: completed pages were already collected
    return pages if pages else None


def build_dump(pages: list[tuple[int, str, int, str]],
               pages_per_stream: int = 2) -> bytes:
    """Serialize ``(page_id, title, ns, text)`` tuples as a
    deterministic MULTISTREAM bz2 MediaWiki dump: a header stream
    (<mediawiki> + siteinfo), page streams of ``pages_per_stream``
    pages each, and a closing stream — the real dump's layout in
    miniature (fixture builder; the extractor is general over the
    subset)."""

    def page_xml(pid: int, title: str, ns: int, text: str) -> bytes:
        return (
            f"  <page>\n"
            f"    <title>{escape(title)}</title>\n"
            f"    <ns>{ns}</ns>\n"
            f"    <id>{pid}</id>\n"
            f"    <revision>\n"
            f"      <id>{pid * 10 + 1}</id>\n"
            f"      <text>{escape(text)}</text>\n"
            f"    </revision>\n"
            f"  </page>\n"
        ).encode("utf-8")

    header = (b'<mediawiki xml:lang="en">\n'
              b"  <siteinfo><sitename>fixture</sitename></siteinfo>\n")
    streams = [bz2.compress(header, 9)]
    for i in range(0, len(pages), pages_per_stream):
        body = b"".join(page_xml(*p)
                        for p in pages[i:i + pages_per_stream])
        streams.append(bz2.compress(body, 9))
    streams.append(bz2.compress(b"</mediawiki>\n", 9))
    return b"".join(streams)


def extract_dump(b: bytes):
    """bz2-multistream decompress + page parse for one payload.
    Returns the page list or ``None`` (row drop)."""
    if not b.startswith(_BZ2_MAGIC):
        return None
    xml_bytes = bunzip_members(b)
    if xml_bytes is None:
        return None
    return parse_pages(xml_bytes)


# fixture geometry: per doc, two pages — the article (ns 0, the doc
# text) and a Talk page (ns 1, constant text) so the namespace
# pass-through is exercised on every payload
WIKI_PREFIX = 32
TALK_TEXT = "discussion placeholder"


def wikidump_payloads(df: DataFrame, id_col: str,
                      text_col: str) -> DataFrame:
    """(id, payload): a deterministic two-page multistream dump per
    row — page ids derive from the doc id, the article text is the
    doc text (XML-escaped, so '&'/'<'/'>' roundtrip through real
    escaping), plus a ns=1 Talk page."""

    def encode(i, text):
        return build_dump([
            (2 * i, f"Doc {i}", 0, text),
            (2 * i + 1, f"Talk:Doc {i}", 1, TALK_TEXT),
        ])

    return encode_payloads(df, encode, id_col, text_col)


WIKI_SCHEMA = (
    "id bigint, page_id bigint, title string, ns int,"
    " n_text_bytes bigint, prefix_sum bigint"
)


def extract_pages(payloads: DataFrame) -> DataFrame:
    """Per-payload dump extraction in one Arrow row stage: bz2
    member walk, expat page parse, per-page (title, namespace, text
    byte length, bounded-prefix byte sum) — the fields dump ingest
    filters on before any wikitext processing. Undecodable payloads
    drop the row; torn payloads keep completed pages."""

    def extract(i, payload):
        for pg in extract_dump(payload) or ():
            raw = pg["text"].encode("utf-8")
            yield (i, pg["page_id"], pg["title"], pg["ns"], len(raw),
                   sum(raw[:WIKI_PREFIX]))

    return flat_map_rows(payloads.select("id", "payload"), extract,
                         WIKI_SCHEMA)


WIKI_TEXT_SCHEMA = "id bigint, page_id bigint, ns int, wikitext string"


def extract_page_text(payloads: DataFrame) -> DataFrame:
    """Like :func:`extract_pages` but emitting the page TEXT itself
    (the raw wikitext), for the markup-stripping stage that follows
    dump ingest (``functions/wikitext.py``). Same drop policy."""

    def extract(i, payload):
        for pg in extract_dump(payload) or ():
            yield i, pg["page_id"], pg["ns"], pg["text"]

    return flat_map_rows(payloads.select("id", "payload"), extract,
                         WIKI_TEXT_SCHEMA)
