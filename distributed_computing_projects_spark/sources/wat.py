"""WAT metadata records — the third Common Crawl artifact next to
WARC (raw responses) and WET (extracted text): each page becomes one
``WARC-Type: metadata`` record whose block is a JSON ENVELOPE
summarizing the response, including the page's outlinks
(``Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata
.Links``). Crawl-graph work (link PageRank, host ranking, seed
discovery) reads WAT, never the 10x-bigger WARC.

The record framing is the existing WARC machinery verbatim
(``sources/warc.py``: record walk, member-per-record gzip, torn-tail
policy) — this module adds only the WAT layer: the JSON envelope
builder and the link-extraction stage. The JSON PARSE itself runs
JVM-side (``from_json`` + ``explode`` over the Links array), keeping
the Python stage to the record walk the other WARC artifacts already
pay.

Drop policy: non-metadata records (warcinfo, the request/response
records real WATs interleave) skip; a metadata record whose envelope
is not valid JSON or carries no Links array contributes no edges
(``from_json`` nulls, ``explode`` drops) — record-granular, never
batch-fatal. Torn .gz tails keep complete members (warc rule).

Reference parity note: extension surface (the reference reads plain
text/CSV only, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import gzip
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_computing_projects_spark.operators.spread import (
    encode_payloads, flat_map_rows)
from distributed_computing_projects_spark.sources import warc as W

# Deterministic fixture link topology: doc i emits (i % 3 + 1) links,
# the j-th to doc (i*7 + j*13) mod n — every doc has out-degree >= 1
# and every target is a doc, so the extracted graph feeds
# pagerank_fixedpoint (no dangling nodes) and the oracle regenerates
# the same multiset with one LATERAL generate_series.
LINK_MULT, LINK_STEP, LINK_FAN = 7, 13, 3

_HOST = "https://corpus.example.com/doc"

# The envelope subset the extractor reads, as a Spark DDL schema for
# from_json (dashed names are spec-verbatim; backticks quote them)
LINKS_SCHEMA = (
    "Envelope struct<`Payload-Metadata`: struct<"
    "`HTTP-Response-Metadata`: struct<`HTML-Metadata`: struct<"
    "Links: array<struct<path: string, url: string>>>>>>"
)

_LINKS_COL = ("meta.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`"
              ".`HTML-Metadata`.Links")


def build_envelope(url: str, links: list[str], title: str) -> bytes:
    """One WAT JSON envelope (the Common Crawl layout subset: header
    metadata, response metadata, HTML head + Links)."""
    return json.dumps({
        "Envelope": {
            "WARC-Header-Metadata": {
                "WARC-Target-URI": url, "WARC-Type": "response"},
            "Payload-Metadata": {
                "Actual-Content-Type": "application/http; msgtype=response",
                "HTTP-Response-Metadata": {
                    "Response-Message": {"Status": "200"},
                    "HTML-Metadata": {
                        "Head": {"Title": title},
                        "Links": [{"path": "A@/href", "url": u}
                                  for u in links],
                    },
                },
            },
        },
        "Container": {"Compressed": True},
    }, sort_keys=True).encode("utf-8")


def build_metadata_record(url: str, envelope: bytes) -> bytes:
    return W.build_record(
        "metadata",
        {"WARC-Target-URI": url,
         "WARC-Date": "2024-01-01T00:00:00Z",
         "Content-Type": "application/json"},
        envelope,
    )


def wat_payloads(df: DataFrame, id_col: str, n_docs: int) -> DataFrame:
    """(id, payload): a member-per-record gzip WAT per row (the
    ``.warc.wat.gz`` shape) — a warcinfo member (skip path), the
    page's metadata member with the deterministic link fan, and for
    ``id % 5 == 0`` an extra metadata member for a CSS asset whose
    envelope has NO HTML-Metadata (real WATs carry these; it must
    contribute zero edges)."""

    def _gz(record: bytes) -> bytes:
        return gzip.compress(record, mtime=0)

    def encode(i):
        url = f"{_HOST}/{i}"
        links = [
            f"{_HOST}/{(i * LINK_MULT + j * LINK_STEP) % n_docs}"
            for j in range(1, i % LINK_FAN + 2)
        ]
        info = W.build_record(
            "warcinfo", {"Content-Type": "application/warc-fields"},
            b"software: fixture-wat\r\n")
        parts = [_gz(info), _gz(build_metadata_record(
            url, build_envelope(url, links, f"Doc {i}")))]
        if i % 5 == 0:
            dud = json.dumps({"Envelope": {"Payload-Metadata": {
                "Actual-Content-Type": "text/css"}}}).encode()
            parts.append(_gz(build_metadata_record(
                f"{_HOST}/{i}/style.css", dud)))
        return b"".join(parts)

    return encode_payloads(df, encode, id_col)


def metadata_records(payloads: DataFrame) -> DataFrame:
    """(url, meta) string rows: the WAT record walk — gunzip the
    member-per-record stream (plain WAT tolerated too), parse records
    (warc torn policy), keep ``WARC-Type: metadata`` blocks as JSON
    strings. The envelope stays unparsed here; JSON work is the JVM's
    (:func:`extract_links`)."""

    def extract(raw):
        if raw[:2] == W._GZIP_MAGIC:
            raw = W.gunzip_members(raw)  # None: not one complete member
        records = W.parse_records(raw) if raw is not None else None
        # None: row drop, not WARC-framed at all
        for headers, block in records or ():
            url = headers.get("warc-target-uri")
            if headers.get("warc-type") == "metadata" and url:
                yield url, block.decode("utf-8", "replace")

    return flat_map_rows(payloads.select("payload"), extract,
                         "url string, meta string")


def read_wat(spark, path: str) -> DataFrame:
    """:func:`extract_links` over ``.wat``/``.wat.gz`` files on disk
    (binaryFile scan, per-file parallelism)."""
    return extract_links(
        spark.read.format("binaryFile").load(path)
        .withColumnRenamed("content", "payload"))


def extract_links(payloads: DataFrame) -> DataFrame:
    """(src, dst, path) edge rows from WAT payloads: the Python
    record walk feeds a pure-JVM JSON stage — ``from_json`` against
    the envelope subset schema, ``explode`` over Links (null/absent
    arrays drop), doc ids parsed from the URL tail by
    ``regexp_extract``. Rows whose URLs carry no trailing doc id
    (asset records) drop on the id cast."""
    recs = metadata_records(payloads)
    return (
        recs.select("url", F.from_json("meta", LINKS_SCHEMA).alias("meta"))
        .select("url", F.explode(F.expr(_LINKS_COL)).alias("link"))
        .select(
            # try_cast, not cast: regexp_extract yields '' on a non-id
            # URL (asset records) and ANSI mode makes a bare cast
            # throw instead of nulling the row out
            F.expr(r"try_cast(regexp_extract(url, '/doc/(\\d+)$', 1)"
                   " AS bigint)").alias("src"),
            F.expr(r"try_cast(regexp_extract(link.url, '/doc/(\\d+)$',"
                   " 1) AS bigint)").alias("dst"),
            F.col("link.path").alias("path"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )
