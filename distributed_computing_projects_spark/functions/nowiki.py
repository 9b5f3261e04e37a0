"""``<nowiki>`` extract-protect-restore around the wikitext chain.

MediaWiki renders the contents of ``<nowiki>...</nowiki>`` LITERALLY
— markup inside the tag is text, not markup — and ``<nowiki/>``
renders as nothing (its one job is to split adjacent markup). A
backref-free single-pass ``regexp_replace`` chain cannot express
"leave this span alone" (functions/wikitext.py module doc), so this
stage brackets the chain instead:

1. :func:`protect` (Arrow row stage): pull every nowiki span
   out of the text, leaving an indexed private-use-area sentinel
   token (``\\ue000<i>\\ue001`` — PUA characters never occur in a
   text corpus and no stripping rule touches them); span contents
   ride alongside in an ``array<string>`` column.
2. the unchanged SQL strip chain runs on the protected text — the
   sentinels flow through every rule untouched;
3. :func:`restore` (Arrow row stage): substitute each span's
   literal content back for its sentinel.

Whitespace INSIDE a protected span survives verbatim (MediaWiki
treats it as ordinary text; the chain's whitespace collapse never
sees it). Torn spans (``<nowiki>`` with no closing tag) are left in
place and strip like any tag — the pre-widening behavior.

Scale shape: both stages are pure per-row Arrow work, no shuffle;
the span array stays row-local. Reference parity: extension surface
(the reference reads plain text only, mp1/src/grep.go).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from distributed_computing_projects_spark.operators.spread import flat_map_rows

_SENT_A = ""
_SENT_B = ""
_NOWIKI_RE = re.compile(r"(?is)<nowiki\s*>(.*?)</nowiki\s*>")
_NOWIKI_NULL_RE = re.compile(r"(?is)<nowiki\s*/>")
_SENT_RE = re.compile(f"{_SENT_A}(\\d+){_SENT_B}")


def _protect_one(text: str) -> tuple[str, list[str]]:
    # sanitize pre-existing sentinel characters FIRST: U+E000/U+E001
    # are private-use and carry no text meaning, and a corpus document
    # that happened to contain a sentinel-shaped sequence would
    # otherwise crash restore (index out of range) or substitute span
    # content into an unrelated position (adversarial-review finding)
    text = text.replace(_SENT_A, "").replace(_SENT_B, "")
    spans: list[str] = []

    def grab(m: re.Match) -> str:
        spans.append(m.group(1))
        return f"{_SENT_A}{len(spans) - 1}{_SENT_B}"

    # spans extract BEFORE null-tag removal: MediaWiki ends the
    # extension tag at the first </nowiki>, so a literal '<nowiki/>'
    # INSIDE a span is span text, not markup (review finding); null
    # tags outside spans then render as nothing
    out = _NOWIKI_NULL_RE.sub("", _NOWIKI_RE.sub(grab, text))
    return out, spans


def _restore_one(text: str, spans: list[str]) -> str:
    # the bounds guard is belt-and-braces: sanitation above makes an
    # out-of-range index unreachable, but a crash here would kill the
    # whole Arrow batch, not drop a row
    return _SENT_RE.sub(
        lambda m: (spans[int(m.group(1))]
                   if int(m.group(1)) < len(spans) else ""),
        text)


def protect(df: DataFrame, col: str,
            spans_col: str = "nowiki_spans") -> DataFrame:
    """``col`` rewritten with nowiki spans lifted into ``spans_col``."""
    # fresh StructType — StructType.add would MUTATE the input df's
    # schema object in place
    schema = StructType(
        list(df.schema.fields)
        + [StructField(spans_col, ArrayType(StringType()))]
    )
    at = df.columns.index(col)

    def run(*row):
        text, spans = _protect_one(row[at])
        yield (*row[:at], text, *row[at + 1:], spans)

    return flat_map_rows(df, run, schema)


def restore(df: DataFrame, col: str,
            spans_col: str = "nowiki_spans") -> DataFrame:
    """Sentinels in ``col`` replaced by their literal span contents;
    ``spans_col`` dropped."""
    names = [c for c in df.columns if c != spans_col]
    schema = StructType([df.schema[n] for n in names])
    at = names.index(col)

    def run(*row):
        *kept, spans = row
        kept[at] = _restore_one(kept[at], spans or [])
        yield kept

    return flat_map_rows(df.select(*names, spans_col), run, schema)
