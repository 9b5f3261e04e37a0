"""Unicode normalization (NFC) — the text-cleaning stage every
multilingual corpus pipeline runs before tokenizing or hashing: the
same visible string can arrive precomposed (U+00E9) or decomposed
(U+0065 U+0301), and un-normalized corpora dedup wrong, tokenize
wrong, and hash wrong.

Spark has no built-in Unicode normalizer, so this is a legitimate
Python stage — the Arrow row stage (``spread.flat_map_rows``) over CPython's
``unicodedata`` (the same batch contract as the media decoders; never
a row-at-a-time UDF). The differential story is unusually strong: the
oracle normalizes with DuckDB's ``nfc_normalize`` (utf8proc), a fully
independent Unicode implementation, and the query compares the
NORMALIZED STRINGS themselves — two unrelated codebases must agree on
the Unicode canonical-composition tables character for character
(the html_extract_text string-compare discipline).

Scale shape: embarrassingly parallel projection — no shuffle, no
state; the Python cost is one table-driven pass per string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from distributed_computing_projects_spark.operators.spread import (
    flat_map_rows, spread)

NORM_SCHEMA = (
    "id bigint, normalized string, n_chars_before int, n_chars_after int"
)


def nfc_normalize(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, normalized, n_chars_before, n_chars_after): NFC-normalize
    ``text_col``. Character counts are code-point counts on both
    sides (inputs are kept to the BMP, where Spark's ``length`` —
    UTF-16 code units — agrees with code points)."""
    import unicodedata

    def norm(i, text):
        normed = unicodedata.normalize("NFC", text)
        yield i, normed, len(text), len(normed)

    cols = spread(df).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    return flat_map_rows(cols, norm, NORM_SCHEMA)
