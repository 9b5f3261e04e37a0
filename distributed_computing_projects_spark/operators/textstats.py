"""Text analysis for training-data pipelines: token counting, quality
scoring, heuristic language-ID, and document fingerprinting
(BASELINE.json scale extensions; the reference has no text analytics
beyond grep/wordcount).

Everything is built-in-function expression work (whole-stage codegen);
ratios are single double divisions of exact integer counts, so every
query here is oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from distributed_computing_projects_spark.functions import text as T

# Tiny function-word lists for the heuristic scorer. On real corpora
# these would be per-language stopword tables; the driver's synthetic
# docs share one vocabulary, so the classifier's value here is the
# *plumbing* (deterministic scoring + argmax), not accuracy.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "los", "y", "es"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["de", "le", "shi", "he", "zai"],
}

PUNCT_RE = "[.,;:!?]"


def _str_list(vals: list[str], dialect: str) -> str:
    body = ", ".join(f"'{v}'" for v in vals)
    return f"array({body})" if dialect == "spark" else f"[{body}]"


def lang_score(tokens_arr: str, lang: str, dialect: str) -> str:
    """# tokens that are markers of ``lang`` (per-occurrence, like the
    wine token count — F3 semantics)."""
    lst = _str_list(LANG_MARKERS[lang], dialect)
    if dialect == "spark":
        return f"size(filter({tokens_arr}, x -> array_contains({lst}, x)))"
    return f"len(list_filter({tokens_arr}, x -> list_contains({lst}, x)))"


def lang_pred(tokens_arr: str, dialect: str) -> str:
    """argmax over language scores; ties go to the lexicographically
    first language code (deterministic in both engines — position
    lookup finds the FIRST maximum).

    Both the token array and the score array are bound ONCE via the
    singleton-transform idiom: the naive greatest()+CASE form inlined
    the full tokenize-and-filter expression ~35x per row (the Catalyst
    no-CSE trap, see functions/text.py minhash_sig_onepass).
    """
    langs = sorted(LANG_MARKERS)
    if dialect == "spark":
        scores = ", ".join(lang_score("TK", lg, "spark") for lg in langs)
        lang_lits = ", ".join(f"'{lg}'" for lg in langs)
        pick = (
            f"element_at(array({lang_lits}),"
            f" CAST(array_position(SC, array_max(SC)) AS INT))"
        )
        return (
            f"transform(array({tokens_arr}), TK ->"
            f" transform(array(array({scores})), SC -> {pick})[0])[0]"
        )
    scores = ", ".join(lang_score("TK", lg, "duck") for lg in langs)
    lang_lits = ", ".join(f"'{lg}'" for lg in langs)
    pick = f"list_extract([{lang_lits}], list_position(SC, list_max(SC)))"
    return (
        f"list_transform([{tokens_arr}], TK ->"
        f" list_transform([[{scores}]], SC -> {pick})[1])[1]"
    )


def quality_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features.

    All counts are exact integers; ratios are one double division each.
    """
    toks = T.tokens(text_col, "spark")
    stop = _str_list(LANG_MARKERS["en"], "spark")
    return df.select(
        F.col(id_col).alias("id"),
        F.length(text_col).alias("n_chars"),
        F.expr(f"size({toks})").alias("n_tokens"),
        F.expr(f"size(array_distinct({toks}))").alias("n_distinct_tokens"),
        F.expr(
            f"CAST(size(array_distinct({toks})) AS DOUBLE)"
            f" / CAST(size({toks}) AS DOUBLE)"
        ).alias("distinct_ratio"),
        F.expr(
            f"CAST(size(filter({toks}, x -> array_contains({stop}, x))) AS DOUBLE)"
            f" / CAST(size({toks}) AS DOUBLE)"
        ).alias("stopword_ratio"),
        (
            F.expr(
                f"CAST(length(regexp_replace({text_col}, '{PUNCT_RE}', '')) AS DOUBLE)"
            ) / F.length(text_col).cast("double")
        ).alias("alpha_ratio"),
    )


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    toks = T.tokens(text_col, "spark")
    return df.select(
        F.col(id_col).alias("id"),
        F.expr(lang_pred(toks, "spark")).alias("pred_lang"),
    )


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace-normalized md5 fingerprint + 32-bit numeric form."""
    norm = f"lower(regexp_replace({text_col}, '\\\\s+', ' '))"
    return df.select(
        F.col(id_col).alias("id"),
        F.expr(f"md5({norm})").alias("fingerprint"),
        F.expr(T.hash32(norm, "spark")).alias("fingerprint32"),
    )


# Cross-engine-safe PII patterns: character classes + bounded repeats
# only (identical semantics in Java regex and RE2-style engines; no
# backrefs, no lookaround). Order matters: emails first, or the phone
# pattern eats digit runs inside addresses.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"),
    ("phone", r"\+?[0-9][0-9 ()-]{7,}[0-9]"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"),
]


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """DataFrame[doc_id, redacted_text, n_email, n_phone, n_ipv4]:
    regex-scrub emails / phone numbers / IPv4 addresses to typed
    placeholders, with per-kind match counts for pipeline monitoring —
    the pre-training privacy scrub as a pure narrow projection (JVM
    regexp_replace, zero shuffle, zero Python; at 100 TB this
    pipelines inside the scan like every other row-local transform).

    Counts are computed BEFORE replacement (on the original text) so
    overlapping kinds report what each pattern saw, and redaction
    applies the same patterns in the same order. Consequence (by
    contract, mirrored exactly by the oracle): when kinds overlap —
    e.g. a digit run inside an email address — a later pattern's count
    can include matches whose text was already consumed by an earlier
    replacement, so ``n_phone``/``n_ipv4`` may EXCEED the number of
    ``<PHONE>``/``<IPV4>`` placeholders emitted in ``redacted_text``.
    The counts answer "what did each detector see", not "how many
    placeholders were written".
    """
    out = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    red = F.col("_t")
    counts = []
    for kind, pat in PII_PATTERNS:
        # regexp_extract_all, not split: split()'s trailing-empty-string
        # trimming differs between engines and would undercount matches
        # at the end of a document
        counts.append(
            F.size(F.regexp_extract_all("_t", F.lit(pat), 0))
            .cast("bigint")
            .alias(f"n_{kind}")
        )
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    return out.select(
        "doc_id", red.alias("redacted_text"), *counts
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Intra-document repetition signals (the Gopher/MassiveText-style
    repetition filters: Rae et al. '21 §A1.1) as INTEGER counts:

    - ``n_tokens``       total whitespace tokens;
    - ``n_distinct``     distinct tokens;
    - ``top_c``          occurrences of the most frequent token;
    - ``n_bigrams``      total 2-grams (0 for docs under 2 tokens);
    - ``n_dup_bigrams``  n_bigrams - |distinct 2-grams|.

    The Gopher thresholds are ratios of these (distinct-token ratio =
    n_distinct/n_tokens, duplicated-bigram fraction =
    n_dup_bigrams/n_bigrams, top-token fraction = top_c/n_tokens) —
    derive them with :func:`with_repetition_ratios`. Counts, not
    pre-rounded ratios, are what this emits: ``round(x, 4)`` resolves
    exact 4-decimal ties differently across engines (Spark rounds the
    shortest-decimal repr HALF_UP, DuckDB rounds the binary double), so
    a 160-token doc could hash-mismatch on a .xxxx5 tie. Same contract
    as ``pack_stats`` fill_rate: integers cross the engine boundary,
    consumers do the IEEE divide.

    Heavily repeated machine-generated text scores low on the distinct
    ratios and high on the fractions; pipelines threshold these before
    training. The reference has no text analytics beyond grep/wordcount
    (mp3/src/maple/wordcount.go) — this is BASELINE.json extension
    surface.

    Shape: the bigram counts are narrow codegen projections
    (size/array_distinct — no shuffle); only ``top_c`` needs token
    counts, done explode -> two hash aggregates (same
    one-row-per-doc-per-token shape as ``minhash_signatures``, partial
    aggregation finishes each doc map-side). Two shuffles total at any
    scale, each carrying counts, never text. Token-less docs produce no
    explode rows and are excluded (same rule as the signature
    operators; the oracle filters identically).
    """
    toks = T.tokens(text_col, "spark")
    grams = T.ngrams(text_col, 2, "spark")
    narrow = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.expr(toks)).alias("tok"),
        F.expr(f"CAST(size({grams}) AS BIGINT)").alias("n_bigrams"),
        F.expr(
            f"CAST(size({grams}) - size(array_distinct({grams})) AS BIGINT)"
        ).alias("n_dup_bigrams"),
    )
    per_tok = narrow.groupBy("id", "tok").agg(
        F.count("*").alias("c"),
        F.first("n_bigrams").alias("nb"),
        F.first("n_dup_bigrams").alias("nd"),
    )
    return per_tok.groupBy("id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_c"),
        F.first("nb").alias("n_bigrams"),
        F.first("nd").alias("n_dup_bigrams"),
    )


def with_repetition_ratios(stats: DataFrame) -> DataFrame:
    """Derive the Gopher threshold ratios from :func:`repetition_stats`
    output as raw IEEE doubles (no rounding — see the count contract
    there): adds ``distinct_token_ratio``, ``dup_bigram_frac`` (0.0 for
    docs without bigrams) and ``top_token_frac``. Narrow projection."""
    return stats.select(
        "*",
        (F.col("n_distinct").cast("double")
         / F.col("n_tokens").cast("double")).alias("distinct_token_ratio"),
        F.when(F.col("n_bigrams") > 0,
               F.col("n_dup_bigrams").cast("double")
               / F.col("n_bigrams").cast("double"))
        .otherwise(F.lit(0.0)).alias("dup_bigram_frac"),
        (F.col("top_c").cast("double")
         / F.col("n_tokens").cast("double")).alias("top_token_frac"),
    )


def boilerplate_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int = 5,
    min_docs: int = 2, top: int = 200,
) -> DataFrame:
    """Cross-document repeated spans: the ``top`` word ``n``-grams that
    appear in at least ``min_docs`` DISTINCT documents, with their
    document frequencies — the corpus-level boilerplate signal
    (headers, footers, license blocks, templated spam) that per-doc
    repetition stats cannot see. Pipelines strip or down-weight these
    spans before training (cf. the duplicated-substring analyses of
    Lee et al. '21).

    Shape: per-doc DISTINCT shingles (so a span repeated inside one
    doc counts that doc once) -> explode -> one hash aggregate keyed
    by the gram (partial aggregation collapses within-partition
    repeats map-side) -> TakeOrderedAndProject for the top slice (no
    global sort). One shuffle of (gram, count) rows at any scale.
    Ties are broken by the gram itself, so the slice is deterministic.
    """
    sh = T.shingles(text_col, n, "spark")
    return (
        df.select(F.col(id_col).alias("id"), F.explode(F.expr(sh)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_docs"), F.asc("ngram"))
        .limit(top)
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 Table A1 —
# the published heuristic filter set most web-corpus pipelines start
# from). Every feature is exact-integer counting with one double
# division, so the whole rule set is oracle-exact.
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2


def gopher_exprs(text: str, dialect: str) -> dict[str, str]:
    """The Gopher rule features as dual-dialect SQL fragments over a
    ``text`` column — same construction both engines, so the driver
    hash-compares identical math. Counts are exact integers; each
    ratio is ONE double division (NULL on empty denominators rather
    than a divide error)."""
    toks = T.tokens(text, dialect)
    stop = _str_list(LANG_MARKERS["en"], dialect)
    if dialect == "spark":
        n_words = f"size({toks})"
        tok_chars = (f"aggregate(transform({toks}, x -> length(x)),"
                     f" 0, (a, x) -> a + x)")
        lines = f"split({text}, '\\n')"
        n_lines = f"size({lines})"
        bullet = (f"size(filter({lines}, x ->"
                  f" substring(x, 1, 1) = '-' OR substring(x, 1, 1) = '*'"
                  f" OR substring(x, 1, 1) = '•'))")
        ellipsis = f"size(filter({lines}, x -> right(x, 3) = '...'))"
        alpha = f"size(filter({toks}, x -> x RLIKE '[A-Za-z]'))"
        stop_hits = f"size(filter({stop}, s -> array_contains({toks}, s)))"
    else:
        n_words = f"len({toks})"
        tok_chars = f"list_sum(list_transform({toks}, x -> length(x)))"
        lines = f"string_split({text}, chr(10))"
        n_lines = f"len({lines})"
        bullet = (f"len(list_filter({lines}, x ->"
                  f" substr(x, 1, 1) = '-' OR substr(x, 1, 1) = '*'"
                  f" OR substr(x, 1, 1) = '•'))")
        ellipsis = f"len(list_filter({lines}, x -> right(x, 3) = '...'))"
        alpha = (f"len(list_filter({toks}, x ->"
                 f" regexp_matches(x, '[A-Za-z]')))")
        stop_hits = (f"len(list_filter({stop}, s ->"
                     f" list_contains({toks}, s)))")
    hashes = f"(length({text}) - length(replace({text}, '#', '')))"
    ells = f"((length({text}) - length(replace({text}, '...', ''))) / 3)"
    # DuckDB's / is float division; make the ellipsis count integral
    # identically in both engines
    if dialect == "duck":
        ells = f"((length({text}) - length(replace({text}, '...', ''))) // 3)"
    dd = "DOUBLE"
    out = {
        "n_words": f"CAST({n_words} AS INT)",
        "mean_word_len": (f"CAST({tok_chars} AS {dd})"
                          f" / CAST(NULLIF({n_words}, 0) AS {dd})"),
        "symbol_ratio": (f"CAST({hashes} + {ells} AS {dd})"
                         f" / CAST(NULLIF({n_words}, 0) AS {dd})"),
        "frac_bullet_lines": (f"CAST({bullet} AS {dd})"
                              f" / CAST(NULLIF({n_lines}, 0) AS {dd})"),
        "frac_ellipsis_lines": (f"CAST({ellipsis} AS {dd})"
                                f" / CAST(NULLIF({n_lines}, 0) AS {dd})"),
        "frac_alpha_words": (f"CAST({alpha} AS {dd})"
                             f" / CAST(NULLIF({n_words}, 0) AS {dd})"),
        "n_stop_hits": f"CAST({stop_hits} AS INT)",
    }
    out["gopher_keep"] = (
        f"({out['n_words']} >= {GOPHER_MIN_WORDS}"
        f" AND {out['n_words']} <= {GOPHER_MAX_WORDS}"
        f" AND {out['mean_word_len']} >= {GOPHER_MIN_MEAN_WORD_LEN!r}"
        f" AND {out['mean_word_len']} <= {GOPHER_MAX_MEAN_WORD_LEN!r}"
        f" AND {out['symbol_ratio']} <= {GOPHER_MAX_SYMBOL_RATIO!r}"
        f" AND {out['frac_bullet_lines']} <= {GOPHER_MAX_BULLET_FRAC!r}"
        f" AND {out['frac_ellipsis_lines']} <= {GOPHER_MAX_ELLIPSIS_FRAC!r}"
        f" AND {out['frac_alpha_words']} >= {GOPHER_MIN_ALPHA_FRAC!r}"
        f" AND {out['n_stop_hits']} >= {GOPHER_MIN_STOP_HITS})"
    )
    return out


def gopher_flags(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc Gopher rule features + the keep flag — pure codegen
    column math, zero exchanges before any downstream aggregate."""
    ex = gopher_exprs(text_col, "spark")
    return df.select(
        F.col(id_col).alias("id"),
        *[F.expr(e).alias(k) for k, e in ex.items()],
    )
