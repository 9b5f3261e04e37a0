"""Dual-dialect text/hashing expression builders.

Every builder renders the SAME computation as a SQL fragment in two
dialects: ``spark`` (consumed via ``F.expr`` inside DataFrame plans —
stays in whole-stage codegen, no Python UDFs) and ``duck`` (embedded in
the DuckDB oracle SQL). Generating both sides from one template is what
guarantees the differential harness compares identical math.

Hashing is md5-based because md5 is the one string hash both engines
share bit-for-bit; numeric hashes are the first 8 hex chars parsed as
an integer (< 2^32, so every subsequent ``a*h+b mod p`` stays far from
int64 overflow — DuckDB raises on overflow, Spark wraps, so staying
bounded is a correctness requirement, not a style choice).

MinHash/SimHash design follows the standard constructions (Broder '97;
Charikar '02) as used in large-scale web dedup; parameters are module
constants so Spark plan and oracle can never drift.
"""

from __future__ import annotations

import hashlib

# ---------------------------------------------------------------------------
# Deterministic constants (derived from md5 so no RNG / no seeds to drift).
# ---------------------------------------------------------------------------

MERSENNE_P = 2_147_483_647  # 2^31 - 1
N_PERMS = 16  # minhash signature length
N_BANDS = 4  # LSH bands (rows per band = N_PERMS // N_BANDS)
ROWS_PER_BAND = N_PERMS // N_BANDS
SIMHASH_BITS = 32
# DEFAULT hyperplane count for the embedding LSH -> 2^8 buckets. This
# is the recall/cost knob of every bucketed embedding operator: a
# within-bucket self-join touches ~N^2/2^n_planes candidate pairs, so
# size n_planes ~ log2(N / target_bucket_size) — e.g. ~1k-row buckets
# need n_planes ~ 17 at N=10^8 and ~20 at 10^9. Callers of
# ``lsh_bucket`` / ``knn_join`` / ``embedding_neardup_pairs`` /
# ``lsh_topk`` pass ``n_planes`` per call; the default matches the
# driver-scale oracles. Plane p's coefficients depend only on p, so
# raising n_planes REFINES the same bucketing (each bucket splits in
# two) rather than reshuffling it.
N_PLANES = 8
EMBEDDING_DIM = 64


def _h32(tag: str) -> int:
    return int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)


MINHASH_A = [(_h32(f"minhash-a-{i}") % (MERSENNE_P - 1)) + 1 for i in range(N_PERMS)]
MINHASH_B = [_h32(f"minhash-b-{i}") % MERSENNE_P for i in range(N_PERMS)]

# Hyperplanes with 3-decimal components in [-1, 1]: decimal literals of
# this form parse to identical doubles in every IEEE engine. Generated
# on demand so any plane count is available; plane p is a pure function
# of p (not of the total count).
_HYPERPLANE_CACHE: dict[int, list[float]] = {}


def hyperplane(p: int) -> list[float]:
    if p not in _HYPERPLANE_CACHE:
        _HYPERPLANE_CACHE[p] = [
            ((_h32(f"plane-{p}-{j}") % 2001) - 1000) / 1000.0
            for j in range(EMBEDDING_DIM)
        ]
    return _HYPERPLANE_CACHE[p]


HYPERPLANES = [hyperplane(p) for p in range(N_PLANES)]  # default-count view


def _check(dialect: str) -> None:
    if dialect not in ("spark", "duck"):
        raise ValueError(f"unknown dialect {dialect!r}")


# ---------------------------------------------------------------------------
# Tokens & shingles
# ---------------------------------------------------------------------------

def tokens(text: str, dialect: str) -> str:
    """Whitespace tokens, empties dropped (same split the reference's
    wordcount uses — strings.Fields, mp3/src/maple/wordcount.go:11)."""
    _check(dialect)
    if dialect == "spark":
        return f"filter(split({text}, '\\\\s+'), x -> x <> '')"
    return f"list_filter(string_split_regex({text}, '\\s+'), x -> x <> '')"


def shingles(text: str, n: int, dialect: str) -> str:
    """Distinct word n-gram shingles of ``text`` (space-joined)."""
    _check(dialect)
    toks = tokens(text, dialect)
    if dialect == "spark":
        parts = ", ".join(f"element_at(T, i + {k})" for k in range(n))
        gram = f"transform(sequence(1, size(T) - {n - 1}), i -> concat_ws(' ', {parts}))"
        body = (
            f"CASE WHEN size(T) >= {n} THEN array_distinct({gram}) "
            f"ELSE CAST(array() AS array<string>) END"
        )
        # bind T once via a lambda over a singleton array
        return f"transform(array({toks}), T -> {body})[0]"
    parts = ", ".join(f"T[i + {k}]" for k in range(n))
    gram = f"list_transform(range(1, len(T) - {n - 2}), i -> concat_ws(' ', {parts}))"
    body = (
        f"CASE WHEN len(T) >= {n} THEN list_distinct({gram}) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )
    return f"list_transform([{toks}], T -> {body})[1]"


def ngrams(text: str, n: int, dialect: str) -> str:
    """ALL word n-grams of ``text`` (space-joined), duplicates kept —
    the multiset :func:`shingles` collapses with its ``array_distinct``.
    Repetition metrics need the multiset: the duplicated-n-gram
    fraction is 1 - |distinct| / |all|."""
    _check(dialect)
    toks = tokens(text, dialect)
    if dialect == "spark":
        parts = ", ".join(f"element_at(T, i + {k})" for k in range(n))
        gram = f"transform(sequence(1, size(T) - {n - 1}), i -> concat_ws(' ', {parts}))"
        body = (
            f"CASE WHEN size(T) >= {n} THEN {gram} "
            f"ELSE CAST(array() AS array<string>) END"
        )
        return f"transform(array({toks}), T -> {body})[0]"
    parts = ", ".join(f"T[i + {k}]" for k in range(n))
    gram = f"list_transform(range(1, len(T) - {n - 2}), i -> concat_ws(' ', {parts}))"
    body = (
        f"CASE WHEN len(T) >= {n} THEN {gram} "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )
    return f"list_transform([{toks}], T -> {body})[1]"


def bpe_tokens(text: str, dialect: str) -> str:
    """BPE-ish pre-tokenization (GPT-2-style split classes: contraction
    suffixes, letter runs, digit runs, punctuation runs, with leading
    space attached). Both engines use leftmost-first alternation, so
    token streams are identical — verified on punctuated text.
    """
    _check(dialect)
    pat = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"
    if dialect == "spark":
        esc = pat.replace("\\", "\\\\").replace("'", "\\'")
        return f"regexp_extract_all({text}, '{esc}', 0)"
    esc = pat.replace("'", "''")
    return f"regexp_extract_all({text}, '{esc}')"


# ---------------------------------------------------------------------------
# Hashes
# ---------------------------------------------------------------------------

def hash32(expr: str, dialect: str) -> str:
    """First 32 bits of md5 as BIGINT — the portable base hash."""
    _check(dialect)
    if dialect == "spark":
        return f"CAST(conv(substring(md5({expr}), 1, 8), 16, 10) AS BIGINT)"
    return f"CAST(concat('0x', substring(md5({expr}), 1, 8)) AS BIGINT)"


def minhash_sig(hashes_arr: str, dialect: str) -> list[str]:
    """One fragment per permutation i: min over the doc's shingle hashes
    of (a_i * h + b_i) mod p. ``hashes_arr`` is an array<bigint> expr
    already reduced mod p."""
    _check(dialect)
    amin = "array_min" if dialect == "spark" else "list_min"
    tr = "transform" if dialect == "spark" else "list_transform"
    return [
        f"{amin}({tr}({hashes_arr}, h -> ({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MERSENNE_P}))"
        for i in range(N_PERMS)
    ]


def band_key(sig: str, band: int, dialect: str) -> str:
    """LSH band ``band``'s bucket key: its ``ROWS_PER_BAND`` signature
    rows as decimal strings joined by ``,``. Spark arrays index from 0,
    DuckDB lists from 1."""
    _check(dialect)
    rows = range(band * ROWS_PER_BAND, (band + 1) * ROWS_PER_BAND)
    if dialect == "spark":
        parts = ", ".join(f"CAST({sig}[{i}] AS STRING)" for i in rows)
    else:
        parts = ", ".join(f"CAST({sig}[{i + 1}] AS VARCHAR)" for i in rows)
    return f"concat_ws(',', {parts})"


def winnow(text: str, k: int, w: int, dialect: str) -> str:
    """Winnowing document fingerprint (Schleimer/Wilkerson/Aiken '03):
    hash every character k-gram (rolling window of the text), then keep
    the minimum hash of each window of ``w`` consecutive k-gram hashes.
    Output: sorted distinct selected hashes — robust to local edits,
    the standard near-copy fingerprint. All integer math via the md5
    base hash, so bit-identical across engines."""
    _check(dialect)
    if dialect == "spark":
        # NB: Spark sequence(1, 0) DESCENDS instead of being empty —
        # every sequence needs an emptiness CASE guard.
        grams = (
            f"CASE WHEN length({text}) >= {k} THEN"
            f" transform(sequence(1, length({text}) - {k - 1}),"
            f" i -> substring({text}, i, {k}))"
            f" ELSE CAST(array() AS array<string>) END"
        )
        hashes = f"transform({grams}, g -> {hash32('g', 'spark')} % {MERSENNE_P})"
        mins = (
            f"CASE WHEN size(H) >= {w} THEN"
            f" transform(sequence(1, size(H) - {w - 1}),"
            f" j -> array_min(slice(H, j, {w})))"
            f" ELSE CAST(array() AS array<bigint>) END"
        )
        return (
            f"transform(array({hashes}), H ->"
            f" array_sort(array_distinct({mins})))[0]"
        )
    grams = (
        f"list_transform(range(1, greatest(length({text}) - {k - 2}, 1)),"
        f" i -> substring({text}, i, {k}))"
    )
    hashes = f"list_transform({grams}, g -> {hash32('g', 'duck')} % {MERSENNE_P})"
    mins = (
        f"list_transform(range(1, greatest(len(H) - {w - 2}, 1)),"
        f" j -> list_min(H[j:j + {w - 1}]))"
    )
    return (
        f"list_transform([{hashes}], H ->"
        f" list_sort(list_distinct({mins})))[1]"
    )


def minhash_sig_onepass(hashes_arr: str) -> str:
    """Spark-only single-pass signature: fold the hash array ONCE,
    keeping all N_PERMS running minima in an accumulator array.

    The per-permutation fragments of :func:`minhash_sig` inline
    ``hashes_arr`` N_PERMS times — Catalyst does not share the
    subexpression across projection columns, so the md5 work runs 16x
    (measured 15x slower at sf0.1). Here the array appears once.
    Empty-shingle docs fold to all-MERSENNE_P sentinels (every real
    min is < P) — filter ``sig[0] < P`` afterwards so the hash
    expression is not duplicated into a pre-filter.
    """
    a_lit = f"array({', '.join(str(a) for a in MINHASH_A)})"
    b_lit = f"array({', '.join(str(b) for b in MINHASH_B)})"
    init = f"array_repeat(CAST({MERSENNE_P} AS BIGINT), {N_PERMS})"
    step = (
        f"zip_with(acc, sequence(0, {N_PERMS - 1}), (a, i) -> "
        f"least(a, (element_at({a_lit}, i + 1) * h"
        f" + element_at({b_lit}, i + 1)) % {MERSENNE_P}))"
    )
    return f"aggregate({hashes_arr}, {init}, (acc, h) -> {step})"


def simhash(hashes_arr: str, dialect: str) -> str:
    """Weighted SimHash over 32-bit token hashes: bit j of the output is
    the sign of sum(+1/-1 for bit j of each token hash). All-integer
    math, so bit-identical across engines."""
    _check(dialect)
    terms = []
    for j in range(SIMHASH_BITS):
        vote_sr = f"CASE WHEN shiftright(h, {j}) & 1 = 1 THEN 1 ELSE -1 END"
        vote = vote_sr if dialect == "spark" else f"CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END"
        if dialect == "spark":
            s = f"aggregate({hashes_arr}, 0L, (acc, h) -> acc + {vote})"
        else:
            s = f"list_sum(list_transform({hashes_arr}, h -> {vote}))"
        terms.append(f"(CASE WHEN {s} >= 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def hamming(a: str, b: str, dialect: str) -> str:
    _check(dialect)
    if dialect == "spark":
        return f"bit_count({a} ^ {b})"
    return f"bit_count(xor({a}, {b}))"  # ^ is power in DuckDB


# ---------------------------------------------------------------------------
# Embedding math (verified bit-identical across engines on the driver
# data: sequential left-to-right double accumulation in both).
# ---------------------------------------------------------------------------

def _float_array_literal(vals: list[float], dialect: str) -> str:
    body = ", ".join(repr(v) for v in vals)
    if dialect == "spark":
        return f"array({body})"
    return f"[{body}]"


def dot(a: str, b: str, dialect: str) -> str:
    """Sequential double dot product: fold is ((p1+p2)+p3)+... in both
    engines (Spark aggregate starts at 0.0 which is exact)."""
    # measured r6: this higher-order form beats a fully-expanded
    # 64-term codegen sum (a.v[0]*b.v[0] + ...) by ~6x on Spark 4
    # (0.95 s vs 5.8 s over ~500k pairs, local[8]) — per-element
    # element_at null-checking dwarfs the lambda dispatch; do NOT
    # "optimize" this into an unrolled expression
    _check(dialect)
    if dialect == "spark":
        prods = f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"
        return f"aggregate({prods}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    prods = (
        f"list_transform(list_zip({a}, {b}),"
        f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))"
    )
    return f"list_reduce({prods}, (acc, x) -> acc + x)"


def sq_norm(a: str, dialect: str) -> str:
    return dot(a, a, dialect)


def cosine(dot_expr: str, na: str, nb: str) -> str:
    """cos = dot / sqrt(na*nb): three correctly-rounded IEEE ops —
    dialect-independent once the inputs are bit-identical."""
    return f"({dot_expr} / sqrt({na} * {nb}))"


def plane_dot(emb: str, plane: int, dialect: str) -> str:
    return dot(emb, _float_array_literal(hyperplane(plane), dialect), dialect)


def lsh_bucket(emb: str, dialect: str, n_planes: int = N_PLANES) -> str:
    """Sign-bit hyperplane bucket in [0, 2^n_planes). ``n_planes`` is
    the candidate-volume knob (see the ``N_PLANES`` comment); buckets
    nest as planes are added, so the first ``N_PLANES`` bits agree with
    the default bucketing."""
    _check(dialect)
    bits = [
        f"(CASE WHEN {plane_dot(emb, p, dialect)} >= 0 THEN {2**p} ELSE 0 END)"
        for p in range(n_planes)
    ]
    return "(" + " + ".join(bits) + ")"
