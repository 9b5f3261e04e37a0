"""Shared oracle fragments and cross-family constants for the
scale-extension query families (split from the former monolithic
``extensions.py`` in round 7; the family modules are ``ext_dedup``,
``ext_ann``, ``ext_text``, ``ext_multimodal``, ``ext_pipeline``).

Every oracle is generated from the SAME dual-dialect fragment builders
(``functions/text.py``) as the Spark plan, so the differential harness
compares identical math. The fragments here are the ones used by more
than one family (MinHash CTE chain, token lists, incremental-ingest
oracles, gate/chunk constants); family-local fragments live with their
family.
"""

from __future__ import annotations

from distributed_computing_projects_spark.functions import text as T
from distributed_computing_projects_spark.operators import ivf_train as IVT

_SH_D = T.shingles("text", 3, "duck")


_HASHES_D = f"list_transform({_SH_D}, s -> {T.hash32('s', 'duck')} % {T.MERSENNE_P})"


_SIG_D = ", ".join(T.minhash_sig("hs", "duck"))


def _band_selects(carry: str = "") -> str:
    """The banding of ``dedup._banded``: one row per signature per
    band, with ``carry`` columns riding along."""
    return " UNION ALL ".join(
        f"SELECT id, {carry}sig, {b} AS band,"
        f" {T.band_key('sig', b, 'duck')} AS key FROM sigs"
        for b in range(T.N_BANDS)
    )


_BAND_SELECTS = _band_selects()


_N_EQ_D = " + ".join(
    f"(CASE WHEN sig_a[{i + 1}] = sig_b[{i + 1}] THEN 1 ELSE 0 END)"
    for i in range(T.N_PERMS)
)


_LSH_CTES = f"""
    hashed AS (SELECT doc_id AS id, {_HASHES_D} AS hs FROM documents),
    sigs AS (SELECT id, [{_SIG_D}] AS sig FROM hashed WHERE len(hs) >= 1),
    bands AS ({_BAND_SELECTS}),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.id < b.id)
"""


MINHASH_THRESHOLD = 0.25


JACCARD_THRESHOLD = 0.2


SIMHASH_MAX_HAMMING = 3


COSINE_THRESHOLD = 0.3  # driver embeddings are near-orthogonal; in-bucket max ~0.40


ANN_K = 10


ANN_PROBE_HAMMING = 2


# Fixed ANN query vector, same derivation as the hyperplanes.
ANN_QUERY_VEC = [
    ((T._h32(f"query-{j}") % 2001) - 1000) / 1000.0 for j in range(T.EMBEDDING_DIM)
]


_TOKS_D = T.tokens("text", "duck")


_THASHES_D = f"list_transform({_TOKS_D}, s -> {T.hash32('s', 'duck')})"


CHUNK_TOKENS = 64


CHUNK_OVERLAP = 16


_CHUNK_STEP = CHUNK_TOKENS - CHUNK_OVERLAP


GATE_MIN_TOKENS = 20


GATE_MIN_DISTINCT = 0.3


INCR_BATCH_SOURCE = "src0"


# the source column rides along so the oracle can split batch vs
# corpus after banding
_BAND_SELECTS_SRC = _band_selects("source, ")


_INCR_ORACLE = f"""
    WITH hashed AS (SELECT doc_id AS id, source, {_HASHES_D} AS hs FROM documents),
    sigs AS (SELECT id, source, [{_SIG_D}] AS sig FROM hashed WHERE len(hs) >= 1),
    bands AS ({_BAND_SELECTS_SRC}),
    cand AS (
      SELECT DISTINCT a.id AS new_id, b.id AS corpus_id,
             a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key
       AND a.source = '{INCR_BATCH_SOURCE}' AND b.source <> '{INCR_BATCH_SOURCE}')
    SELECT new_id, corpus_id, ({_N_EQ_D}) / {float(T.N_PERMS)} AS est_jaccard
    FROM cand
    WHERE ({_N_EQ_D}) / {float(T.N_PERMS)} >= {MINHASH_THRESHOLD}
    """


# Two-epoch sequential ingest (the streaming landing-zone contract):
# epoch 1 (src0) probes the original corpus and its SURVIVORS' bands
# are appended; epoch 2 (src1) then probes corpus + epoch-1 survivors.
# The oracle mirrors that sequence: p1 = src0 vs corpus pairs, p2 =
# src1 vs (corpus OR src0-survivors) pairs, where a survivor is a src0
# doc absent from p1's new_id side. Used by
# queries/streaming_queries.py:q_streaming_dedup_ingest_epochs.
#
# The driver corpus has NO natural src1-vs-src0 near-dups (verified:
# zero band collisions at any threshold), so epoch 2 additionally
# carries deterministic ECHO docs — exact copies of every src0 doc
# with doc_id % ECHO_EVERY == 0, id-shifted by ECHO_OFFSET — which hit
# their epoch-1 originals' appended bands: the cross-batch case is
# exercised by construction, in both engines identically.
EPOCH2_SOURCE = "src1"


ECHO_OFFSET = 10_000_000


ECHO_EVERY = 100


_ECHO_UNION = f"""
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + {ECHO_OFFSET} AS doc_id,
             '{EPOCH2_SOURCE}' AS source, text
      FROM documents
      WHERE source = '{INCR_BATCH_SOURCE}' AND doc_id % {ECHO_EVERY} = 0
"""


_INCR_EPOCHS_ORACLE = f"""
    WITH ingest AS ({_ECHO_UNION}),
    hashed AS (SELECT doc_id AS id, source, {_HASHES_D} AS hs FROM ingest),
    sigs AS (SELECT id, source, [{_SIG_D}] AS sig FROM hashed WHERE len(hs) >= 1),
    bands AS ({_BAND_SELECTS_SRC}),
    cand AS (
      SELECT DISTINCT a.id AS new_id, a.source AS new_src,
             b.id AS corpus_id, b.source AS corpus_src,
             a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key
       AND a.source IN ('{INCR_BATCH_SOURCE}', '{EPOCH2_SOURCE}')
       AND (b.source NOT IN ('{INCR_BATCH_SOURCE}', '{EPOCH2_SOURCE}')
            OR (a.source = '{EPOCH2_SOURCE}'
                AND b.source = '{INCR_BATCH_SOURCE}'))),
    scored AS (
      SELECT new_id, new_src, corpus_id, corpus_src,
             ({_N_EQ_D}) / {float(T.N_PERMS)} AS est_jaccard
      FROM cand
      WHERE ({_N_EQ_D}) / {float(T.N_PERMS)} >= {MINHASH_THRESHOLD}),
    p1 AS (
      SELECT new_id, corpus_id, est_jaccard FROM scored
      WHERE new_src = '{INCR_BATCH_SOURCE}'
        AND corpus_src NOT IN ('{INCR_BATCH_SOURCE}', '{EPOCH2_SOURCE}')),
    p2 AS (
      SELECT new_id, corpus_id, est_jaccard FROM scored
      WHERE new_src = '{EPOCH2_SOURCE}'
        AND (corpus_src NOT IN ('{INCR_BATCH_SOURCE}', '{EPOCH2_SOURCE}')
             OR (corpus_src = '{INCR_BATCH_SOURCE}'
                 AND corpus_id NOT IN (SELECT new_id FROM p1))))
    SELECT new_id, corpus_id, est_jaccard FROM p1
    UNION ALL
    SELECT new_id, corpus_id, est_jaccard FROM p2
    """


# ---------------------------------------------------------------------------
# Two-level coarse-assignment quantizer literals (shared by
# dedup_semantic_twolevel and ann_ivf_twolevel_topk): a k=64 seeded
# quantizer standing in for the production k=N/cell_size, with its
# driver-side coarse index — all plain-double literals both engines
# replay bit-for-bit.
# ---------------------------------------------------------------------------

TL_K = 64
TL_CENTS = IVT.seed_centroids(TL_K)
TL_SUPERS, TL_MAPPING = IVT.super_centroids(TL_CENTS)
_TL_CELL2SUPER = dict(TL_MAPPING)
TL_CMAP_VALUES = ",\n      ".join(
    f"({_TL_CELL2SUPER[c]}, {c},"
    f" {IVT._py_sq_norm([float(x) for x in cent])!r},"
    f" {T._float_array_literal([float(x) for x in cent], 'duck')})"
    for c, cent in TL_CENTS
)

# the two assignment stages as DuckDB CTEs: a1 explodes the top-p
# probed supers per row (same baked expression as the Spark side), a2
# argmins the fine cells under them with the (score, cell) tie-break
TL_ASSIGN_CTES = f"""
    a1 AS (
      SELECT vec_id AS id, embedding AS v,
             unnest({IVT.probe_supers_expr('embedding', TL_SUPERS,
                                           IVT.SUPER_PROBES, 'duck')})
               AS super
      FROM embeddings),
    cmap AS (
      SELECT CAST(super AS BIGINT) AS super, CAST(cell AS BIGINT) AS cell,
             CAST(c2 AS DOUBLE) AS c2, CAST(cent AS DOUBLE[]) AS cent
      FROM (VALUES {TL_CMAP_VALUES}) t(super, cell, c2, cent)),
    a2 AS (
      SELECT a.id, a.v, c.cell
      FROM a1 a JOIN cmap c ON a.super = c.super
      QUALIFY row_number() OVER (PARTITION BY a.id
        ORDER BY (c.c2 - 2 * {T.dot('a.v', 'c.cent', 'duck')}), c.cell) = 1)
"""
