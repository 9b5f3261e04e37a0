"""Deduplication operators for training-data pipelines.

Four families, each a standard large-scale construction:

- exact: hash-groupBy on normalized text (one shuffle, streaming agg);
- MinHash + LSH: shingle -> minhash signature -> banded bucket
  equi-join (Broder '97) — candidate generation never goes all-pairs,
  so it scales to 100 TB: the only joins are equi-joins on band keys;
- SimHash: 32-bit weighted fingerprint (Charikar '02) with a
  pigeonhole band join (hamming <= 3 over 4 bytes => >= 1 byte equal);
- n-gram Jaccard: EXACT verification of LSH candidates (never run on
  all pairs).

All expression work is generated by ``functions/text.py`` in the
"spark" dialect and stays inside whole-stage codegen — no Python UDFs
anywhere on these paths. The DuckDB oracles mirror the same fragments
in the "duck" dialect.

Reference anchor: the reference engine has no dedup; this is the
BASELINE.json scale-extension surface (SURVEY.md §7.1 M6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from distributed_computing_projects_spark.functions import text as T
from distributed_computing_projects_spark.operators.spread import (
    local_frame, spread,
)

NORM_TEXT_SPARK = "md5(lower(regexp_replace({col}, '\\\\s+', ' ')))"
NORM_TEXT_DUCK = "md5(lower(regexp_replace({col}, '\\s+', ' ', 'g')))"


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group by normalized-text hash; keep the smallest id as survivor.

    One hash-partial + final aggregate; no row data crosses the shuffle
    beyond (hash, id) — at 100 TB the shuffle payload is ~48 B/doc.
    """
    return (
        spread(df).select(
            F.expr(NORM_TEXT_SPARK.format(col=text_col)).alias("text_hash"),
            F.col(id_col),
        )
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, sig array<bigint>[N_PERMS]) over 3-word shingles.

    Docs with < 3 tokens have no shingles and are excluded (they cannot
    collide in any band).

    Precondition: ``id_col`` must be unique per document. The groupBy
    that collects the per-doc minima merges ALL rows sharing an id into
    one signature (union of their shingle sets) — it does not produce
    one signature per row. The reference corpus' doc_id is unique; a
    caller with duplicate ids must dedup or re-key first.

    Shape: explode the shingle-hash array to rows, then take all
    N_PERMS minima in ONE codegen'd hash aggregate. The md5 per
    shingle still runs exactly once (it lives in the explode
    projection), and unlike the previous ``aggregate()`` fold — whose
    per-element lambda is interpreted — the min aggregates stay inside
    whole-stage codegen: measured 2.8x faster at sf0.1/local[32].
    Cost: one groupBy(id) exchange of a single ~140 B row per doc
    (each doc's shingles sit in one input row, so partial aggregation
    finishes each doc map-side) — negligible against the hashing work
    at any scale. No-shingle docs simply produce no rows, which IS the
    exclusion rule (the fold needed an all-P sentinel filter).

    ``carry``: extra columns (constant per id — e.g. a source or
    batch flag) carried through the aggregate via ``first()`` so
    callers splitting one table by a flag need no join back."""
    sh = T.shingles(text_col, 3, "spark")
    hashes = f"transform({sh}, s -> {T.hash32('s', 'spark')} % {T.MERSENNE_P})"
    rows = spread(df).selectExpr(
        f"{id_col} AS id", *carry, f"explode({hashes}) AS h",
    )
    mins = ", ".join(
        f"min(({T.MINHASH_A[i]} * h + {T.MINHASH_B[i]}) % {T.MERSENNE_P})"
        for i in range(T.N_PERMS)
    )
    return rows.groupBy("id").agg(
        F.expr(f"array({mins}) AS sig"),
        *[F.expr(f"first({c}) AS {c}") for c in carry],
    )


def _banded(sigs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(id, sig, band, key[, carry...]): one row per signature per LSH
    band, the band key being the concatenated band rows. Signatures
    ride along (128 B) so estimated Jaccard needs no join back."""
    bands = ", ".join(
        f"named_struct('band', {b}, 'key', {T.band_key('sig', b, 'spark')})"
        for b in range(T.N_BANDS)
    )
    return sigs.selectExpr("id", "sig", *carry, f"inline(array({bands}))")


# One compact fold, not N_PERMS separate CASEs — the expanded form made
# the codegen stage pathologically slow to JIT (15 s first run). The
# divisor is a DOUBLE: a bare ``16.0`` in Spark SQL is a DECIMAL literal
# and would make the column decimal.
_EST_JACCARD = (
    "aggregate(zip_with(a.sig, b.sig, (x, y) -> CASE WHEN x = y THEN 1"
    f" ELSE 0 END), 0, (acc, v) -> acc + v) / CAST({T.N_PERMS} AS DOUBLE)"
    " AS est_jaccard"
)


def _at_least(col: str, threshold: float) -> str:
    """``col >= threshold`` with the threshold as a DOUBLE, not the
    DECIMAL a bare ``0.25`` parses to."""
    return f"{col} >= CAST('{float(threshold)!r}' AS DOUBLE)"


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Band the signatures and self-join per (band, band key).

    Equi-join on the band key: Spark plans a shuffled hash join keyed
    on (band, key) — never a cartesian.
    """
    banded = _banded(sigs)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, F.expr(
            "a.band = b.band AND a.key = b.key AND a.id < b.id"))
        .selectExpr("a.id AS id_a", "b.id AS id_b", _EST_JACCARD)
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5,
    persist: bool = True,
) -> DataFrame:
    """Near-duplicate candidate pairs with estimated Jaccard >= threshold.

    ``persist``: the banded self-join evaluates both sides, and
    exchange reuse does not fire across the aliased subplans — without
    caching, the md5/signature scan of the corpus runs twice. ~150
    B/doc, MEMORY_AND_DISK, so it spills rather than OOMs at scale.
    Spark's cache manager dedupes identical plans, so repeated calls on
    the same input reuse one entry; still, long-lived sessions cycling
    many DIFFERENT corpora should pass ``persist=False`` (or
    ``spark.catalog.clearCache()`` between corpora) — entries are not
    unpersisted here because the returned DataFrame is lazy.
    """
    sigs = minhash_signatures(df, id_col, text_col)
    if persist:
        sigs = sigs.persist()
    return lsh_candidate_pairs(sigs).filter(
        _at_least("est_jaccard", threshold))


def lsh_incremental_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental dedup: which NEW docs near-duplicate the EXISTING
    corpus — (new_id, corpus_id, est_jaccard) with estimated Jaccard
    >= threshold. The day-2 shape of every training pipeline: a fresh
    crawl batch is checked against what's already ingested, never by
    re-running the corpus-wide self-join.

    Plan: MinHash both sides, band both, equi-join NEW bands against
    CORPUS bands on (band, key) — candidate volume is
    |new ∩ corpus buckets|, not corpus². The batch side is typically
    orders of magnitude smaller than the corpus; AQE broadcasts it
    when its banded frame fits, so the corpus side never shuffles. At
    100 TB the corpus signatures/bands are computed ONCE and persisted
    as a table keyed by (band, key) (one pass per ingest epoch, same
    math as this on-the-fly construction); this function recomputes
    them so the differential oracle covers the whole path.

    Same unique-``id_col`` precondition as :func:`minhash_signatures`;
    ids may overlap across the two frames (no self-pair suppression is
    applied — sides are assumed disjoint).
    """
    a = _banded(minhash_signatures(new_df, id_col, text_col))
    b = _banded(minhash_signatures(corpus_df, id_col, text_col))
    return _incremental_join(a, b, threshold)


def lsh_incremental_pairs_single_scan(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_new,
    threshold: float = 0.5,
    persist: bool = True,
) -> DataFrame:
    """Same-table variant of :func:`lsh_incremental_pairs`: when batch
    and corpus are one table split by a flag (``is_new``: a boolean
    Column, constant per doc), signatures and bands are computed ONCE
    over the whole table instead of once per side — halving the scan
    and all the shingle/md5 work. ``persist`` caches the banded frame
    (~150 B x N_BANDS per doc) so the two filtered join sides read the
    cache instead of re-evaluating the pipeline; same opt-out rationale
    as :func:`minhash_lsh_pairs`."""
    sigs = minhash_signatures(
        df.withColumn("_is_new", is_new), id_col, text_col,
        carry=("_is_new",),
    )
    banded = _banded(sigs, carry=("_is_new",))
    if persist:
        banded = banded.persist()
    return _incremental_join(
        banded.filter("_is_new").drop("_is_new"),
        banded.filter("NOT _is_new").drop("_is_new"),
        threshold,
    )


def _incremental_join(
    banded_new: DataFrame, banded_corpus: DataFrame, threshold: float
) -> DataFrame:
    a, b = banded_new.alias("a"), banded_corpus.alias("b")
    return (
        a.join(b, F.expr("a.band = b.band AND a.key = b.key"))
        .selectExpr("a.id AS new_id", "b.id AS corpus_id", _EST_JACCARD)
        .distinct()
        .filter(_at_least("est_jaccard", threshold))
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5,
    candidate_only: bool = False,
) -> DataFrame:
    """EXACT shingle-set Jaccard, computed only on LSH candidates.

    The shingle sets are re-joined by id (equi-joins), so the expensive
    set intersection runs once per candidate pair, not per all-pairs.

    ``candidate_only``: shingle ONLY the docs that appear in a
    candidate pair (persist the pair frame, semi-join the corpus to
    its id set first). The right plan when |candidate docs| is far
    below the corpus — at 100 TB the default re-shingles the whole
    corpus for the two pair joins, the candidate-only path shingles a
    sliver. Off by default because at bench scale the inversion point
    hasn't been reached: measured best-of-6 at sf0.1/local[32] is
    1.30 s default vs 2.17 s candidate-only (the extra semi-join +
    distinct + cache materialization outweigh shingling 5k small
    docs). Results are identical (value-compared in tests).
    """
    cands = minhash_lsh_pairs(df, id_col, text_col, threshold=0.0)
    base = df
    if candidate_only:
        cands = cands.persist()
        cand_ids = (
            cands.select(F.col("id_a").alias(id_col))
            .union(cands.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        # no forced broadcast: a 10^9-candidate id set must be allowed
        # to shuffle; AQE broadcasts it when it is actually small
        base = df.join(cand_ids, id_col, "left_semi")
    sh = base.select(
        F.col(id_col).alias("id"),
        F.expr(T.shingles(text_col, 3, "spark")).alias("sh"),
    )
    j = (
        cands.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn("n_inter", F.expr("size(filter(sh_a, x -> array_contains(sh_b, x)))"))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.expr("size(sh_a) + size(sh_b)") - F.col("n_inter")).cast("double"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash bigint) — 32-bit weighted SimHash over token hashes.

    Same explode-to-rows + codegen-aggregate shape as
    :func:`minhash_signatures` (and for the same reason — the
    ``aggregate()`` fold's lambda is interpreted): one md5 per token in
    the explode projection, then 32 conditional-sum bit counters in a
    single hash aggregate, then the sign-to-bit fold on the 32 finished
    counters. Token-less docs produce no rows, which is the exclusion
    rule.

    Precondition: ``id_col`` unique per document — duplicate ids merge
    into ONE fingerprint over the union of their tokens (see
    :func:`minhash_signatures`)."""
    toks = T.tokens(text_col, "spark")
    hashes = f"transform({toks}, s -> {T.hash32('s', 'spark')})"
    rows = spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.expr(hashes)).alias("h"),
    )
    counters = [
        F.sum(F.expr(
            f"CASE WHEN shiftright(h, {j}) & 1 = 1 THEN 1 ELSE -1 END"
        )).alias(f"_c{j}")
        for j in range(T.SIMHASH_BITS)
    ]
    bits = " + ".join(
        f"(CASE WHEN _c{j} >= 0 THEN CAST({2 ** j} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(T.SIMHASH_BITS)
    )
    return (
        rows.groupBy("id").agg(*counters)
        .select("id", F.expr(f"({bits})").alias("simhash"))
    )


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    persist: bool = True,
) -> DataFrame:
    """Pairs within ``max_hamming`` bits, via a pigeonhole band join:
    hamming <= 3 over 4 bytes implies at least one byte is equal, so
    candidates come from 4 equi-joins (union), never all pairs.

    ``persist``: same rationale as :func:`minhash_lsh_pairs` — the
    self-join evaluates both aliased sides and exchange reuse does not
    fire across them (verified: executed plan shows 2 FileScans, 0
    ReusedExchange), so without caching the corpus is tokenized,
    md5'd, and bit-counted twice. ~16 B/doc cached (id + fingerprint),
    MEMORY_AND_DISK; measured ~2.5x at sf0.1/local[32]."""
    if max_hamming >= T.SIMHASH_BITS // 8:
        raise ValueError("pigeonhole banding needs max_hamming < n_bands")
    fp = simhash_fingerprints(df, id_col, text_col)
    if persist:
        fp = fp.persist()
    banded = fp.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(f"shiftright(simhash, {8 * b}) & 255").alias("byte"),
            )
            for b in range(4)
        ])).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.byte")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.byte") == F.col("b.byte"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.expr(T.hamming("a.simhash", "b.simhash", "spark")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., SoCC '14): every node connects
    its strictly-larger neighbours to the minimum of its neighbourhood
    (including itself).

    The neighbourhood minimum is a window min over the SAME partitioning
    the rows already need (by ``u``) — one shuffle per round, where the
    textbook groupBy-then-join-back costs two. Output intentionally NOT
    distinct'd: the following small-star round ends in a distinct, so an
    extra dedup shuffle here buys nothing (duplicate edges don't change
    any min).
    """
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    w = Window.partitionBy("u")
    return (
        sym.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient each edge large->small, then every node
    connects its smaller neighbours (and itself) to their minimum.
    Same one-shuffle window-min formulation as ``_large_star``; the
    closing distinct also dedups the (possibly non-distinct) large-star
    input."""
    e = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    w = Window.partitionBy("u")
    withmin = e.withColumn("m", F.min("v").over(w))
    out1 = withmin.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    # m < u always (m is the min over strictly-smaller neighbours);
    # one (u, m) self-edge per node — dedup handled by the distinct
    out2 = withmin.select("u", F.col("m").alias("v"))
    return out1.union(out2).distinct()


# Driver-replay bound for :func:`neardup_clusters`: edge sets at or
# below this collect to the driver (16 B/edge -> a few MB) and resolve
# by exact union-find; larger sets run the distributed star rounds.
# Connected components are UNIQUE, so the two paths are bit-identical
# by construction (cluster_id = min member id, sizes exact) — pinned
# in tests/test_extensions.py. Same size-adaptive discipline as
# ivf_train.MAX_DRIVER_TRAIN_ROWS: the star algorithm is the 100 TB
# path; paying ~20 KB-sized Spark stage-jobs of convergence loop on a
# KB-sized edge set is pure scheduler latency (measured r17: 29 -> ~9
# jobs, dedup_clusters 2.5 -> ~1.3 s at sf0.1/local[32]).
MAX_DRIVER_EDGES = 100_000


def _components_local(spark, edges: list, id_type) -> DataFrame:
    """Exact union-find over a small collected edge list (``(u, v)``
    rows of ids typed ``id_type``), emitting the same (id, cluster_id,
    is_keeper, cluster_size) table as the distributed star rounds —
    identical types (ids keep the edge column's type; cluster_size is
    the aggregate's BIGINT) and identical values (components are
    unique; the representative is the component minimum either way)."""
    from pyspark.sql.types import BooleanType, LongType, StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comps: dict = {}
    for node in parent:
        comps.setdefault(find(node), []).append(node)
    rows = []
    for members in comps.values():
        m = min(members)
        size = len(members)
        for node in members:
            rows.append((node, m, node == m, size))
    rows.sort()
    schema = StructType([
        StructField("id", id_type, True),
        StructField("cluster_id", id_type, True),
        StructField("is_keeper", BooleanType(), True),
        # count(*) is non-nullable on the star path; match it exactly
        StructField("cluster_size", LongType(), False),
    ])
    return local_frame(spark, rows, schema)


def neardup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup candidate pairs:
    (id, cluster_id, is_keeper, cluster_size) for every doc that
    appears in at least one pair; cluster_id = min member id.

    This is the step that turns pairwise dedup output into an
    actionable keep/drop decision (one keeper per cluster) — the
    reference has no analog; standard training-pipeline construction.

    Algorithm, size-adaptive (r17): edge sets at or below
    ``MAX_DRIVER_EDGES`` (known from one bounded collect of at most
    ``MAX_DRIVER_EDGES + 1`` edges) resolve by exact driver-side
    union-find — components are unique, so the output is
    bit-identical, and a KB-sized edge set pays one collect instead
    of ~8 scheduler-bound stage-jobs per star round. Above the bound:
    alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC '14) — converges in O(log n) rounds on
    ANY graph shape, unlike plain min-label propagation whose round
    count is the graph diameter (a 1M-doc chain of near-dups would
    need 1M rounds). Each round is two groupBy/join stages on the
    EDGE set only, which is orders of magnitude smaller than the
    corpus; every join is an equi-join.

    Per-round ``localCheckpoint`` truncates the iterative lineage
    (without it the plan doubles every round and Catalyst analysis
    time explodes). localCheckpoint trades fault-recovery for speed —
    lost executors lose blocks; for a multi-hour 100 TB run point
    ``spark.sparkContext.setCheckpointDir`` at durable storage and
    swap in ``checkpoint()``.

    Raises ``RuntimeError`` if not converged within ``max_iter``
    (loud beats silently-wrong components); 25 rounds covers any
    graph up to ~2^25 nodes with margin.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # lazy, yet not free: under AQE, turning the plan into the RDD
        # to checkpoint runs its shuffle-map stages to finalize it (5
        # jobs at this call on the sf0.01 documents edge set); the
        # bounded collect below then computes the pair set once, into
        # the checkpoint, and only an overflow reads it again
        .localCheckpoint(eager=False)
    )
    head = edges.limit(MAX_DRIVER_EDGES + 1).collect()
    if len(head) <= MAX_DRIVER_EDGES:
        # exact union-find on the whole (small) edge set; the star
        # loop below is the at-scale path (bit-identical output — see
        # _components_local)
        return _components_local(edges.sparkSession, head,
                                 edges.schema["u"].dataType)
    # Convergence = set equality of consecutive edge sets. Both sides
    # are distinct, so |nxt| == |edges| == |nxt ∩ edges| suffices —
    # and all three scalars come from ONE action per round (r17): a
    # left join of nxt against the already-materialized previous
    # checkpoint, aggregated to (count, matched-count). That single
    # job also materializes nxt's lazy checkpoint. The former shape
    # paid one count per round PLUS a short-circuit
    # exceptAll().isEmpty() on count-equal rounds (always including
    # the final one); this folds the fixed-point signal into the
    # count's own job — strictly fewer jobs per convergence loop, and
    # the join side it adds reads the previous round's checkpoint
    # blocks, not recomputed lineage. Action budget pinned by
    # tests/test_extensions.py::test_neardup_clusters_action_budget.
    n_edges = edges.count()
    for _ in range(max_iter):
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        stats = (
            nxt.join(edges.withColumn("_prev", F.lit(1)), ["u", "v"],
                     "left")
            .agg(F.count("*").alias("n"),
                 F.count("_prev").alias("n_common"))
            .first()
        )
        n_nxt = stats["n"]
        converged = n_nxt == n_edges and stats["n_common"] == n_nxt
        edges, n_edges = nxt, n_nxt
        if converged:
            break
    else:
        raise RuntimeError(f"components did not converge in {max_iter} rounds")
    assign = (
        edges.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
        .union(
            edges.select(F.col("v").alias("id"), F.col("v").alias("cluster_id"))
        )
        .distinct()
    )
    sizes = assign.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return assign.join(sizes, "cluster_id").select(
        "id",
        "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("is_keeper"),
        "cluster_size",
    )


def embedding_neardup_pairs(
    emb: DataFrame, id_col: str, vec_col: str, threshold: float = 0.9,
    n_planes: int = T.N_PLANES,
    persist: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicates, blocked by hyperplane LSH
    bucket: the join is an equi-join on the ``n_planes``-bit bucket
    (2^n_planes cells), so at N rows it touches ~N^2/2^n_planes pairs
    instead of N^2. ``n_planes`` is the knob that keeps that curve
    flat as N grows — size it ~ log2(N / target_bucket_size) (measured
    candidate-count-vs-planes curve in README "Scale design").

    Trade-off (documented, standard for SimHash-style blocking): pairs
    whose vectors land in different buckets are missed; at threshold
    0.9 the sign patterns agree with high probability. More planes
    trades recall for candidate volume the same way.

    ``persist``: same self-join double-scan rationale and opt-out as
    :func:`minhash_lsh_pairs` / ``similarity.knn_join``.
    """
    bucketed = spread(emb).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.expr(T.lsh_bucket(vec_col, "spark", n_planes)).alias("bucket"),
        F.expr(T.sq_norm(vec_col, "spark")).alias("nrm"),
    )
    if persist:
        bucketed = bucketed.persist()
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cos = F.expr(T.cosine(T.dot("a.v", "b.v", "spark"), "a.nrm", "b.nrm"))
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    spark,
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    centroids: list[tuple[int, list[float]]] | None = None,
    assign: str = "expr",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication blocked by TRAINED k-means cells instead of LSH
    buckets — cluster the embeddings, compare pairs only within a
    cluster, drop every point that has a more-senior (lower-id)
    near-duplicate there.

    Blocking is what makes the 100 TB version possible: the only join
    is an equi-join on the cell id (~N^2/k pairs instead of N^2, with
    k sized to the corpus), and the quantizer is the SAME trained
    k-means the IVF index uses (``ivf_train``) — one clustering pays
    for both the ANN index and the dedup pass, exactly the SemDeDup
    paper's construction. Corpus assignment is the baked argmin
    expression (narrow codegen, no driver data path); training is the
    sample-bounded step documented in ``operators/ivf_train.py``.

    Survivor rule: a row is dropped when ANY lower-id row in its cell
    has cosine >= ``threshold`` (the paper keeps one representative
    per semantic group; min-id is this repo's deterministic stand-in
    for their arbitrary choice). This is the greedy per-pair rule, not
    transitive closure — ``neardup_clusters`` is the component-exact
    alternative when chains matter.

    Returns ``(id, cell, is_kept)`` for every input row.

    ``assign``: ``"expr"`` (default) bakes the argmin into one codegen
    expression — right for the oracle-parity 16 cells; ``"join"`` uses
    ``ivf_train.assign_cells_join`` (broadcast centroid table +
    min-struct argmin) — exact at any k, but its N*k scoring scan is
    superlinear when k is sized to the corpus (N / target_cell_size;
    SemDeDup uses tens of thousands of clusters, and a k-term
    expression stops compiling long before that); ``"twolevel"`` uses
    ``ivf_train.assign_cells_two_level`` (coarse super-cell probe,
    then fine argmin within the probed supers — ~N*(1+p)*sqrt(k)
    folds) — the production path at sized k. Same score formula and
    tie-break all three ways ("expr"/"join" equality and "twolevel"
    agreement pinned in tests/test_semantic_dedup.py).
    """
    from distributed_computing_projects_spark.operators import (
        ivf_train as IVT,
    )

    if centroids is None:
        centroids = IVT.train(spark, emb, id_col, vec_col)
    if assign == "expr":
        assigned = spread(emb).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.expr(IVT.assign_cell_expr(vec_col, centroids, "spark"))
            .cast("bigint")
            .alias("cell"),
            F.expr(T.sq_norm(vec_col, "spark")).alias("nrm"),
        ).persist()
    elif assign == "join":
        assigned = (
            IVT.assign_cells_join(spread(emb), id_col, vec_col, centroids)
            .select(
                F.col(id_col).alias("id"),
                F.col(vec_col).alias("v"),
                F.col("cell").cast("bigint").alias("cell"),
                F.expr(T.sq_norm(vec_col, "spark")).alias("nrm"),
            )
            .persist()
        )
    elif assign == "twolevel":
        # carry the vector through the argmin aggregate: no join back,
        # assignment is ONE exchange end-to-end
        assigned = (
            IVT.assign_cells_two_level(
                spread(emb), id_col, vec_col, centroids,
                carry=(vec_col,),
            )
            .select(
                F.col(id_col).alias("id"),
                F.col(vec_col).alias("v"),
                F.col("cell").cast("bigint").alias("cell"),
                F.expr(T.sq_norm(vec_col, "spark")).alias("nrm"),
            )
            .persist()
        )
    else:
        raise ValueError(
            f"assign must be 'expr', 'join' or 'twolevel', got {assign!r}"
        )
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = F.expr(T.cosine(T.dot("a.v", "b.v", "spark"), "a.nrm", "b.nrm"))
    drops = (
        a.join(b, (F.col("a.cell") == F.col("b.cell"))
               & (F.col("a.id") < F.col("b.id")))
        .filter(cos >= threshold)
        .select(F.col("b.id").alias("id"))
        .distinct()
    )
    # the drop set is tiny (near-dups only), so the flag join
    # broadcasts at any corpus size
    return (
        assigned.join(
            F.broadcast(drops.withColumn("dropped", F.lit(True))),
            "id", "left",
        )
        .select(
            "id", "cell",
            F.coalesce(~F.col("dropped"), F.lit(True)).alias("is_kept"),
        )
    )


# ---------------------------------------------------------------------------
# C4-style global line dedup (Raffel et al. 2020 §2.2: any span
# occurring more than once in the corpus is kept exactly once).
# ---------------------------------------------------------------------------

LINE_DEDUP_MIN_CHARS = 20


def line_dedup(df: DataFrame, id_col: str, text_col: str,
               min_chars: int = LINE_DEDUP_MIN_CHARS) -> DataFrame:
    """Global line-level exact dedup, the C4 discipline at line
    granularity: every line of every doc participates in ONE global
    group-by-line; the first occurrence (lowest (doc id, position))
    is kept, every other occurrence anywhere in the corpus drops.
    Lines shorter than ``min_chars`` never dedup (boilerplate-short
    lines like headers would otherwise collapse unrelated docs — the
    C4 paper used three-sentence spans for the same reason).

    Returns per doc ``(id, n_lines, n_kept, kept_text)`` with
    ``kept_text`` the surviving lines re-joined in original order —
    fully value-checkable, so the oracle pins the reconstruction, not
    just the counts.

    Scale shape: one explode (narrow), one window over the line key
    (hash exchange on the line — the only data-sized shuffle; skew on
    a hot line is bounded because only rank 1 survives and AQE splits
    the straggler), one per-doc aggregate."""
    from pyspark.sql import Window

    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    rk = F.row_number().over(
        Window.partitionBy("line").orderBy("id", "pos")
    )
    flagged = lines.withColumn(
        "keep",
        (F.length("line") < min_chars) | (rk == 1),
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.concat_ws(
                "\n",
                F.expr(
                    "transform(array_sort(collect_list(CASE WHEN keep"
                    " THEN struct(pos, line) END)), s -> s.line)"
                ),
            ).alias("kept_text"),
        )
    )
