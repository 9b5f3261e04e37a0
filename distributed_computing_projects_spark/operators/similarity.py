"""Approximate-nearest-neighbor search over an embedding column.

Two tiers (SURVEY.md §7.1 M6 / BASELINE.json scale extensions):

- ``brute_force_topk``: exact cosine top-k. One scan, JVM-side
  ``zip_with``/``aggregate`` math, ``TakeOrderedAndProject`` for the
  top-k (no global sort). The right baseline at any scale where a full
  scan is acceptable, and the recall oracle for the bucketed tier.
- ``lsh_topk``: sign-bit hyperplane LSH (``n_planes`` planes ->
  2^n_planes buckets; default 8 -> 256). The query's bucket prunes
  the scan to ~2^-n_planes of the data at the cost of recall;
  multi-probe = widen ``probe_hamming``.

``n_planes`` is the scale knob on every bucketed entry point here and
in ``dedup.embedding_neardup_pairs``: size it ~ log2(N /
target_bucket_size) so buckets stay roughly constant-sized as the
corpus grows (see the ``N_PLANES`` comment in ``functions/text.py``).

At 100 TB the bucketed variant is the difference between scanning
everything and scanning one partition-pruned slice:
``write_bucketed`` writes the table hive-partitioned by ``bucket``
and ``lsh_topk_bucketed`` probes it with an explicit bucket IN-list,
which Spark resolves as PartitionFilters — directory pruning, no data
read outside the probed buckets (plan-asserted in
``tests/test_plans.py``).

Dot products fold left-to-right in double in both engines (verified
bit-identical on the driver data), so cosine scores — and therefore
the top-k ranking — are oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from distributed_computing_projects_spark.functions import text as T
from distributed_computing_projects_spark.operators import storemeta


def _query_literal(query_vec: list[float], dialect: str) -> str:
    return T._float_array_literal([float(x) for x in query_vec], dialect)


def similarity_scores(
    emb: DataFrame, query_vec: list[float], id_col: str, vec_col: str
) -> DataFrame:
    """(id, cosine) against a fixed query vector."""
    q = _query_literal(query_vec, "spark")
    d = T.dot(vec_col, q, "spark")
    cos = T.cosine(d, T.sq_norm(vec_col, "spark"), T.sq_norm(q, "spark"))
    return emb.select(F.col(id_col).alias("id"), F.expr(cos).alias("cosine"))


def brute_force_topk(
    emb: DataFrame, query_vec: list[float], k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Exact top-k by cosine; ties broken by id for determinism."""
    return (
        similarity_scores(emb, query_vec, id_col, vec_col)
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def suggest_n_planes(n_rows: int, target_bucket_size: int = 1024) -> int:
    """The documented sizing rule as code: the plane count that keeps
    expected bucket occupancy at ``target_bucket_size`` for an
    ``n_rows`` corpus — ceil(log2(n_rows / target_bucket_size)),
    floored at 1. Within-bucket self-join work is then
    ~n_rows * target_bucket_size regardless of corpus size (linear,
    not quadratic). Plane p depends only on p, so re-sizing on a grown
    corpus REFINES the existing bucketing rather than reshuffling it."""
    import math

    if n_rows <= target_bucket_size:
        return 1
    return max(1, math.ceil(math.log2(n_rows / target_bucket_size)))


def query_bucket(query_vec: list[float], n_planes: int = T.N_PLANES) -> int:
    """Driver-side bucket of the query vector (same sign-bit formula as
    the column expression; plain Python floats are IEEE doubles)."""
    bucket = 0
    for p in range(n_planes):
        d = sum(float(x) * c for x, c in zip(query_vec, T.hyperplane(p)))
        if d >= 0:
            bucket += 1 << p
    return bucket


def probe_buckets(query_vec: list[float], probe_hamming: int,
                  n_planes: int = T.N_PLANES) -> list[int]:
    """All buckets within ``probe_hamming`` sign-bits of the query's —
    the explicit multi-probe IN-list. Driver-side enumeration is
    C(n_planes, <=probe_hamming) values (tiny for the small probe
    radii that make sense), and an explicit value list is what lets a
    hive-partitioned store prune directories instead of evaluating
    bit_count per partition."""
    from itertools import combinations

    qb = query_bucket(query_vec, n_planes)
    out = []
    for h in range(probe_hamming + 1):
        for flips in combinations(range(n_planes), h):
            b = qb
            for p in flips:
                b ^= 1 << p
            out.append(b)
    return sorted(out)


N_CENTROIDS = 16

# Fixed coarse quantizer: md5-derived centroids (same derivation as the
# hyperplanes), normalized to the UNIT SPHERE — with unnormalized
# centroids every near-orthogonal vector collapses into the
# smallest-norm cell (argmin |c|^2 - 2<v,c> ~ argmin |c|^2). On the
# sphere the assignment is by direction (spherical k-means). A
# production IVF trains the centroids; a FIXED quantizer keeps the
# assignment deterministic and oracle-checkable while exercising the
# identical plan shape (assign -> partition by cell -> probe nearest).
def _unit(vec: list[float]) -> list[float]:
    n = sum(x * x for x in vec) ** 0.5
    return [x / n for x in vec]


def seed_centroid(c: int) -> list[float]:
    """The md5-derived unit seed for cell ``c`` — the ONE definition of
    the centroid seed recipe (``IVF_CENTROIDS`` below and
    ``ivf_train.seed_centroids`` both derive from it)."""
    return _unit([
        ((T._h32(f"centroid-{c}-{j}") % 2001) - 1000) / 1000.0
        for j in range(T.EMBEDDING_DIM)
    ])


IVF_CENTROIDS = [seed_centroid(c) for c in range(N_CENTROIDS)]


def ivf_cell_expr(vec_col: str, dialect: str,
                  centroids: list[list[float]] | None = None) -> str:
    """argmin over squared L2 distance to each centroid; ties go to the
    lower centroid id. dist^2 = |v|^2 - 2<v,c> + |c|^2 — |v|^2 is
    common to all cells, so comparing (-2<v,c> + |c|^2) suffices and
    halves the float work. Scores are double folds — bit-identical
    across engines, so the argmin is too."""
    cents = IVF_CENTROIDS if centroids is None else centroids
    scores = []
    for cent in cents:
        lit = T._float_array_literal(cent, dialect)
        c2 = sum(x * x for x in cent)  # python double, exact literal
        scores.append(f"({repr(c2)} - 2 * {T.dot(vec_col, lit, dialect)})")
    arr = f"array({', '.join(scores)})" if dialect == "spark" else f"[{', '.join(scores)}]"
    if dialect == "spark":
        return (
            f"transform(array({arr}), A ->"
            f" array_position(A, array_min(A)))[0] - 1"
        )
    return f"list_transform([{arr}], A -> list_position(A, list_min(A)))[1] - 1"


def ivf_cells(query_vec: list[float], probes: int,
              centroids: list[list[float]] | None = None) -> list[int]:
    """Driver-side: the ``probes`` nearest cells to the query vector
    (same float math as the column expression)."""
    cents = IVF_CENTROIDS if centroids is None else centroids
    scored = []
    for c, cent in enumerate(cents):
        d = sum((float(x) - y) ** 2 for x, y in zip(query_vec, cent))
        scored.append((d, c))
    return [c for _, c in sorted(scored)[:probes]]


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str,
    vec_col: str,
    probes: int = 2,
) -> DataFrame:
    """IVF-flat ANN: scan only the ``probes`` inverted lists nearest the
    query. At scale the table is written partitioned by cell, so the
    IN-filter becomes partition pruning — the scan touches
    probes/N_CENTROIDS of the data."""
    cells = ivf_cells(query_vec, probes)
    scored = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.expr(ivf_cell_expr(vec_col, "spark")).alias("cell"),
    ).filter(F.col("cell").isin(cells))
    q = _query_literal(query_vec, "spark")
    cos = T.cosine(T.dot("v", q, "spark"), T.sq_norm("v", "spark"),
                   T.sq_norm(q, "spark"))
    return (
        scored.select("id", F.expr(cos).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str,
    vec_col: str,
    probe_hamming: int = 0,
    n_planes: int = T.N_PLANES,
) -> DataFrame:
    """Top-k within LSH buckets whose sign pattern is within
    ``probe_hamming`` bits of the query's bucket (0 = single probe).

    Computes buckets on the fly (full scan, pruned compute); for the
    scan-pruned variant over a pre-bucketed store see
    :func:`lsh_topk_bucketed`."""
    qb = query_bucket(query_vec, n_planes)
    scored = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.expr(T.lsh_bucket(vec_col, "spark", n_planes)).alias("bucket"),
    )
    pruned = scored.filter(
        F.expr(T.hamming("bucket", str(qb), "spark")) <= probe_hamming
    )
    q = _query_literal(query_vec, "spark")
    cos = T.cosine(T.dot("v", q, "spark"), T.sq_norm("v", "spark"),
                   T.sq_norm(q, "spark"))
    return (
        pruned.select("id", F.expr(cos).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def knn_join(
    emb: DataFrame, id_col: str, vec_col: str, k: int,
    n_planes: int = T.N_PLANES,
    persist: bool = True,
) -> DataFrame:
    """Top-k nearest neighbours for EVERY vector (id, neighbour_id,
    cosine, rank) — the KNN self-join between the fixed-query top-k
    and the threshold-pair dedup: what an embedding-dedup or
    retrieval-eval pipeline runs corpus-wide.

    Candidates are blocked by the same ``n_planes``-bit hyperplane LSH
    bucket as ``dedup.embedding_neardup_pairs`` (equi-join, never
    all-pairs: at N rows ~N^2/2^n_planes candidate pairs). Size
    ``n_planes`` ~ log2(N / target_bucket_size) so per-bucket work
    stays constant as N grows; the measured candidate-count curve is
    in README "Scale design". Ranking is one row_number window per
    source id with a (cosine desc, neighbour id) total order, so ties
    are deterministic. Two shuffles total at any scale: the bucket
    join and the rank window (the window repartitions by source id).

    ``persist``: the aliased self-join evaluates both sides and
    exchange reuse does not fire across them (verified: 2 FileScans,
    0 ReusedExchange) — without caching, the scan and the
    n_planes x dim bucket/norm float work run twice. Same pattern and
    opt-out as ``dedup.minhash_lsh_pairs``.

    Input is ``spread()`` like every other CPU-heavy self-join here:
    the per-pair cosine work is compute-dense but byte-light, and with
    a small single-split input the broadcast-join probe side inherits
    ONE partition — every candidate cosine on one core (measured 13x
    on the 10x stress corpus, SCALE.md). On a many-split 100 TB table
    spread() is a no-op.
    """
    from distributed_computing_projects_spark.operators.spread import spread

    b = spread(emb).selectExpr(
        f"{id_col} AS id",
        f"{vec_col} AS v",
        f"{T.lsh_bucket(vec_col, 'spark', n_planes)} AS bucket",
        f"{T.sq_norm(vec_col, 'spark')} AS nrm",
    )
    if persist:
        b = b.persist()
    a, bb = b.alias("a"), b.alias("b")
    cos = T.cosine(T.dot("a.v", "b.v", "spark"), "a.nrm", "b.nrm")
    return (
        a.join(bb, F.expr("a.bucket = b.bucket AND a.id <> b.id"))
        .selectExpr("a.id AS id", "b.id AS neighbour_id", f"{cos} AS cosine")
        .selectExpr(
            "*",
            "CAST(row_number() OVER (PARTITION BY id"
            " ORDER BY cosine DESC, neighbour_id ASC) AS BIGINT) AS `rank`",
        )
        .filter(f"`rank` <= {int(k)}")
    )


def _write_partitioned_store(
    emb: DataFrame, path: str, id_col: str, vec_col: str,
    key_expr: str, key_name: str,
) -> None:
    """Materialize (id, v, <key>) hive-partitioned by the ANN key: one
    directory per key value, assignment computed once at write time.
    This is the scale path the on-the-fly operators approximate — a
    probe reads ONLY the probed keys' directories (PartitionFilters),
    so query cost tracks the probed fraction regardless of corpus
    size. Write cost: one pass + one hash exchange on the key so each
    partition directory is written by one task (no small-file spray:
    one output file per key value, not tasks x keys)."""
    keyed = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.expr(key_expr).alias(key_name),
    )
    keyed.repartition(key_name).write.partitionBy(key_name).mode(
        "overwrite"
    ).parquet(path)


def write_bucketed(
    emb: DataFrame, path: str, id_col: str, vec_col: str,
    n_planes: int = T.N_PLANES,
) -> None:
    """LSH store: hive-partitioned by the ``n_planes``-bit hyperplane
    bucket (2^n_planes directories); probe with
    :func:`lsh_topk_bucketed`. The plane count is recorded in the
    store's ``_params`` sidecar so probes self-configure (storemeta)."""
    _write_partitioned_store(
        emb, path, id_col, vec_col,
        T.lsh_bucket(vec_col, "spark", n_planes), "bucket",
    )
    storemeta.write_params(path, "lsh_bucketed", {"n_planes": n_planes})


def write_ivf(emb: DataFrame, path: str, id_col: str, vec_col: str,
              centroids: list[list[float]] | None = None) -> None:
    """IVF store: hive-partitioned by coarse-quantizer cell (the
    inverted lists); probe with :func:`ivf_topk_partitioned`. The full
    centroid set rides in the ``_params`` sidecar — the store CARRIES
    its quantizer, so a probe can never score against different
    centroids than the ones that assigned the cells (and a trained
    quantizer needs no out-of-band handoff)."""
    cents = IVF_CENTROIDS if centroids is None else centroids
    _write_partitioned_store(
        emb, path, id_col, vec_col,
        ivf_cell_expr(vec_col, "spark", cents), "cell",
    )
    storemeta.write_params(path, "ivf", {"centroids": cents})


def append_ivf(emb: DataFrame, path: str, id_col: str, vec_col: str) -> None:
    """Epochal ANN ingest — the IVF counterpart of
    ``bandstore.append_bands``: assign a NEW batch of vectors with the
    store's OWN quantizer (the ``_params`` sidecar's centroids — an
    epoch can never be assigned with different centroids than the ones
    that bucketed the store) and append it hive-partitioned by cell.
    Probes see the new vectors immediately; at 100 TB the corpus
    embeddings are computed once and ingested incrementally, exactly
    like the dedup band store. Append is at-least-once under retries —
    :func:`compact_ivf_store` is the counterpart."""
    meta = storemeta.read_params(path)
    if meta is None or meta.get("kind") != "ivf":
        raise storemeta.StoreParamsError(
            f"append_ivf: {path!r} has no ivf sidecar"
        )
    cents = meta["centroids"]
    keyed = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.expr(ivf_cell_expr(vec_col, "spark", cents)).alias("cell"),
    )
    keyed.repartition("cell").write.partitionBy("cell").mode(
        "append"
    ).parquet(storemeta.data_path(path))


def compact_ivf_store(spark, path: str) -> tuple[int, int]:
    """Distinct-on-``id`` rewrite of an IVF store with the shared
    atomic-swap mechanics (:func:`storemeta.compact_partitioned_store`):
    reclaims duplicate rows from at-least-once epoch retries and folds
    each cell's accumulated per-epoch files into one."""
    return storemeta.compact_partitioned_store(
        spark, path, "ivf", "cell", ["id"]
    )


def ivf_topk_partitioned(
    spark,
    path: str,
    query_vec: list[float],
    k: int,
    probes: int = 2,
) -> DataFrame:
    """Top-k cosine probe against a :func:`write_ivf` store: the
    ``probes`` nearest inverted lists become a ``cell IN (...)``
    partition filter — directory pruning, the scan reads
    probes/n_centroids of the corpus. The quantizer comes from the
    store's sidecar (falling back to the fixed ``IVF_CENTROIDS`` for a
    pre-sidecar store, which is the only quantizer such a store can
    have been written with)."""
    meta = storemeta.read_params(path)
    if meta is not None and meta.get("kind") != "ivf":
        raise storemeta.StoreParamsError(
            f"store at {path} is kind={meta.get('kind')!r}, not an IVF "
            f"store"
        )
    cents = meta["centroids"] if meta is not None else None
    cells = ivf_cells(query_vec, probes, cents)
    pruned = spark.read.parquet(storemeta.data_path(path))\
        .filter(F.col("cell").isin(cells))
    q = _query_literal(query_vec, "spark")
    cos = T.cosine(T.dot("v", q, "spark"), T.sq_norm("v", "spark"),
                   T.sq_norm(q, "spark"))
    return (
        pruned.select("id", F.expr(cos).alias("cosine"))
        # distinct: append_ivf is at-least-once, so a retried epoch can
        # duplicate rows; without this a duplicate id would occupy two
        # of the k slots (rows are byte-identical — same id, same
        # cosine — so this is dedup, never a semantics change)
        .distinct()
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def lsh_topk_bucketed(
    spark,
    path: str,
    query_vec: list[float],
    k: int,
    probe_hamming: int = 0,
    n_planes: int | None = None,
) -> DataFrame:
    """Top-k cosine probe against a :func:`write_bucketed` store.

    The multi-probe set is enumerated driver-side
    (:func:`probe_buckets`) and applied as ``bucket IN (...)`` — on a
    hive-partitioned store that is partition PRUNING: non-probed
    directories are never listed into the scan.

    ``n_planes=None`` (the default) resolves the plane count from the
    store's ``_params`` sidecar; an explicit value raises on mismatch
    with the sidecar — the wrong count would probe the wrong
    directories and return confidently wrong top-k (storemeta)."""
    n_planes = storemeta.resolve(
        path, "lsh_bucketed", {"n_planes": n_planes}
    )["n_planes"]
    buckets = probe_buckets(query_vec, probe_hamming, n_planes)
    pruned = spark.read.parquet(storemeta.data_path(path))\
        .filter(F.col("bucket").isin(buckets))
    q = _query_literal(query_vec, "spark")
    cos = T.cosine(T.dot("v", q, "spark"), T.sq_norm("v", "spark"),
                   T.sq_norm(q, "spark"))
    return (
        pruned.select("id", F.expr(cos).alias("cosine"))
        # distinct: append_bucketed is at-least-once under retries —
        # same duplicate-safety discipline as ivf_topk_partitioned
        .distinct()
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def append_bucketed(emb: DataFrame, path: str, id_col: str,
                    vec_col: str) -> None:
    """Epochal ingest for the sign-bit LSH store: bucket a NEW batch
    with the store's OWN sidecar plane count (an epoch can never be
    bucketed with a different ``n_planes`` than the store — the
    silent-wrongness hazard storemeta exists for) and append it
    hive-partitioned by bucket. The LSH sibling of :func:`append_ivf`;
    at-least-once under retries — :func:`compact_bucketed_store` is
    the counterpart."""
    meta = storemeta.read_params(path)
    if meta is None or meta.get("kind") != "lsh_bucketed":
        raise storemeta.StoreParamsError(
            f"append_bucketed: {path!r} has no lsh_bucketed sidecar"
        )
    n_planes = int(meta["n_planes"])
    keyed = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.expr(T.lsh_bucket(vec_col, "spark", n_planes)).alias("bucket"),
    )
    keyed.repartition("bucket").write.partitionBy("bucket").mode(
        "append"
    ).parquet(storemeta.data_path(path))


def compact_bucketed_store(spark, path: str) -> tuple[int, int]:
    """Distinct-on-``id`` rewrite of an LSH bucketed store with the
    shared atomic-swap mechanics
    (:func:`storemeta.compact_partitioned_store`)."""
    return storemeta.compact_partitioned_store(
        spark, path, "lsh_bucketed", "bucket", ["id"]
    )
