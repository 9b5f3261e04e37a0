"""Trained IVF coarse quantizer: Lloyd (spherical k-means style)
iterations as DataFrame aggregates, oracle-exact.

The fixed md5-derived quantizer (``similarity.IVF_CENTROIDS``) is
deterministic but data-blind; production IVF trains its centroids so
the inverted lists track the actual vector distribution. This module
runs ``N_ITERS`` assignment/update rounds:

- **assignment** is a static argmin expression over centroid literals
  (round 0: the fixed centroids — the seeded init; later rounds: the
  previous update's centroids, collected to the driver and baked back
  in). A 16-row collect per round is the driver-side cost, bounded by
  ``n_centroids``, never by data.
- **update** computes each cell's mean vector with a PINNED float fold:
  members are sorted by id (``sort_array(collect_list(struct(id, v)))``)
  and each dimension is summed left-to-right in double — the same
  sequential-fold discipline as ``functions.text.dot``, so DuckDB's
  ``list(v ORDER BY id)`` + ``list_reduce`` reproduces every sum
  bit-for-bit and the whole training run is differentially checkable
  (iteration count, sample, and tie-breaks all pinned; ties in the
  argmin go to the lower cell id in both engines).

Scale shape: training runs on a deterministic hash sample
(``id % TRAIN_SAMPLE_MOD == 0``) — k-means training is always a
sample-bounded step; the per-cell ``collect_list`` holds one cell's
sample members, sized by the sample, not the corpus. The expensive
part — assigning the FULL corpus to trained cells — stays a narrow
codegen expression (:func:`assign_cell_expr`), exactly like the fixed
quantizer's path, and the trained store is written with
``similarity.write_ivf(..., centroids=...)`` whose ``_params`` sidecar
carries the quantizer to every future probe.

Reference parity note: the reference has no ANN surface at all; this
is BASELINE.json scale-extension surface (SURVEY §7.1 M6).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from distributed_computing_projects_spark.functions import text as T
from distributed_computing_projects_spark.operators import similarity as S
from distributed_computing_projects_spark.operators.spread import local_frame

TRAIN_SAMPLE_MOD = 5
N_ITERS = 2

# Driver-replay bound for :func:`train`: samples at or below this many
# rows are collected ONCE and the Lloyd rounds replayed driver-side
# (bit-exactly — see _train_local); larger samples keep the
# distributed per-round aggregate. 100k rows x EMBEDDING_DIM doubles
# is ~50 MB of payload — comfortably driver-sized, and a k-means
# TRAINING sample beyond that is past the method's own diminishing
# returns (the sample bounds the quantizer, not the corpus).
MAX_DRIVER_TRAIN_ROWS = 100_000


def _sum_fold(j: int, dialect: str) -> str:
    """Left-to-right double sum of dimension ``j`` over the sorted
    member array (``arr`` of struct<id,v> on Spark, ``vs`` list of
    vectors on DuckDB) — the pinned fold that makes the centroid mean
    engine-independent at the bit level."""
    if dialect == "spark":
        return (
            f"aggregate(arr, CAST(0 AS DOUBLE),"
            f" (acc, s) -> acc + CAST(s.v[{j}] AS DOUBLE))"
        )
    return (
        f"list_reduce(list_transform(vs,"
        f" v -> CAST(v[{j + 1}] AS DOUBLE)), (acc, x) -> acc + x)"
    )


def _py_sq_norm(vec: list[float]) -> float:
    # same fold as DuckDB list_reduce (starts at the first element)
    return reduce(lambda acc, x: acc + x, (c * c for c in vec))


def _py_dot(a: list[float], b: list[float]) -> float:
    return reduce(lambda acc, x: acc + x, (x * y for x, y in zip(a, b)))


def assign_cell_expr(
    vec_col: str, centroids: list[tuple[int, list[float]]], dialect: str
) -> str:
    """argmin cell over TRAINED centroids, as a static expression with
    baked literals: score_c = |c|^2 - 2<v,c> (the common-|v|^2 trick of
    ``similarity.ivf_cell_expr``), first-minimum wins — which, with the
    score array in ascending-cell order, is the lower cell id on ties,
    matching the oracle's ORDER BY (score, cell). Returns the ORIGINAL
    cell id even when some cells lost all members during training
    (``element_at`` over the surviving id list)."""
    cents = sorted(centroids)
    scores, ids = [], []
    for cell, cent in cents:
        c2 = _py_sq_norm(cent)
        lit = T._float_array_literal(cent, dialect)
        scores.append(f"({c2!r} - 2 * {T.dot(vec_col, lit, dialect)})")
        ids.append(str(cell))
    if dialect == "spark":
        arr = f"array({', '.join(scores)})"
        idl = f"array({', '.join(ids)})"
        return (
            f"element_at({idl}, CAST(transform(array({arr}),"
            f" A -> array_position(A, array_min(A)))[0] AS INT))"
        )
    arr = f"[{', '.join(scores)}]"
    idl = f"[{', '.join(ids)}]"
    return (
        f"list_extract({idl}, list_transform([{arr}],"
        f" A -> list_position(A, list_min(A)))[1])"
    )


def _train_local(
    rows, n_iters: int
) -> list[tuple[int, list[float]]]:
    """Driver-side bit-exact replay of the distributed Lloyd rounds
    over an already-collected sample (r17 optimization: one collect
    job replaces one agg+collect job PER ROUND).

    Exactness argument, op by op (pinned against the distributed path
    in tests/test_ivf_train.py):

    - assignment score ``c2 - 2*<v,c>``: ``c2`` is the same Python
      double the expression builders bake as a ``repr`` literal
      (round-trips exactly); the dot is ``functions.text.dot``'s
      left-to-right fold from 0.0 — replayed as a sequential loop
      over DIMENSIONS with one numpy elementwise multiply-then-add
      per step (numpy does not fuse or reorder within an elementwise
      op, so each row's fold order and rounding are identical to the
      codegen fold; 0.0 + x == x exactly, covering DuckDB's
      first-element seed too);
    - argmin: ``np.argmin`` takes the FIRST minimum over the
      ascending-cell score rows — exactly
      ``array_position(A, array_min(A))`` / the (score, cell)
      ORDER BY tie-break;
    - centroid mean: members sorted by (id, v) — the
      ``sort_array(collect_list(struct(id, v)))`` order — then one
      numpy vector add per member, i.e. the same per-dimension
      left-to-right fold from 0.0 as ``_sum_fold``, and the same
      sum/n double division.
    """
    import numpy as np

    ordered = sorted(rows, key=lambda r: (r["id"], tuple(r["v"])))
    V = np.asarray([r["v"] for r in ordered], dtype=np.float64)
    n, d = V.shape
    cents: list[tuple[int, list[float]]] | None = None
    for _ in range(n_iters):
        cent_list = (
            list(enumerate(S.IVF_CENTROIDS)) if cents is None
            else sorted(cents)
        )
        scores = np.empty((len(cent_list), n), dtype=np.float64)
        for k, (_, cent) in enumerate(cent_list):
            # same seed-at-zero builtin sum the expression bakes
            c2 = sum(float(x) * float(x) for x in cent)
            acc = np.zeros(n, dtype=np.float64)
            for j in range(d):
                acc = acc + V[:, j] * float(cent[j])
            scores[k] = c2 - 2.0 * acc
        assign = np.argmin(scores, axis=0)
        new_cents: list[tuple[int, list[float]]] = []
        for k, (cell, _) in enumerate(cent_list):
            members = V[assign == k]
            if len(members) == 0:
                continue
            acc = np.zeros(d, dtype=np.float64)
            for m in members:
                acc = acc + m
            new_cents.append(
                (int(cell), [float(x) / len(members) for x in acc])
            )
        cents = sorted(new_cents)
    return cents if cents is not None else []


def train(
    spark,
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_iters: int = N_ITERS,
    sample_mod: int = TRAIN_SAMPLE_MOD,
) -> list[tuple[int, list[float]]]:
    """``n_iters`` Lloyd rounds on the deterministic sample; returns
    sorted (cell, centroid) pairs — cells that lost every sample member
    drop out (their inverted list would be empty).

    When the sample fits the driver (``MAX_DRIVER_TRAIN_ROWS``), the
    sample is collected ONCE and the rounds replayed driver-side,
    bit-identically (see :func:`_train_local`) — one Spark job instead
    of one agg+collect job per round. Oversized samples keep the
    distributed per-round aggregate below."""
    dims = range(T.EMBEDDING_DIM)
    sample = emb.filter(F.col(id_col) % sample_mod == 0).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    # count before collecting: the distributed path below must not
    # pull up to MAX_DRIVER_TRAIN_ROWS + 1 sample rows to the driver
    if n_iters > 0 and (sample.limit(MAX_DRIVER_TRAIN_ROWS + 1).count()
                        <= MAX_DRIVER_TRAIN_ROWS):
        return _train_local(sample.collect(), n_iters)
    cents: list[tuple[int, list[float]]] | None = None
    for _ in range(n_iters):
        cell = (
            S.ivf_cell_expr("v", "spark")
            if cents is None
            else assign_cell_expr("v", cents, "spark")
        )
        grouped = (
            sample.select("id", "v", F.expr(cell).alias("cell"))
            .groupBy("cell")
            .agg(
                F.count("*").alias("n"),
                F.sort_array(
                    F.collect_list(F.struct(F.col("id"), F.col("v")))
                ).alias("arr"),
            )
        )
        rows = grouped.select(
            "cell", "n",
            *[F.expr(_sum_fold(j, "spark")).alias(f"s{j}") for j in dims],
        ).collect()
        cents = sorted(
            (int(r["cell"]), [r[f"s{j}"] / r["n"] for j in dims])
            for r in rows
        )
    return cents


def probe_cells(
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    probes: int,
) -> list[int]:
    """Driver-side: the ``probes`` best trained cells for the query
    (same score formula and tie-break as :func:`assign_cell_expr`;
    Python floats are IEEE doubles, so it agrees with the column
    expression bit-for-bit)."""
    q = [float(x) for x in query_vec]
    scored = sorted(
        (_py_sq_norm(cent) - 2 * _py_dot(q, cent), cell)
        for cell, cent in centroids
    )
    return [cell for _, cell in scored[:probes]]


def trained_topk(
    spark,
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str,
    vec_col: str,
    probes: int = 2,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-flat top-k with a TRAINED quantizer: train (or take
    ``centroids``), assign the corpus with the baked argmin expression
    (narrow codegen — the at-scale path), scan only the probed cells.
    Same output contract as ``similarity.ivf_topk``."""
    if centroids is None:
        centroids = train(spark, emb, id_col, vec_col)
    cells = probe_cells(query_vec, centroids, probes)
    scored = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.expr(assign_cell_expr(vec_col, centroids, "spark")).alias("cell"),
    ).filter(F.col("cell").isin(cells))
    q = T._float_array_literal([float(x) for x in query_vec], "spark")
    cos = T.cosine(T.dot("v", q, "spark"), T.sq_norm("v", "spark"),
                   T.sq_norm(q, "spark"))
    return (
        scored.select("id", F.expr(cos).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def oracle_ctes(
    sample_mod: int = TRAIN_SAMPLE_MOD, n_iters: int = N_ITERS
) -> str:
    """DuckDB CTE chain replaying the SAME training run in SQL: per
    round, assignment (round 0: the fixed-centroid static expression;
    later: a cross join against the previous centroids with ORDER BY
    (score, cell) — the tie-break :func:`assign_cell_expr` bakes in)
    then the pinned-fold mean. Exposes ``cfinal(cell, n, cent)``."""
    dims = range(T.EMBEDDING_DIM)
    folds = ", ".join(_sum_fold(j, "duck") for j in dims)
    parts = [
        f"smp AS (SELECT vec_id AS id, embedding AS v FROM embeddings"
        f" WHERE vec_id % {sample_mod} = 0)"
    ]
    for it in range(n_iters):
        if it == 0:
            parts.append(
                f"a{it} AS (SELECT id, v,"
                f" {S.ivf_cell_expr('v', 'duck')} AS cell FROM smp)"
            )
        else:
            score = (
                f"({T.sq_norm('c.cent', 'duck')}"
                f" - 2 * {T.dot('s.v', 'c.cent', 'duck')})"
            )
            parts.append(
                f"a{it} AS (SELECT s.id, s.v, c.cell"
                f" FROM smp s CROSS JOIN c{it - 1} c"
                f" QUALIFY row_number() OVER (PARTITION BY s.id"
                f" ORDER BY {score}, c.cell) = 1)"
            )
        parts.append(
            f"g{it} AS (SELECT cell, count(*) AS n,"
            f" list(v ORDER BY id) AS vs FROM a{it} GROUP BY cell)"
        )
        parts.append(
            f"c{it} AS (SELECT cell, n,"
            f" list_transform([{folds}], x -> x / n) AS cent FROM g{it})"
        )
    parts.append(
        f"cfinal AS (SELECT cell, n, cent FROM c{n_iters - 1})"
    )
    return ",\n    ".join(parts)


def seed_centroids(k: int) -> list[tuple[int, list[float]]]:
    """``k`` deterministic md5-derived unit centroids — the same seed
    recipe as ``similarity.IVF_CENTROIDS`` (whose 16 entries this
    reproduces for c < 16), for callers that need a quantizer sized to
    the corpus (cells ~ N / target_cell_size) rather than the fixed
    oracle-parity 16. Seeds, not Lloyd output: for blocking-cost
    purposes (SemDeDup cell sizing, stress sweeps) the assignment and
    pair-join cost is identical either way, and seeds need no training
    pass."""
    return [(c, S.seed_centroid(c)) for c in range(k)]


def assign_cells_join(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
) -> DataFrame:
    """argmin cell assignment via a BROADCAST JOIN against a centroid
    table instead of a baked expression: the large-k path.
    :func:`assign_cell_expr` inlines one score term per centroid into
    a single codegen expression — unbeatable for the oracle-parity 16
    cells, but a production quantizer sizes k to the corpus
    (N / target_cell_size; SemDeDup uses tens of thousands), where a
    k-term expression stops compiling.

    Shape: the centroids ship as a k-row broadcast table, each (row,
    centroid) pair scores with one fold, and the argmin is
    ``min(struct(score, cell))`` — struct ordering IS the (score, cell)
    tie-break, and min is a distributive aggregate, so the N*k scored
    rows collapse to N map-side and only (id, cell) rows cross the
    exchange (a row_number window here would shuffle all N*k rows).
    Same score formula and tie-break as the expression path, so the
    two agree exactly (pinned in tests/test_semantic_dedup.py).

    Honest cost note: scoring work is N*k folds; with k sized as
    N/cell_size that stage is superlinear. Production systems
    accelerate ASSIGNMENT itself with a coarse index over the
    centroids (hierarchical k-means) — that is
    :func:`assign_cells_two_level` below, which cuts the fold count
    to ~N*2*sqrt(k); this path keeps assignment exact (the oracle the
    two-level tests compare against) and pays the N*k scan."""
    score = F.expr(
        f"{T.sq_norm('cent', 'spark')}"
        f" - 2 * {T.dot(vec_col, 'cent', 'spark')}"
    )
    spark = emb.sparkSession
    cents = local_frame(
        spark,
        [(c, [float(x) for x in cent]) for c, cent in sorted(centroids)],
        "cell BIGINT, cent ARRAY<DOUBLE>",
    )
    best = (
        emb.select(id_col, vec_col)
        .crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col),
            F.struct(score.alias("score"), F.col("cell")).alias("sc"),
        )
        .groupBy(id_col)
        .agg(F.min("sc").alias("m"))
        .select(F.col(id_col), F.col("m.cell").alias("cell"))
    )
    return emb.join(best, id_col)


# ---------------------------------------------------------------------------
# Two-level coarse assignment: the hierarchical-k-means index over the
# CENTROIDS that makes sized-k assignment subquadratic.
# ---------------------------------------------------------------------------

SUPER_ITERS = 2


def super_seed(s: int) -> list[float]:
    """md5-derived unit seed for SUPER-cell ``s`` — a distinct recipe
    from :func:`similarity.seed_centroid` so a seeded fine quantizer
    never coincides with its own coarse index."""
    return S._unit([
        ((T._h32(f"super-{s}-{j}") % 2001) - 1000) / 1000.0
        for j in range(T.EMBEDDING_DIM)
    ])


def super_centroids(
    centroids: list[tuple[int, list[float]]],
    n_super: int | None = None,
    n_iters: int = SUPER_ITERS,
) -> tuple[list[tuple[int, list[float]]], list[tuple[int, int]]]:
    """Cluster the ``k`` fine CENTROIDS (not the corpus) into
    ``n_super`` (default ``isqrt(k)``) super-cells: ``n_iters``
    Lloyd rounds, seeded by :func:`super_seed`, run entirely on the
    driver — the input is the quantizer itself, k rows, never data.

    Returns ``(supers, mapping)``: ``supers`` is the surviving
    super-centroid list ``[(super_id, vec)]`` renumbered 0..m-1, and
    ``mapping`` is ``[(cell, super_id)]`` assigning every fine cell to
    its nearest surviving super-centroid (ties to the lower super id).
    Both are plain-Python double literals, so Spark and the DuckDB
    oracle consume bit-identical quantizers; determinism needs only
    run-to-run stability here (numpy fixed-shape reductions), because
    NEITHER engine ever recomputes this step — they replay the baked
    literals.
    """
    import math

    import numpy as np

    cents = sorted(centroids)
    k = len(cents)
    if n_super is None:
        n_super = max(1, math.isqrt(k))
    if n_super >= k:
        supers = [(i, [float(x) for x in c]) for i, (_, c) in enumerate(cents)]
        return supers, [(cell, i) for i, (cell, _) in enumerate(cents)]
    C = np.asarray([c for _, c in cents], dtype=np.float64)  # k x d
    S_ = np.asarray([super_seed(s) for s in range(n_super)])  # m x d
    for _ in range(n_iters):
        # score = |s|^2 - 2<c,s>; argmin ties -> first = lower id
        sc = (S_ * S_).sum(axis=1)[None, :] - 2.0 * (C @ S_.T)
        assign = np.argmin(sc, axis=1)
        alive = np.unique(assign)  # sorted; empties drop out
        S_ = np.stack([C[assign == s].mean(axis=0) for s in alive])
    sc = (S_ * S_).sum(axis=1)[None, :] - 2.0 * (C @ S_.T)
    assign = np.argmin(sc, axis=1)
    alive = np.unique(assign)
    renum = {int(s): i for i, s in enumerate(alive)}
    supers = [(renum[int(s)], [float(x) for x in S_[s]]) for s in alive]
    mapping = [
        (cell, renum[int(a)]) for (cell, _), a in zip(cents, assign)
    ]
    return supers, mapping


def probe_supers_expr(
    vec_col: str,
    supers: list[tuple[int, list[float]]],
    probes: int,
    dialect: str,
) -> str:
    """Top-``probes`` super-cells for a vector, as ONE static
    expression over baked literals (Spark dialect returns an
    ``array<bigint>`` of super ids; DuckDB a ``BIGINT[]``): compute
    every super score once, ``array_sort`` the (score, super) structs
    — lexicographic struct order IS the (score, id) tie-break — and
    slice the first ``probes``. Narrow codegen, zero exchange: the
    whole stage-1 of :func:`assign_cells_two_level`. The m score
    terms inline one ``EMBEDDING_DIM``-element literal each, the same
    compile envelope as :func:`assign_cell_expr` (fine to a few
    hundred supers = tens of thousands of fine cells; past that,
    recurse the construction)."""
    sups = sorted(supers)
    scores, ids = [], []
    for sid, cent in sups:
        c2 = _py_sq_norm([float(x) for x in cent])
        lit = T._float_array_literal([float(x) for x in cent], dialect)
        scores.append(f"({c2!r} - 2 * {T.dot(vec_col, lit, dialect)})")
        ids.append(f"CAST({sid} AS BIGINT)")
    p = min(probes, len(sups))
    if dialect == "spark":
        zipped = (
            f"zip_with(array({', '.join(scores)}),"
            f" array({', '.join(ids)}),"
            f" (s, i) -> struct(s AS score, i AS super))"
        )
        return (
            f"transform(slice(array_sort({zipped}), 1, {p}),"
            f" x -> x.super)"
        )
    zipped = (
        f"list_zip([{', '.join(scores)}], [{', '.join(ids)}])"
    )
    return (
        f"list_transform(list_sort({zipped})[1:{p}], x -> x[2])"
    )


SUPER_PROBES = 3


def assign_cells_two_level(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    supers: list[tuple[int, list[float]]] | None = None,
    mapping: list[tuple[int, int]] | None = None,
    super_probes: int = SUPER_PROBES,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Two-level (coarse-then-fine) cell assignment — the production
    path for a quantizer SIZED TO THE CORPUS (k = N/cell_size), where
    :func:`assign_cells_join`'s exact N*k scan is the engine's one
    superlinear stage.

    Stage 1 ranks the ``m ~ sqrt(k)`` SUPER centroids per row with
    :func:`probe_supers_expr` (one baked expression — zero exchange)
    and explodes the top ``super_probes`` (multi-probe: with one
    probe, a row whose true-nearest fine cell sits just across a
    super boundary gets a neighbor cell; probing 3 supers recovers
    most of that, and probing all m is EXACT — the tests' equality
    anchor). Stage 2 scores the row only against the fine cells
    MAPPED to its probed supers (broadcast equi-join on ``super``,
    then ``min(struct(score, cell))`` — the same distributive
    map-side argmin as the exact path, so only (id, cell) rows cross
    the one exchange). Fold count: ``N*(m + p*k/m) ~ N*(1+p)*sqrt(k)``
    instead of ``N*k`` — at k=1000, p=3 that is ~8x less scoring
    work, and the ratio widens with k.

    Approximation contract (standard for hierarchical assignment —
    two-level IVF / IMI): rows can land in a near-nearest cell. The
    result is still a deterministic function of (row, centroids,
    supers, p) with the same score formula and (score, id)
    tie-breaks at both stages, so the DuckDB oracle replays it
    bit-for-bit from the same baked literals; agreement vs
    :func:`assign_cells_join` is measured, not assumed
    (tests/test_semantic_dedup.py). For SemDeDup blocking the
    approximation is benign by construction: two near-duplicate
    vectors score near-identically everywhere, so they probe the
    same supers and land in the same cell together.

    Output contract: by default like :func:`assign_cells_join` —
    ``emb`` plus a ``cell`` column (a join back on ``id_col``, one
    full-corpus reshuffle). Passing ``carry`` (column names to ride
    through the argmin aggregate via ``first`` — they're constant per
    id, and already present in the scoring rows) skips the join back
    and returns ``(id_col, *carry, cell)``: ONE exchange total, the
    at-scale shape.
    """
    if supers is None or mapping is None:
        supers, mapping = super_centroids(centroids)
    spark = emb.sparkSession
    cell2super = dict(mapping)
    cents_rows = [
        (
            cell2super[c],
            c,
            _py_sq_norm([float(x) for x in cent]),
            [float(x) for x in cent],
        )
        for c, cent in sorted(centroids)
    ]
    cents = local_frame(
        spark, cents_rows,
        "super BIGINT, cell BIGINT, c2 DOUBLE, cent ARRAY<DOUBLE>",
    )
    staged = emb.select(
        F.col(id_col),
        F.col(vec_col),
        *[F.col(c) for c in carry if c != vec_col],
        F.explode(
            F.expr(probe_supers_expr(vec_col, supers, super_probes,
                                     "spark"))
        ).alias("super"),
    )
    c_score = F.expr(f"c2 - 2 * {T.dot(vec_col, 'cent', 'spark')}")
    best = (
        staged.join(F.broadcast(cents), "super")
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry],
            F.struct(c_score.alias("score"), F.col("cell")).alias("sc"),
        )
        .groupBy(id_col)
        .agg(
            F.min("sc").alias("m"),
            *[F.first(c).alias(c) for c in carry],
        )
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry],
            F.col("m.cell").alias("cell"),
        )
    )
    if carry:
        return best
    return emb.join(best, id_col)
