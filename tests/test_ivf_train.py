"""Trained IVF quantizer (operators/ivf_train.py): deterministic
training, tie-break/argmin agreement between the baked expression and
the driver-side scorer, and the trained store carrying its quantizer
through the _params sidecar."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_computing_projects_spark.functions import text as T
from distributed_computing_projects_spark.operators import (
    ivf_train as IVT,
    similarity as S,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_train_deterministic(spark):
    emb = _emb(spark)
    a = IVT.train(spark, emb, "vec_id", "embedding")
    b = IVT.train(spark, emb, "vec_id", "embedding")
    assert a == b  # bit-exact across runs (pinned folds, pinned sample)
    assert 1 <= len(a) <= S.N_CENTROIDS
    for cell, cent in a:
        assert 0 <= cell < S.N_CENTROIDS
        assert len(cent) == T.EMBEDDING_DIM


def test_driver_replay_matches_distributed_training(spark, monkeypatch):
    """The r17 driver-side Lloyd replay must be BIT-identical to the
    distributed agg+collect rounds it replaces (same folds, same
    argmin tie-breaks, same sum/n division) — compared as exact float
    equality over every centroid component, for 1 and 2 rounds. The
    forced distributed path must not collect the sample at all."""
    emb = _emb(spark)
    cls = type(emb)
    real_collect = cls.collect
    collected = []

    def spy(df):
        collected.append(df.columns)
        return real_collect(df)

    for n_iters in (1, 2):
        monkeypatch.setattr(cls, "collect", spy)
        fast = IVT.train(spark, emb, "vec_id", "embedding",
                         n_iters=n_iters)
        assert collected == [["id", "v"]]  # one driver-path collect
        collected.clear()
        monkeypatch.setattr(IVT, "MAX_DRIVER_TRAIN_ROWS", 0)
        slow = IVT.train(spark, emb, "vec_id", "embedding",
                         n_iters=n_iters)
        monkeypatch.undo()
        # the distributed path collects per-cell aggregates only,
        # never the (id, v) sample rows the driver path replays
        assert len(collected) == n_iters
        assert ["id", "v"] not in collected
        collected.clear()
        assert [c for c, _ in fast] == [c for c, _ in slow]
        for (_, fc), (_, sc) in zip(fast, slow):
            assert all(a == b for a, b in zip(fc, sc)) and len(fc) == len(sc)


def test_assign_expr_matches_driver_scorer(spark):
    """The baked argmin expression and probe_cells share score math:
    every vector's assigned cell must be its own 1-probe cell."""
    emb = _emb(spark)
    cents = IVT.train(spark, emb, "vec_id", "embedding")
    rows = emb.select(
        "vec_id", "embedding",
        F.expr(IVT.assign_cell_expr("embedding", cents, "spark"))
        .alias("cell"),
    ).collect()
    assert rows
    for r in rows[:50]:
        want = IVT.probe_cells(list(r.embedding), cents, 1)[0]
        assert r.cell == want, r.vec_id


def test_trained_centroids_move_toward_data(spark):
    """One update must change the seeded centroids (the sample is not
    centroid-symmetric) while keeping every centroid finite."""
    emb = _emb(spark)
    cents = dict(IVT.train(spark, emb, "vec_id", "embedding", n_iters=1))
    moved = 0
    for cell, cent in cents.items():
        assert all(abs(x) < 10 for x in cent)
        if cent != S.IVF_CENTROIDS[cell]:
            moved += 1
    assert moved == len(cents)


def test_trained_store_roundtrip_via_sidecar(spark, tmp_path):
    """write_ivf(centroids=trained) persists the quantizer; the probe
    resolves it from the sidecar and returns the same top-k as the
    in-memory trained path."""
    emb = _emb(spark)
    cents = IVT.train(spark, emb, "vec_id", "embedding")
    # write_ivf's quantizer is a plain centroid list indexed 0..n-1;
    # trained cells keep ORIGINAL ids, so pass the centroid list in
    # cell order and map probe cells through the same order
    path = str(tmp_path / "ivf_trained")
    cent_list = [cent for _, cent in cents]
    S.write_ivf(emb, path, "vec_id", "embedding", centroids=cent_list)
    q = [0.25 * ((i % 5) - 2) for i in range(T.EMBEDDING_DIM)]
    got = S.ivf_topk_partitioned(spark, path, q, 5, probes=2).collect()
    assert len(got) == 5
    # the sidecar round-trips the centroid values exactly (JSON floats
    # are shortest-roundtrip doubles)
    from distributed_computing_projects_spark.operators import storemeta

    assert storemeta.read_params(path)["centroids"] == cent_list


def test_trained_topk_is_subset_of_exact_scores(spark):
    emb = _emb(spark)
    q = [0.1 * ((i % 7) - 3) for i in range(T.EMBEDDING_DIM)]
    got = IVT.trained_topk(spark, emb, q, 5, "vec_id", "embedding",
                           probes=4).collect()
    assert got
    exact = {r.id: r.cosine
             for r in S.brute_force_topk(emb, q, 10_000, "vec_id",
                                         "embedding").collect()}
    for r in got:
        assert exact[r.id] == r.cosine  # same double math as the scorer
