"""Structured Streaming entries for the driver's correctness matrix
(SURVEY §2.9 / §7.1 M7 — the reference is strictly batch; streaming is
a labeled engine extension).

Each query here REALLY runs a stream: ``readStream`` over the events
parquet, micro-batches drained with ``availableNow`` into a memory
sink, and the sink table returned as the result DataFrame. For the
windowed aggregation the oracle is plain SQL — batch and streaming
tumbling windows must agree exactly (the differential idea the
reference itself used engine-vs-Hadoop, SURVEY §5.1). The custom
stateful operator is non-SQL-expressible (rows-only check).

Scale notes: the memory sink is harness-only — production drains to
the catalog sinks in streaming/sinks.py (append parquet / snapshot).
State stays bounded via watermarks; ``availableNow`` is the batch
backfill trigger, the same code runs continuously on a live source.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import functions as F

from distributed_computing_projects_spark.operators.spread import local_frame
from distributed_computing_projects_spark.queries import query
from distributed_computing_projects_spark.streaming.windows import (
    EVENT_CATEGORIES,
    dedup_within_watermark,
    enrich_with_static,
    interval_join_clicks_purchases,
    read_events_stream,
    run_to_memory_sink,
    running_user_totals,
    session_aggregate,
    sliding_counts,
    tumbling_counts,
)

_SUM_VALUE = "CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)"


@contextmanager
def _state_partitions(spark, n: int = 32):
    """Pin ``spark.sql.shuffle.partitions`` while a streaming query
    STARTS (the stateful operator fixes its state-store partition count
    from this conf at query start, and a foreign session's default of
    200 means 200 state stores × Arrow python workers for a sf0.01
    drain — measured 12 s vs ~4 s at 32). Restored afterwards so a
    host harness session is left untouched; results are exact under
    any partition count."""
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


@query(
    "streaming_events_hourly",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS bucket, event_type,
           count(*) AS n, {_SUM_VALUE} AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour windows computed by an actual Structured "
        "Streaming query (readStream -> withWatermark -> window agg -> "
        "availableNow drain); must hash-match the batch SQL oracle.",
)
def q_streaming_events_hourly(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    agg = tumbling_counts(stream, width="1 hour", watermark="2 hours")
    with _state_partitions(spark):
        run_to_memory_sink(agg, "q_stream_events_hourly", "complete")
    return spark.table("q_stream_events_hourly")


@query(
    "streaming_user_running_totals",
    # the RUNNING stream is non-SQL-expressible, but its FINAL state
    # after the bounded replay is a batch aggregate — the same oracle
    # its twin user_running_totals_final is hash-green under, so this
    # row checks values, not just row counts (the registry's last
    # rows-only row until round 10)
    oracle="""
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
    doc="Custom stateful streaming operator (applyInPandasWithState): "
        "running per-user count+value totals. The update-mode output "
        "is reduced to the per-user FINAL state (max of the running "
        "rows — exact because totals are monotone over this replay), "
        "which must equal the batch aggregate: the stream-equals-batch "
        "differential, value-checked. Exact totals also pinned by "
        "tests/test_streaming.py.",
)
def q_streaming_user_running_totals(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    totals = running_user_totals(stream)
    with _state_partitions(spark):
        run_to_memory_sink(totals, "q_stream_user_totals", "update")
    # value sums are float-accumulated inside the stateful op; round to
    # cents for a stable cross-run hash (driver does rows+schema only,
    # but determinism costs nothing)
    return (
        spark.table("q_stream_user_totals")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max("total_value"), 2).alias("total_value"),
        )
    )


@query(
    "user_running_totals_final",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
    doc="Oracle-bearing twin of streaming_user_running_totals: the SAME "
        "applyInPandasWithState path, but checked at value level — the "
        "final state after a bounded replay IS a batch aggregate, so a "
        "plain SQL oracle pins the stateful operator's arithmetic, not "
        "just its row count. Cents-rounding is hash-safe: events.value "
        "is exact at 2 decimals, so both engines' float sums round to "
        "the same cent (no tie at the 3rd decimal to split HALF_UP vs "
        "HALF_EVEN).",
)
def q_user_running_totals_final(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    totals = running_user_totals(stream)
    with _state_partitions(spark):
        run_to_memory_sink(totals, "q_stream_user_totals_final", "update")
    return (
        spark.table("q_stream_user_totals_final")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            # the row with the most events IS the final state — taking
            # max(total_value) independently is only equivalent while
            # event values are strictly positive (running totals
            # monotone); max_by stays correct under negative/zero
            # value adjustments too
            F.round(F.max_by("total_value", "n_events"), 2)
            .alias("total_value"),
        )
    )


@query(
    "streaming_user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                          >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts)
               AS session_no
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
    """,
    doc="Per-user session windows (30-min inactivity gap) computed by a "
        "REAL streaming session_window aggregation; oracle is the "
        "batch lag/cumsum sessionization. session_end = last event + "
        "gap, Spark's session_window convention. Boundary note: Spark "
        "starts a new session when the gap is >= the window gap, the "
        "batch user_sessions query uses strict >; event times here are "
        "microsecond-random so no gap lands exactly on 30:00.000000 "
        "and both conventions agree (asserted by the hash match).",
)
def q_streaming_user_sessions(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    sess = session_aggregate(stream, gap="30 minutes", watermark="2 hours")
    with _state_partitions(spark):
        run_to_memory_sink(sess, "q_stream_user_sessions", "complete")
    return spark.table("q_stream_user_sessions")


@query(
    "streaming_sliding_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts)
             - INTERVAL '15 minutes' * i AS w_start,
           time_bucket(INTERVAL '15 minutes', ts)
             - INTERVAL '15 minutes' * i + INTERVAL 1 HOUR AS w_end,
           event_type, count(*) AS n
    FROM events, unnest([0, 1, 2, 3]) AS t(i)
    GROUP BY 1, 2, 3
    """,
    doc="Sliding 1-hour/15-min windows on a real stream. Oracle expands "
        "each event into the exact 4 windows that contain it (starts "
        "aligned to 15 min in (ts-1h, ts]) — the same expansion Spark's "
        "window(ts, width, slide) performs.",
)
def q_streaming_sliding_counts(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    agg = sliding_counts(stream, width="1 hour", slide="15 minutes",
                         watermark="2 hours")
    with _state_partitions(spark):
        run_to_memory_sink(agg, "q_stream_sliding", "complete")
    return spark.table("q_stream_sliding")


@query(
    "streaming_dedup_events",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    """,
    doc="Streaming deduplication with bounded state "
        "(dropDuplicatesWithinWatermark): the stream is the events "
        "source UNIONed with itself — every event arrives twice, "
        "exactly one copy survives. Oracle = the distinct base table. "
        "State holds a key only until the watermark passes it, so "
        "state size tracks the watermark horizon, not stream lifetime.",
)
def q_streaming_dedup_events(spark, sf_dir):
    dup = read_events_stream(spark, sf_dir).union(
        read_events_stream(spark, sf_dir)
    )
    deduped = dedup_within_watermark(dup, ["event_id"], watermark="2 hours")
    out = deduped.select("event_id", "user_id", "event_type", "value")
    with _state_partitions(spark):
        run_to_memory_sink(out, "q_stream_dedup", "append")
    return spark.table("q_stream_dedup")


_JSONL_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures", "events_jsonl",
)


@query(
    "streaming_jsonl_agg",
    oracle=f"""
    SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM read_ndjson('{_JSONL_DIR}/*.jsonl',
      columns={{'event_id': 'BIGINT', 'user_id': 'BIGINT',
                'event_type': 'VARCHAR', 'value': 'DOUBLE'}},
      ignore_errors=true)
    WHERE event_id IS NOT NULL
    GROUP BY event_type
    """,
    doc="Streaming ingest of the JSONL landing-zone fixture: text file "
        "stream -> per-line from_json with malformed-record DROP (the "
        "batch source's policy, applied before any state) -> grouped "
        "aggregate. Same oracle as the batch jsonl_events_agg — batch "
        "and stream must agree record-for-record.",
)
def q_streaming_jsonl_agg(spark, sf_dir):
    from distributed_computing_projects_spark.queries.ext_pipeline import (
        JSONL_EVENTS_SCHEMA,
    )
    from distributed_computing_projects_spark.sources.json import (
        read_jsonl_stream,
    )

    stream = read_jsonl_stream(spark, _JSONL_DIR, JSONL_EVENTS_SCHEMA)
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(14,2)")).cast("double")
        .alias("total_value"),
    )
    with _state_partitions(spark):
        run_to_memory_sink(agg, "q_stream_jsonl", "complete")
    return spark.table("q_stream_jsonl")


@query(
    "streaming_click_purchase_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    doc="Stream-stream inner join: each purchase paired with every "
        "click by the same user in the preceding hour, both sides real "
        "streams with watermarks. The interval predicate bounds join "
        "state (clicks older than watermark+horizon are evicted); "
        "oracle is the plain batch join.",
)
def q_streaming_click_purchase_join(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    joined = interval_join_clicks_purchases(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon="1 hour",
        watermark="2 hours",
    )
    with _state_partitions(spark):
        run_to_memory_sink(joined, "q_stream_cp_join", "append")
    return spark.table("q_stream_cp_join")


def _event_categories_values_sql() -> str:
    rows = ", ".join(f"('{t}', '{c}')" for t, c in EVENT_CATEGORIES)
    return f"(VALUES {rows}) AS dim(event_type, category)"


@query(
    "streaming_enriched_category_totals",
    oracle=f"""
    SELECT dim.category, count(*) AS n, {_SUM_VALUE} AS total_value
    FROM events JOIN {_event_categories_values_sql()}
      ON events.event_type = dim.event_type
    GROUP BY dim.category
    """,
    doc="Stream-static enrichment: events stream inner-joined to a "
        "static event-type dimension (explicit broadcast — stateless, "
        "no state store), then a per-category complete-mode aggregate. "
        "Oracle is the identical batch join over a VALUES dimension.",
)
def q_streaming_enriched_category_totals(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    dim = local_frame(
        spark, EVENT_CATEGORIES, "event_type string, category string")
    agg = (
        enrich_with_static(stream, dim)
        .groupBy("category")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(25,2)")).cast("double")
            .alias("total_value"),
        )
    )
    with _state_partitions(spark):
        run_to_memory_sink(agg, "q_stream_enriched", "complete")
    return spark.table("q_stream_enriched")


from distributed_computing_projects_spark.queries.ext_fragments import (
    _INCR_ORACLE,
)


@query(
    "streaming_dedup_ingest",
    # identical contract to dedup_incremental / dedup_incremental_store:
    # the stream is just the delivery mechanism for the batch
    oracle=_INCR_ORACLE,
    doc="CONTINUOUS-INGEST dedup: documents arrive as a file stream, "
        "and every micro-batch is probed against the PERSISTED corpus "
        "band store via foreachBatch reusing the batch operator "
        "(bandstore.probe_and_ingest — kb directory pruning and all), "
        "then the SURVIVORS' bands are appended to the store. The "
        "composition every landing zone runs: stream in, dedup "
        "against what is already ingested, append survivors. With one "
        "micro-batch the append cannot affect the pairs, so this "
        "hash-matches the same SQL oracle as the batch incremental "
        "queries — the stream must change NOTHING; the cross-batch "
        "case is streaming_dedup_ingest_epochs.",
)
def q_streaming_dedup_ingest(spark, sf_dir):
    import tempfile

    from distributed_computing_projects_spark.operators import (
        bandstore as BSTORE,
    )
    from distributed_computing_projects_spark.queries.ext_fragments import (
        INCR_BATCH_SOURCE,
        MINHASH_THRESHOLD,
    )
    from distributed_computing_projects_spark.sources.registry import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != INCR_BATCH_SOURCE)
    store = os.path.join(
        tempfile.gettempdir(),
        f"dcp_stream_bandstore_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    BSTORE.write_bands(corpus, store, "doc_id", "text")

    # deterministic workdir, cleared on entry: the returned DataFrame
    # lazily reads out_dir (so this call cannot clean up after itself)
    # — a fixed path bounds the leak to one copy across driver reruns.
    # The checkpoint must die with it or the file source would consider
    # the input already processed and run zero batches.
    import shutil

    work = os.path.join(
        tempfile.gettempdir(),
        f"dcp_stream_ingest_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(work, "pairs")
    ckpt = os.path.join(work, "ckpt")
    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )

    def probe_batch(batch_df, batch_id):
        batch = batch_df.filter(F.col("source") == INCR_BATCH_SOURCE)
        BSTORE.probe_and_ingest(
            spark, store, batch, "doc_id", "text", out_dir,
            threshold=MINHASH_THRESHOLD, batch_id=batch_id,
        )

    q = (
        stream.writeStream.foreachBatch(probe_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        # on timeout the stream is still writing out_dir — returning a
        # reader over it would yield silently incomplete pairs
        q.stop()
        raise TimeoutError("streaming ingest did not drain in 180 s")
    return spark.read.schema(
        "new_id bigint, corpus_id bigint, est_jaccard double"
    ).parquet(os.path.join(out_dir, "batch-*"))


from distributed_computing_projects_spark.queries.ext_fragments import (
    _INCR_EPOCHS_ORACLE,
)


@query(
    "streaming_dedup_ingest_epochs",
    oracle=_INCR_EPOCHS_ORACLE,
    doc="TWO-EPOCH continuous-ingest dedup — the cross-batch case the "
        "single-batch query cannot exercise: two landing-zone files "
        "(src0 then src1, mtime-ordered, maxFilesPerTrigger=1) arrive "
        "as separate micro-batches; each is probed against the band "
        "store and its survivors' bands are APPENDED "
        "(bandstore.probe_and_ingest), so epoch 2 is deduped against "
        "epoch 1's survivors as well as the original corpus. Epoch 2 "
        "carries deterministic echo copies of every 100th src0 doc "
        "(the corpus has no natural cross-source near-dups), so the "
        "pairs include genuine cross-batch hits against epoch 1's "
        "appended bands. The oracle replays the same sequence in SQL "
        "(p1 = src0 x corpus; p2 = src1+echoes x (corpus OR "
        "src0-survivors)) — hash-matched.",
)
def q_streaming_dedup_ingest_epochs(spark, sf_dir):
    import glob
    import shutil
    import tempfile

    from distributed_computing_projects_spark.operators import (
        bandstore as BSTORE,
    )
    from distributed_computing_projects_spark.queries.ext_fragments import (
        ECHO_EVERY,
        ECHO_OFFSET,
        EPOCH2_SOURCE,
        INCR_BATCH_SOURCE,
        MINHASH_THRESHOLD,
    )
    from distributed_computing_projects_spark.sources.registry import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    epochs = [INCR_BATCH_SOURCE, EPOCH2_SOURCE]
    corpus = docs.filter(~F.col("source").isin(epochs))
    echoes = (
        docs.filter(
            (F.col("source") == INCR_BATCH_SOURCE)
            & (F.col("doc_id") % ECHO_EVERY == 0)
        )
        .withColumn("doc_id", F.col("doc_id") + F.lit(ECHO_OFFSET))
        .withColumn("source", F.lit(EPOCH2_SOURCE))
    )
    epoch_dfs = [
        docs.filter(F.col("source") == INCR_BATCH_SOURCE),
        docs.filter(F.col("source") == EPOCH2_SOURCE).unionByName(echoes),
    ]

    work = os.path.join(
        tempfile.gettempdir(),
        f"dcp_stream_epochs_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(work, ignore_errors=True)
    store = os.path.join(work, "bands")
    landing = os.path.join(work, "landing")
    out_dir = os.path.join(work, "pairs")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(landing)
    BSTORE.write_bands(corpus, store, "doc_id", "text")

    # one parquet FILE per epoch, strictly increasing mtimes: the file
    # source orders by modification time (oldest first) and
    # maxFilesPerTrigger=1 makes each file its own micro-batch — the
    # sequential arrival the landing-zone contract is about
    now = 1_700_000_000  # fixed epoch-seconds base; only ORDER matters
    for i, epoch_df in enumerate(epoch_dfs):
        stage = os.path.join(work, f"stage{i}")
        epoch_df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dest = os.path.join(landing, f"batch-{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (now + i, now + i))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )

    def probe_batch(batch_df, batch_id):
        BSTORE.probe_and_ingest(
            spark, store, batch_df, "doc_id", "text", out_dir,
            threshold=MINHASH_THRESHOLD, batch_id=batch_id,
        )

    q = (
        stream.writeStream.foreachBatch(probe_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("two-epoch ingest did not drain in 180 s")
    return spark.read.schema(
        "new_id bigint, corpus_id bigint, est_jaccard double"
    ).parquet(os.path.join(out_dir, "batch-*"))



from distributed_computing_projects_spark.operators import similarity as _SIM
from distributed_computing_projects_spark.queries.ext_ann import (
    _COS_Q_D,
    _IVF_CELLS,
    ANN_IVF_PROBES,
    INCR_VEC_MOD,
)
from distributed_computing_projects_spark.queries.ext_fragments import (
    ANN_K as _ANN_K,
    ANN_QUERY_VEC as _ANN_Q,
)


@query(
    "streaming_ann_ingest",
    # identical contract to ann_ivf_incremental_topk: the stream is
    # just the delivery mechanism for the epochs, and the probe must
    # return exactly the full-corpus answer
    oracle=f"""
    WITH assigned AS (
      SELECT vec_id AS id, embedding,
             {_SIM.ivf_cell_expr('embedding', 'duck')} AS cell
      FROM embeddings)
    SELECT id, {_COS_Q_D} AS cosine
    FROM assigned
    WHERE cell IN ({', '.join(str(c) for c in _IVF_CELLS)})
    ORDER BY cosine DESC, id LIMIT {_ANN_K}
    """,
    doc="CONTINUOUS-INGEST ANN: new embedding vectors arrive as a file "
        "stream in two micro-batch epochs; each foreachBatch appends "
        "them to the persisted cell-partitioned IVF store via "
        "similarity.append_ivf — assigned by the store's own sidecar "
        "centroids — and the final partition-pruned probe must return "
        "exactly the answer a whole-corpus store gives (same SQL "
        "oracle as ann_ivf_incremental_topk). The streaming ANN twin "
        "of streaming_dedup_ingest_epochs: embeddings for a 100 TB "
        "corpus are computed once and stream into the index; retries "
        "double-append at most (probe distincts; compact_ivf_store "
        "reclaims).",
)
def q_streaming_ann_ingest(spark, sf_dir):
    import glob
    import shutil
    import tempfile

    from distributed_computing_projects_spark.sources.registry import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % INCR_VEC_MOD != 0)
    fresh = emb.filter(F.col("vec_id") % INCR_VEC_MOD == 0)
    epoch_dfs = [
        fresh.filter((F.col("vec_id") / INCR_VEC_MOD % 2).cast("int") == i)
        for i in range(2)
    ]

    work = os.path.join(
        tempfile.gettempdir(),
        f"dcp_stream_ann_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(work, ignore_errors=True)
    store = os.path.join(work, "ivf")
    landing = os.path.join(work, "landing")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(landing)
    _SIM.write_ivf(corpus, store, "vec_id", "embedding")

    now = 1_700_000_000  # fixed epoch-seconds base; only ORDER matters
    for i, epoch_df in enumerate(epoch_dfs):
        stage = os.path.join(work, f"stage{i}")
        epoch_df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dest = os.path.join(landing, f"batch-{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (now + i, now + i))

    stream = (
        spark.readStream.schema(epoch_dfs[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )

    def ingest_batch(batch_df, batch_id):
        _SIM.append_ivf(batch_df, store, "vec_id", "embedding")

    q = (
        stream.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("ANN ingest stream did not drain in 180 s")
    return _SIM.ivf_topk_partitioned(
        spark, store, _ANN_Q, _ANN_K, probes=ANN_IVF_PROBES
    )


from distributed_computing_projects_spark.operators import pq as _PQ  # noqa: E402
from distributed_computing_projects_spark.queries.ext_ann import (  # noqa: E402
    _ivfpq_where,
    _pq_oracle,
)


@query(
    "streaming_ivfpq_ingest",
    # identical contract to ann_ivfpq_store_topk: the stream only
    # delivers the epochs; the codes-only store probe must equal the
    # whole-corpus IVF-PQ computation
    oracle=_pq_oracle(where=_ivfpq_where()),
    doc="CONTINUOUS-INGEST IVF-PQ: new vectors stream into the "
        "codes-only compressed store in two micro-batch epochs — each "
        "foreachBatch encodes the batch with the store's OWN sidecar "
        "codebooks (pq.append_ivfpq) and appends it partitioned by "
        "coarse cell — and the final directory-pruned, codes-only "
        "probe must return exactly the whole-corpus answer (same "
        "bit-exact oracle as ann_ivfpq_store_topk). The at-scale "
        "ingest loop for the memory-bound ANN layout: embeddings are "
        "computed once, 32x-compressed on arrival, and the index "
        "never rewrites; retries double-append at most (probe "
        "distincts; compact_ivfpq_store reclaims). Codebooks train on "
        "the full corpus view so the oracle's replay sees identical "
        "centroids.",
)
def q_streaming_ivfpq_ingest(spark, sf_dir):
    import glob
    import shutil
    import tempfile

    from distributed_computing_projects_spark.sources.registry import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % INCR_VEC_MOD != 0)
    fresh = emb.filter(F.col("vec_id") % INCR_VEC_MOD == 0)
    epoch_dfs = [
        fresh.filter((F.col("vec_id") / INCR_VEC_MOD % 2).cast("int") == i)
        for i in range(2)
    ]

    work = os.path.join(
        tempfile.gettempdir(),
        f"dcp_stream_ivfpq_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(work, ignore_errors=True)
    store = os.path.join(work, "ivfpq")
    landing = os.path.join(work, "landing")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(landing)
    cents = _PQ.train(spark, emb, "vec_id", "embedding")
    _PQ.write_ivfpq(spark, corpus, store, "vec_id", "embedding",
                    centroids=cents)

    now = 1_700_000_000  # fixed epoch-seconds base; only ORDER matters
    for i, epoch_df in enumerate(epoch_dfs):
        stage = os.path.join(work, f"stage{i}")
        epoch_df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dest = os.path.join(landing, f"batch-{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (now + i, now + i))

    stream = (
        spark.readStream.schema(epoch_dfs[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )

    def ingest_batch(batch_df, batch_id):
        _PQ.append_ivfpq(batch_df, store, "vec_id", "embedding")

    q = (
        stream.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("IVF-PQ ingest stream did not drain in 180 s")
    return _PQ.ivfpq_topk_store(
        spark, store, _ANN_Q, _ANN_K, probes=ANN_IVF_PROBES
    )


from distributed_computing_projects_spark.functions import (  # noqa: E402
    text as _T,
)
from distributed_computing_projects_spark.operators import (  # noqa: E402
    sketches as _SK,
)

_SK_NUM = int((_SK.K_DEFAULT - 1) * _SK.HASH_SPACE)


@query(
    "streaming_kmv_ingest",
    # identical contract to sketch_distinct_tokens minus the exact
    # calibration column: the stream + store + a deliberate duplicate
    # "retry" append must change NOTHING vs the direct corpus sketch
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT lang AS grp,
             {_T.hash32('token', 'duck')} AS h
      FROM (SELECT lang, unnest({_T.tokens('text', 'duck')}) AS token
            FROM documents)
    ),
    kept AS (
      SELECT grp, h,
             row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
      FROM pairs
    )
    SELECT grp AS lang,
           CAST(count(*) AS BIGINT) AS n_kept,
           max(h) AS kth_min_hash,
           CASE WHEN count(*) < {_SK.K_DEFAULT}
                THEN CAST(count(*) AS DOUBLE)
                ELSE CAST({_SK_NUM} AS DOUBLE) / CAST(max(h) AS DOUBLE)
           END AS est_distinct
    FROM kept WHERE rn <= {_SK.K_DEFAULT} GROUP BY grp
    """,
    doc="CONTINUOUS-INGEST cardinality: documents arrive as a file "
        "stream; foreachBatch appends each micro-batch's per-group "
        "KMV kept set (<= k rows per group per batch) to a parquet "
        "sketch store, then the SAME batch is appended AGAIN — a "
        "deliberate at-least-once retry — and the merged store sketch "
        "must still hash-match the direct full-corpus sketch: KMV "
        "merge is a set union, so the store is idempotent under "
        "duplicate delivery BY CONSTRUCTION, with no batch-id "
        "overwrite machinery (contrast the band/IVF stores). The "
        "merged read touches k rows per group per batch, never the "
        "corpus.",
)
def q_streaming_kmv_ingest(spark, sf_dir):
    import shutil
    import tempfile

    from distributed_computing_projects_spark.operators import (
        sketches as SKETCH,
    )
    from distributed_computing_projects_spark.sources.registry import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    work = os.path.join(
        tempfile.gettempdir(),
        f"dcp_stream_kmv_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(work, ignore_errors=True)
    store = os.path.join(work, "sketches")
    ckpt = os.path.join(work, "ckpt")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )

    def ingest_batch(batch_df, batch_id):
        SKETCH.append_batch_sketch(batch_df, store, "lang", "text",
                                   batch_id=batch_id)
        # deliberate at-least-once retry: the same kept set again
        SKETCH.append_batch_sketch(batch_df, store, "lang", "text",
                                   batch_id=batch_id)

    q = (
        stream.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("streaming KMV ingest did not drain in 180 s")
    return (
        SKETCH.merged_store_sketch(spark, store)
        .withColumnRenamed("grp", "lang")
    )


from distributed_computing_projects_spark.queries.ext_dedup import (  # noqa: E402
    _BLOOM_DECON_ORACLE,
    bloom_decon_result,
    eval_grams,
)


@query(
    "streaming_bloom_ingest",
    # the store route must equal the direct route bit-for-bit, so the
    # oracle IS decontaminate_bloom's
    oracle=_BLOOM_DECON_ORACLE,
    doc="CONTINUOUS-INGEST membership filter: documents arrive as a "
        "file stream; foreachBatch appends each micro-batch's eval-"
        "split bloom mask words to a parquet store, then appends the "
        "SAME masks again — a deliberate at-least-once retry — and "
        "the merged (BIT_OR per word) filter probed by the train "
        "split must still hash-match the direct decontaminate_bloom "
        "result: OR is idempotent, so the store tolerates duplicate "
        "delivery BY CONSTRUCTION, with no batch-id overwrite "
        "machinery (the same argument as the KMV store, for the "
        "membership tier).",
)
def q_streaming_bloom_ingest(spark, sf_dir):
    import shutil
    import tempfile

    from distributed_computing_projects_spark.operators import (
        sketches as SKETCH,
    )
    from distributed_computing_projects_spark.sources.registry import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    work = os.path.join(
        tempfile.gettempdir(),
        f"dcp_stream_bloom_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(work, ignore_errors=True)
    store = os.path.join(work, "bloom")
    ckpt = os.path.join(work, "ckpt")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )

    def ingest_batch(batch_df, batch_id):
        grams = eval_grams(batch_df)
        SKETCH.append_batch_bloom(grams, store, batch_id=batch_id)
        # deliberate at-least-once retry: the same masks again
        SKETCH.append_batch_bloom(grams, store, batch_id=batch_id)

    q = (
        stream.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("streaming bloom ingest did not drain in 180 s")
    return bloom_decon_result(
        docs, SKETCH.merged_store_bloom(spark, store)
    )


from distributed_computing_projects_spark.queries.ext_lm import (  # noqa: E402
    _LM_MODEL_CTES,
    _LM_SCORE_CTES,
)


@query(
    "streaming_lm_scoring",
    # the streamed route must equal the batch perdoc diagnostics
    # (rank-free: ranks need the global order a stream never has)
    oracle=f"""
    WITH {_LM_MODEL_CTES}, {_LM_SCORE_CTES}
    SELECT doc_id, n_bigrams, n_hit, n_backoff, n_oov FROM perdoc
    """,
    doc="MODEL-SERVING in the stream tier: documents arrive as a file "
        "stream and every micro-batch is scored against the bigram LM "
        "trained ONCE, batch-side, before the stream starts (the "
        "vocabulary-sized count tables persist and serve every batch "
        "— the deployment shape of CCNet-style filtering). Each "
        "batch's per-doc integer diagnostics append to a parquet "
        "store, the batch is then appended AGAIN as a deliberate "
        "at-least-once retry, and the deduplicated read must equal "
        "the direct batch scoring: scored rows are DETERMINISTIC "
        "functions of (doc, model), so duplicate delivery collapses "
        "under distinct-on-read with no batch-id machinery — a third "
        "idempotence construction next to the KMV/bloom merge and the "
        "band-store overwrite.",
)
def q_streaming_lm_scoring(spark, sf_dir):
    import shutil
    import tempfile

    from distributed_computing_projects_spark.operators import (
        ngram_lm as NLM,
    )
    from distributed_computing_projects_spark.sources.registry import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    uni, bi = NLM.train_counts(docs, "doc_id", "text")
    uni, bi = uni.persist(), bi.persist()
    n_tok = float(
        uni.agg(F.sum("c1").cast("double").alias("n")).collect()[0]["n"]
    )

    work = os.path.join(
        tempfile.gettempdir(),
        f"dcp_stream_lm_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(work, ignore_errors=True)
    store = os.path.join(work, "scores")
    ckpt = os.path.join(work, "ckpt")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )

    def score_batch(batch_df, batch_id):
        scored = NLM.score_docs_against(
            batch_df, "doc_id", "text", uni, bi, n_tok
        ).select("id", "n_bigrams", "n_hit", "n_backoff", "n_oov")
        scored.write.mode("append").parquet(store)
        # deliberate at-least-once retry: the same deterministic rows
        scored.write.mode("append").parquet(store)

    q = (
        stream.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("streaming LM scoring did not drain in 180 s")
    return (
        spark.read.parquet(store)
        .distinct()  # deterministic rows: duplicates collapse exactly
        .select(
            F.col("id").alias("doc_id"),
            "n_bigrams", "n_hit", "n_backoff", "n_oov",
        )
    )


from distributed_computing_projects_spark.queries.ext_multimodal import (  # noqa: E402
    _WET_ORACLE,
)


@query(
    "streaming_wet_ingest",
    # the store route must equal the direct extraction row-for-row,
    # so the oracle IS wet_extract_conversions'
    oracle=_WET_ORACLE,
    doc="CONTINUOUS-INGEST of a document wire format: documents "
        "arrive as a file stream; foreachBatch builds each "
        "micro-batch's .warc.wet.gz payloads, runs the SAME "
        "conversion-record extraction as the batch query "
        "(sources/warc.py — gzip member walk, record parse, "
        "Content-Length-delimited blocks), appends the extracted "
        "facts to a parquet store, then appends the SAME batch again "
        "— a deliberate at-least-once retry. Extraction is a pure "
        "function of the row, so duplicate deliveries are IDENTICAL "
        "rows and a keyed distinct on read restores exactly one copy "
        "(idempotency by determinism — the doc-pipeline analog of "
        "the KMV-union and Bloom-OR arguments). The merged store "
        "must hash-match the direct wet_extract_conversions oracle.",
)
def q_streaming_wet_ingest(spark, sf_dir):
    import shutil

    from distributed_computing_projects_spark.queries.ext_pipeline import (
        _session_scratch,
    )
    from distributed_computing_projects_spark.sources import warc as WRC
    from distributed_computing_projects_spark.sources.registry import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    # applicationId-suffixed scratch (+ age-guarded sibling reaping):
    # two concurrent sessions on one box must not delete each other's
    # live store/checkpoint. Still rmtree OUR dir so a same-session
    # re-run starts from an empty store and a fresh checkpoint.
    work = _session_scratch(spark, "stream_wet", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    store = os.path.join(work, "conversions")
    ckpt = os.path.join(work, "ckpt")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )

    def ingest_batch(batch_df, batch_id):
        facts = WRC.extract_conversions(
            WRC.wet_payloads(batch_df, "doc_id", "text", "source"))
        facts.write.mode("append").parquet(store)
        # deliberate at-least-once retry: the same deterministic rows
        facts.write.mode("append").parquet(store)

    q = (
        stream.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("streaming WET ingest did not drain in 180 s")
    return spark.read.parquet(store).distinct()


from distributed_computing_projects_spark.queries.ext_pipeline import (  # noqa: E402
    _CJSONL_ORACLE,
    _CJSONL_SCHEMA,
    _build_cjsonl_landing,
)


@query(
    "streaming_jsonl_zst_ingest",
    # the stream route must equal the batch scan row-for-row, so the
    # oracle IS jsonl_zst_scan's
    oracle=_CJSONL_ORACLE,
    doc="CONTINUOUS-INGEST of compressed JSONL shards — the landing-"
        "zone shape every corpus drop actually arrives in "
        "(.jsonl.zst files appearing in a directory): a "
        "readStream(binaryFile) source over the SAME multi-shard "
        "fixture as jsonl_zst_scan feeds the SAME Arrow line walker "
        "(sources/compressed.lines_from_binary) and the SAME "
        "from_json parse stage, then lands in a checkpointed parquet "
        "sink with an availableNow drain — exactly-once by the file-"
        "source/checkpoint contract, per-file units of work. Batch "
        "and stream share one walker and one parse expression, so "
        "the store must hash-match the batch oracle row-for-row, "
        "malformed and torn-frame drops included.",
)
def q_streaming_jsonl_zst_ingest(spark, sf_dir):
    from distributed_computing_projects_spark.sources.compressed import (
        lines_from_binary,
    )
    from distributed_computing_projects_spark.sources.json import (
        parse_jsonl_lines,
    )

    work, landing = _build_cjsonl_landing(spark, sf_dir, "zst",
                                          "stream_jzst")
    store = os.path.join(work, "records")
    ckpt = os.path.join(work, "ckpt")

    stream = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp,"
                " length long, content binary")
        .load(landing)
    )
    parsed = parse_jsonl_lines(
        lines_from_binary(stream), _CJSONL_SCHEMA, malformed="drop"
    ).select("event_id", "user_id", "event_type", "value")

    q = (
        parsed.writeStream.format("parquet")
        .option("path", store)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(
            "streaming jsonl.zst ingest did not drain in 180 s")
    return spark.read.parquet(store)


@query(
    "streaming_avro_ingest",
    # the stream route must equal the batch roundtrip row-for-row
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(user_id) AS BIGINT) AS sum_user,
           max(ts) AS max_ts
    FROM events GROUP BY event_type
    """,
    doc="CONTINUOUS-INGEST of Avro OCF shards — the Kafka-archive "
        "landing-zone shape (.avro files appearing in a directory): "
        "a readStream(binaryFile) source over the SAME five-codec "
        "fixture as avro_events_roundtrip feeds the SAME Arrow block "
        "walk and binary decode (sources/avro.records_from_binary), "
        "lands in a checkpointed parquet sink with an availableNow "
        "drain, and the aggregated facts must hash-match the batch "
        "oracle — block-granular drops, schema resolution, and the "
        "local-timestamp-micros logical type all riding the one "
        "shared stage.",
)
def q_streaming_avro_ingest(spark, sf_dir):
    from distributed_computing_projects_spark.queries.ext_pipeline import (
        _avro_events_facts,
        _AVRO_EVENTS_SCHEMA,
        _build_avro_landing,
    )
    from distributed_computing_projects_spark.sources.avro import (
        records_from_binary,
    )

    work, landing = _build_avro_landing(spark, sf_dir, "stream_avro")
    store = os.path.join(work, "records")
    ckpt = os.path.join(work, "ckpt")

    stream = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp,"
                " length long, content binary")
        .load(landing)
    )
    records = records_from_binary(stream, _AVRO_EVENTS_SCHEMA)

    q = (
        records.writeStream.format("parquet")
        .option("path", store)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("streaming avro ingest did not drain in 180 s")
    return _avro_events_facts(spark.read.parquet(store))


_ARROW_EVENTS_DDL = ("event_id bigint, user_id bigint, "
                     "event_type string, value double, "
                     "ts timestamp_ntz")


@query(
    "streaming_tfrecord_ingest",
    # the stream route must equal the batch scan row-for-row
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(user_id) AS BIGINT) AS sum_user,
           CAST(SUM(CAST(CAST(value AS REAL) AS DECIMAL(14,2)))
                AS DOUBLE) AS total_value
    FROM events WHERE event_id % 3 = 1 GROUP BY event_type
    """,
    doc="CONTINUOUS-INGEST of TFRecord shards — the TFDS-export "
        "landing-zone shape: readStream(binaryFile) over the SAME "
        "decoy-laden fixture as tfrecord_scan (corrupt-payload head "
        "record, torn tail, writer-only feature, junk file) feeds "
        "the SAME frame-walk + Example-decode stage "
        "(sources/tfrecord.examples_from_binary), lands in a "
        "checkpointed parquet sink with an availableNow drain, and "
        "the aggregated facts must hash-match the batch oracle — "
        "float32 rounding included (the oracle sums REAL-rounded "
        "values).",
)
def q_streaming_tfrecord_ingest(spark, sf_dir):
    import shutil

    from pyspark.sql import functions as SF

    from distributed_computing_projects_spark.queries.ext_pipeline import (
        _build_tfrecord_landing,
    )
    from distributed_computing_projects_spark.sources.tfrecord import (
        examples_from_binary,
    )

    work, landing = _build_tfrecord_landing(spark, sf_dir,
                                            "stream_tfrecord")
    store = os.path.join(work, "records")
    ckpt = os.path.join(work, "ckpt")
    # the landing may be a reused one: start the sink afresh, or the
    # stream resumes from the last call's checkpoint and reads nothing
    for d in (store, ckpt):
        shutil.rmtree(d, ignore_errors=True)

    stream = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp,"
                " length long, content binary")
        .load(landing)
    )
    records = examples_from_binary(
        stream,
        "event_id bigint, user_id bigint, event_type string, "
        "value float")

    q = (
        records.writeStream.format("parquet")
        .option("path", store)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(
            "streaming tfrecord ingest did not drain in 180 s")
    back = spark.read.parquet(store)
    return back.groupBy("event_type").agg(
        SF.count("*").alias("n"),
        SF.sum("user_id").cast("bigint").alias("sum_user"),
        SF.sum(SF.col("value").cast("decimal(14,2)")).cast("double")
        .alias("total_value"),
    )


@query(
    "streaming_arrow_ingest",
    # the stream route must equal the batch roundtrip row-for-row
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(user_id) AS BIGINT) AS sum_user,
           max(ts) AS max_ts
    FROM events GROUP BY event_type
    """,
    doc="CONTINUOUS-INGEST of Arrow IPC shards — the Flight-dump/"
        "feather landing-zone shape: readStream(binaryFile) over the "
        "SAME mixed file/stream-framing fixture as "
        "arrow_events_roundtrip (incl. the writer-only extra column "
        "and the junk non-IPC file) feeds the SAME bounded batch "
        "walk (sources/arrowipc.batches_from_binary), lands in a "
        "checkpointed parquet sink with an availableNow drain, and "
        "the aggregated facts must hash-match the batch oracle.",
)
def q_streaming_arrow_ingest(spark, sf_dir):
    from distributed_computing_projects_spark.queries.ext_pipeline import (
        _avro_events_facts,
        _build_arrow_landing,
    )
    from distributed_computing_projects_spark.sources.arrowipc import (
        batches_from_binary,
    )

    work, landing = _build_arrow_landing(spark, sf_dir, "stream_arrow")
    store = os.path.join(work, "records")
    ckpt = os.path.join(work, "ckpt")

    stream = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp,"
                " length long, content binary")
        .load(landing)
    )
    records = batches_from_binary(stream, _ARROW_EVENTS_DDL)

    q = (
        records.writeStream.format("parquet")
        .option("path", store)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("streaming arrow ingest did not drain in 180 s")
    return _avro_events_facts(spark.read.parquet(store))


@query(
    "streaming_sqlite_ingest",
    # the stream route must equal the batch scan row-for-row
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(user_id) AS BIGINT) AS sum_user,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
             AS total_value
    FROM events WHERE event_id % 7 = 4 GROUP BY event_type
    """,
    doc="CONTINUOUS-INGEST of SQLite database files — the app-export "
        "landing-zone shape (the twelfth ingest-store loop): "
        "readStream(binaryFile) over the SAME decoy-laden fixture as "
        "sqlite_events_scan (overflow chains behind a writer-only "
        "long-text column, the INTEGER-PRIMARY-KEY rowid alias, "
        "index/view/decoy-table/WITHOUT-ROWID neighbours, a UTF-16 "
        "shard, a no-table database, a junk file) feeds the SAME "
        "b-tree page walk (sources/sqlitefile.rows_from_binary), "
        "lands in a checkpointed parquet sink with an availableNow "
        "drain, and the aggregated facts must hash-match the batch "
        "oracle — REAL doubles are IEEE 8-byte so values survive "
        "bit-exact through the whole loop.",
)
def q_streaming_sqlite_ingest(spark, sf_dir):
    from pyspark.sql import functions as SF

    from distributed_computing_projects_spark.queries.ext_pipeline import (
        _build_sqlite_landing,
    )
    from distributed_computing_projects_spark.sources.sqlitefile import (
        rows_from_binary,
    )

    work, landing = _build_sqlite_landing(spark, sf_dir,
                                          "stream_sqlite")
    store = os.path.join(work, "rows")
    ckpt = os.path.join(work, "ckpt")

    stream = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp,"
                " length long, content binary")
        .load(landing)
    )
    rows = rows_from_binary(
        stream, "events",
        "event_id bigint, user_id bigint, event_type string, "
        "value double")

    q = (
        rows.writeStream.format("parquet")
        .option("path", store)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(
            "streaming sqlite ingest did not drain in 180 s")
    back = spark.read.parquet(store)
    return back.groupBy("event_type").agg(
        SF.count("*").alias("n"),
        SF.sum("user_id").cast("bigint").alias("sum_user"),
        SF.sum(SF.col("value").cast("decimal(14,2)")).cast("double")
        .alias("total_value"),
    )


@query(
    "streaming_msgpack_ingest",
    # the stream route must equal the batch scan row-for-row
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(user_id) AS BIGINT) AS sum_user,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
             AS total_value
    FROM events WHERE event_id % 11 = 5 GROUP BY event_type
    """,
    doc="CONTINUOUS-INGEST of MessagePack dumps — the thirteenth "
        "ingest-store loop: readStream(binaryFile) over the SAME "
        "decoy-laden fixture as msgpack_events_scan (non-map and "
        "int-keyed-map heads, timestamp-extension ts, torn tail, "
        "reserved-byte junk file) feeds the SAME type-derived value "
        "walk (sources/msgpackfile.values_from_binary), lands in a "
        "checkpointed parquet sink with an availableNow drain, and "
        "the aggregated facts must hash-match the batch oracle — "
        "float64 is IEEE 8-byte so values survive bit-exact.",
)
def q_streaming_msgpack_ingest(spark, sf_dir):
    from pyspark.sql import functions as SF

    from distributed_computing_projects_spark.queries.ext_pipeline import (
        _build_msgpack_landing,
    )
    from distributed_computing_projects_spark.sources.msgpackfile import (
        values_from_binary,
    )

    work, landing = _build_msgpack_landing(spark, sf_dir,
                                           "stream_msgpack")
    store = os.path.join(work, "rows")
    ckpt = os.path.join(work, "ckpt")

    stream = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp,"
                " length long, content binary")
        .load(landing)
    )
    rows = values_from_binary(
        stream,
        "event_id bigint, user_id bigint, event_type string, "
        "value double")

    q = (
        rows.writeStream.format("parquet")
        .option("path", store)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(
            "streaming msgpack ingest did not drain in 180 s")
    back = spark.read.parquet(store)
    return back.groupBy("event_type").agg(
        SF.count("*").alias("n"),
        SF.sum("user_id").cast("bigint").alias("sum_user"),
        SF.sum(SF.col("value").cast("decimal(14,2)")).cast("double")
        .alias("total_value"),
    )


@query(
    "streaming_cbor_ingest",
    # the stream route must equal the batch scan row-for-row
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(user_id) AS BIGINT) AS sum_user,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
             AS total_value
    FROM events WHERE event_id % 11 = 3 GROUP BY event_type
    """,
    doc="CONTINUOUS-INGEST of CBOR sequences — the fourteenth "
        "ingest-store loop: readStream(binaryFile) over the SAME "
        "decoy-laden fixture as cbor_events_scan (indefinite "
        "framing every fourth item, duplicate-key and non-map "
        "heads, tag-1 epochs, torn-head tail, reserved-ai junk "
        "file) feeds the SAME RFC 8949 item walk "
        "(sources/cborfile.values_from_binary), lands in a "
        "checkpointed parquet sink with an availableNow drain, and "
        "the aggregated facts must hash-match the batch oracle.",
)
def q_streaming_cbor_ingest(spark, sf_dir):
    from pyspark.sql import functions as SF

    from distributed_computing_projects_spark.queries.ext_pipeline import (
        _build_cbor_landing,
    )
    from distributed_computing_projects_spark.sources.cborfile import (
        values_from_binary,
    )

    work, landing = _build_cbor_landing(spark, sf_dir,
                                        "stream_cbor")
    store = os.path.join(work, "rows")
    ckpt = os.path.join(work, "ckpt")

    stream = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp,"
                " length long, content binary")
        .load(landing)
    )
    rows = values_from_binary(
        stream,
        "event_id bigint, user_id bigint, event_type string, "
        "value double")

    q = (
        rows.writeStream.format("parquet")
        .option("path", store)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(
            "streaming cbor ingest did not drain in 180 s")
    back = spark.read.parquet(store)
    return back.groupBy("event_type").agg(
        SF.count("*").alias("n"),
        SF.sum("user_id").cast("bigint").alias("sum_user"),
        SF.sum(SF.col("value").cast("decimal(14,2)")).cast("double")
        .alias("total_value"),
    )


@query(
    "streaming_delta_sink_ingest",
    # the stream route must equal the parquet-side batch facts
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(user_id) AS BIGINT) AS sum_user,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
             AS total_value
    FROM events WHERE event_id % 11 = 9 GROUP BY event_type
    """,
    doc="CONTINUOUS-INGEST into the TRANSACTIONAL Delta sink — the "
        "sixteenth ingest-store loop and the first whose STORE is a "
        "lakehouse table rather than a bare parquet directory: "
        "readStream over staged JSONL shards drains via foreachBatch "
        "into deltalake.write_delta, so every micro-batch publishes "
        "as ONE atomic put-if-absent commit (a torn batch is "
        "invisible to every reader — exactly the exactly-once story "
        "a landing zone wants from its store), partitioned by "
        "event_type with the partition values riding the log. The "
        "read-back goes through the log-replay reader, so the "
        "multi-commit append chain, the schema-match append gate, "
        "and the broadcast partition attach all sit on the hash "
        "path against the parquet-side oracle.",
)
def q_streaming_delta_sink_ingest(spark, sf_dir):
    import shutil

    from pyspark.sql import functions as SF

    from distributed_computing_projects_spark.queries.ext_pipeline import (
        _session_scratch,
    )
    from distributed_computing_projects_spark.sources import (
        deltalake as DL,
    )
    from distributed_computing_projects_spark.sources.registry import (
        load_table,
    )

    work = _session_scratch(spark, "stream_delta_sink", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    table = os.path.join(work, "table")
    (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 11 == 9)
        .select("event_id", "user_id", "event_type", "value")
        .repartition(4)
        .write.json(landing)
    )

    stream = (
        spark.readStream
        .schema("event_id bigint, user_id bigint, "
                "event_type string, value double")
        .option("maxFilesPerTrigger", 2)  # several commits drain
        .json(landing)
    )

    def land_batch(batch_df, _batch_id):
        DL.write_delta(
            batch_df.select("event_id", "user_id", "value",
                            "event_type"),
            table, partition_by=["event_type"])

    ckpt = os.path.join(work, "ckpt")
    q = (
        stream.writeStream.foreachBatch(land_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(
            "streaming delta-sink ingest did not drain in 180 s")
    back = DL.read_delta(spark, table)
    return back.groupBy("event_type").agg(
        SF.count("*").alias("n"),
        SF.sum("user_id").cast("bigint").alias("sum_user"),
        SF.sum(SF.col("value").cast("decimal(14,2)")).cast("double")
        .alias("total_value"),
    )


@query(
    "streaming_iceberg_sink_ingest",
    # the stream route must equal the parquet-side batch facts
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(user_id) AS BIGINT) AS sum_user,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
             AS total_value
    FROM events WHERE event_id % 11 = 10 GROUP BY event_type
    """,
    doc="CONTINUOUS-INGEST into the Iceberg sink — the seventeenth "
        "ingest-store loop and the Delta loop's format twin: every "
        "micro-batch drains via foreachBatch into "
        "iceberg.write_iceberg as one FAST-APPEND snapshot (the "
        "spec's append shape: one new manifest, the manifest list "
        "reusing every prior manifest — append cost does not grow "
        "with table size, exactly what a continuously-landing zone "
        "needs), metadata publishing via exclusive os.link so racing "
        "drains can never both claim a version. The read-back walks "
        "the full metadata->manifest-list->manifest chain through "
        "the engine's own Avro decoder, so the multi-snapshot "
        "append chain sits on the hash path against the parquet-"
        "side oracle.",
)
def q_streaming_iceberg_sink_ingest(spark, sf_dir):
    import shutil

    from pyspark.sql import functions as SF

    from distributed_computing_projects_spark.queries.ext_pipeline import (
        _session_scratch,
    )
    from distributed_computing_projects_spark.sources import (
        iceberg as IC,
    )
    from distributed_computing_projects_spark.sources.registry import (
        load_table,
    )

    work = _session_scratch(spark, "stream_iceberg_sink", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    table = os.path.join(work, "table")
    (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 11 == 10)
        .select("event_id", "user_id", "event_type", "value")
        .repartition(4)
        .write.json(landing)
    )

    stream = (
        spark.readStream
        .schema("event_id bigint, user_id bigint, "
                "event_type string, value double")
        .option("maxFilesPerTrigger", 2)  # several snapshots drain
        .json(landing)
    )

    def land_batch(batch_df, _batch_id):
        IC.write_iceberg(
            batch_df.select("event_id", "user_id", "value",
                            "event_type"),
            table, partition_by=["event_type"])

    ckpt = os.path.join(work, "ckpt")
    q = (
        stream.writeStream.foreachBatch(land_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(
            "streaming iceberg-sink ingest did not drain in 180 s")
    back = IC.read_iceberg(spark, table)
    return back.groupBy("event_type").agg(
        SF.count("*").alias("n"),
        SF.sum("user_id").cast("bigint").alias("sum_user"),
        SF.sum(SF.col("value").cast("decimal(14,2)")).cast("double")
        .alias("total_value"),
    )
