"""Physical-plan regression tests: the shape assertions that keep the
engine honest at 100 TB (SURVEY §4.2 — pushdown, pruning, broadcast,
top-k, no-cartesian). Run at sf0.001; the plan shape is SF-invariant.
"""

from __future__ import annotations

import pytest

from distributed_computing_projects_spark.plans.inspect import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_read_schema_only,
    assert_topk_not_global_sort,
    physical_plan,
)
from distributed_computing_projects_spark.queries import load_registry


@pytest.fixture(scope="module")
def registry():
    return load_registry()


def test_q1_filter_pushed_to_parquet(spark, sf_dir, registry):
    df = registry["q1_pricing_summary"].fn(spark, sf_dir)
    assert_pushed_filters(df, "l_shipdate")


def test_q6_all_predicates_pushed(spark, sf_dir, registry):
    df = registry["q6_forecast_revenue"].fn(spark, sf_dir)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert_pushed_filters(df, col)


def test_q3_broadcasts_dim_and_uses_topk(spark, sf_dir, registry):
    df = registry["q3_shipping_priority"].fn(spark, sf_dir)
    assert_broadcast_join(df)
    assert_topk_not_global_sort(df)


def test_q5_broadcasts_small_dims(spark, sf_dir, registry):
    df = registry["q5_local_supplier_volume"].fn(spark, sf_dir)
    assert_broadcast_join(df, at_least=2)
    assert_no_cartesian(df)


def test_grep_prunes_unused_document_columns(spark, sf_dir, registry):
    df = registry["grep"].fn(spark, sf_dir)
    assert_read_schema_only(df, "documents.parquet", {"doc_id", "text"})


def test_q1_scan_prunes_to_used_columns(spark, sf_dir, registry):
    df = registry["q1_pricing_summary"].fn(spark, sf_dir)
    assert_read_schema_only(
        df,
        "lineitem.parquet",
        {
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax", "l_shipdate",
        },
    )


def test_ann_topk_avoids_global_sort(spark, sf_dir, registry):
    for name in ("ann_bruteforce_topk", "ann_lsh_topk"):
        assert_topk_not_global_sort(registry[name].fn(spark, sf_dir))


def test_lsh_self_joins_are_equi_joins(spark, sf_dir, registry):
    """Candidate generation for every near-dup family must never plan
    a cartesian/nested-loop product."""
    for name in ("dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_cosine",
                 "dedup_ngram_jaccard"):
        assert_no_cartesian(registry[name].fn(spark, sf_dir))


def test_condorcet_round1_is_shuffle_join(spark, sf_dir, registry):
    assert_no_cartesian(registry["condorcet_round1"].fn(spark, sf_dir))


def test_wordcount_plan_is_codegen_only(spark, sf_dir, registry):
    """explode+count stays entirely in whole-stage codegen: no Python
    evaluation node may appear in the hot path."""
    plan = physical_plan(registry["wordcount"].fn(spark, sf_dir))
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "MapInArrow"):
        assert bad not in plan
    # AQE shows codegen spans only in the final plan; pre-execution the
    # guard that matters is that no Python node interrupts the stages.
    assert "HashAggregate" in plan


def test_q17_single_lineitem_shuffle(spark, sf_dir, registry):
    """The window-avg formulation must shuffle lineitem ONCE (by
    l_partkey), not twice like a groupBy+self-join would."""
    plan = physical_plan(registry["q17_small_quantity_revenue"].fn(spark, sf_dir))
    assert plan.count("hashpartitioning(l_partkey") == 1
    assert "Window" in plan and "Join" not in plan


def test_range_join_is_window_not_join(spark, sf_dir, registry):
    """Clicks-before-purchase compiles to one window over user_id —
    no O(n*m) range join, no Python nodes."""
    plan = physical_plan(
        registry["range_join_clicks_before_purchase"].fn(spark, sf_dir)
    )
    assert "Window" in plan
    assert "Join" not in plan
    assert_no_cartesian(registry["range_join_clicks_before_purchase"].fn(spark, sf_dir))


def test_q4_semi_join_counts_each_order_once(spark, sf_dir, registry):
    plan = physical_plan(registry["q4_late_shipment_priority"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert_pushed_filters(registry["q4_late_shipment_priority"].fn(spark, sf_dir),
                          "o_orderdate")


def test_extension_expressions_stay_jvm_side(spark, sf_dir, registry):
    """MinHash/SimHash/cosine are expression work, not UDFs."""
    for name in ("minhash_signature", "simhash_fingerprint",
                 "dedup_embedding_cosine", "ann_bruteforce_topk"):
        plan = physical_plan(registry[name].fn(spark, sf_dir))
        for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "MapInArrow"):
            assert bad not in plan, f"{name} fell off the JVM path: {bad}"


def test_q19_disjunction_pushed_and_equi_joined(spark, sf_dir, registry):
    """The 3-way OR must not defeat the p_partkey equi-join, and the
    part-side brand/size disjunction must reach the parquet scan."""
    df = registry["q19_disjunctive_revenue"].fn(spark, sf_dir)
    assert_no_cartesian(df)
    plan = physical_plan(df)
    assert "PushedFilters" in plan and "Or(" in plan


def test_q18_having_subquery_is_semi_join(spark, sf_dir, registry):
    plan = physical_plan(registry["q18_large_volume_orders"].fn(spark, sf_dir))
    assert "LeftSemi" in plan


def test_q13_preserves_every_customer(spark, sf_dir, registry):
    """The priority exclusion must live in the JOIN, not a post-filter:
    the distribution must account for EVERY customer (an inner join or
    post-filter would drop zero-order ones)."""
    from distributed_computing_projects_spark.sources.registry import load_table

    rows = registry["q13_order_count_distribution"].fn(spark, sf_dir).collect()
    assert sum(r.custdist for r in rows) == load_table(
        spark, sf_dir, "customer"
    ).count()
    plan = physical_plan(registry["q13_order_count_distribution"].fn(spark, sf_dir))
    assert "LeftOuter" in plan


def test_q21_self_joins_are_hash_not_nested_loop(spark, sf_dir, registry):
    """The correlated EXISTS / NOT EXISTS must compile to semi/anti
    hash joins on l_orderkey — a BroadcastNestedLoopJoin here means a
    per-row rescan of lineitem, which is quadratic at scale."""
    df = registry["q21_waiting_suppliers"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert_no_cartesian(df)
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_q16_not_in_is_plain_anti_join(spark, sf_dir, registry):
    """NOT IN written as an explicit LeftAnti on a never-null key must
    stay a broadcast hash anti join — Spark's null-aware NOT IN
    fallback is a BroadcastNestedLoopJoin."""
    df = registry["q16_supplier_part_counts"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftAnti" in plan, plan
    assert_broadcast_join(df)


def test_q2_min_cost_is_window_not_rescan(spark, sf_dir, registry):
    """The correlated scalar subquery (min cost per part) must compile
    to a window aggregate over the eligible set, not a second scan of
    lineitem joined back per row."""
    df = registry["q2_min_cost_supplier"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("FileScan parquet") <= 5, plan  # each table once
    assert_topk_not_global_sort(df)


def test_q8_q9_broadcast_dims_no_cartesian(spark, sf_dir, registry):
    for name in ("q8_market_share", "q9_product_profit"):
        df = registry[name].fn(spark, sf_dir)
        assert_no_cartesian(df)
        assert_broadcast_join(df, at_least=2)


def test_q11_q15_scalar_subquery_is_broadcast(spark, sf_dir, registry):
    """The 1-row total/max comparison must be a broadcast of one row,
    never a shuffled join of the aggregate against itself."""
    for name in ("q11_important_stock", "q15_top_supplier"):
        df = registry[name].fn(spark, sf_dir)
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastExchange" in plan, plan


def test_knn_join_is_bucketed_equi_join(spark, sf_dir, registry):
    """The KNN self-join must block on the LSH bucket (equi-join) —
    a cartesian/nested-loop here is the all-pairs N^2 trap."""
    df = registry["knn_join_topk"].fn(spark, sf_dir)
    assert_no_cartesian(df)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bucketed_ann_store_partition_prunes(spark, sf_dir, tmp_path):
    """The write_bucketed store must turn the probe's bucket IN-list
    into PartitionFilters (directory pruning) — the scan may touch
    only the probed buckets' files, never the whole corpus."""
    from distributed_computing_projects_spark.operators import similarity as S
    from distributed_computing_projects_spark.sources.registry import load_table
    from distributed_computing_projects_spark.queries.ext_fragments import ANN_QUERY_VEC

    path = str(tmp_path / "emb_bucketed")
    emb = load_table(spark, sf_dir, "embeddings")
    S.write_bucketed(emb, path, "vec_id", "embedding")
    df = S.lsh_topk_bucketed(spark, path, ANN_QUERY_VEC, 5, probe_hamming=1)
    plan = physical_plan(df)
    assert "PartitionFilters" in plan, plan
    # the bucket predicate must be a partition filter, NOT a pushed
    # data filter (that would mean the directories were all listed)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("bucket" in ln for ln in pf), plan
    # and the pruning is real AT EXECUTION: input_file_name() reflects
    # the files the scan actually touched (df.inputFiles() lists the
    # relation pre-pruning, so it cannot prove this)
    from pyspark.sql import functions as SF

    probed = set(S.probe_buckets(ANN_QUERY_VEC, 1))
    touched = (
        spark.read.parquet(path)
        .filter(SF.col("bucket").isin(sorted(probed)))
        .select(SF.input_file_name().alias("f")).distinct().collect()
    )
    assert touched
    for r in touched:
        b = int(r.f.split("bucket=")[1].split("/")[0])
        assert b in probed, f"scan read unprobed bucket {b}"
    # probe result matches the on-the-fly operator exactly
    direct = S.lsh_topk(emb, ANN_QUERY_VEC, 5, "vec_id", "embedding",
                        probe_hamming=1).collect()
    assert [(r.id, round(r.cosine, 12)) for r in df.collect()] == [
        (r.id, round(r.cosine, 12)) for r in direct
    ]


def test_ivf_store_partition_prunes(spark, sf_dir, tmp_path):
    """Same contract for the IVF inverted-list store: the probes'
    cell IN-list must be a PartitionFilter and the probe must equal
    the on-the-fly ivf_topk."""
    from distributed_computing_projects_spark.operators import similarity as S
    from distributed_computing_projects_spark.sources.registry import load_table
    from distributed_computing_projects_spark.queries.ext_fragments import ANN_QUERY_VEC

    path = str(tmp_path / "emb_ivf")
    emb = load_table(spark, sf_dir, "embeddings")
    S.write_ivf(emb, path, "vec_id", "embedding")
    df = S.ivf_topk_partitioned(spark, path, ANN_QUERY_VEC, 5, probes=2)
    plan = physical_plan(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cell" in ln for ln in pf), plan
    direct = S.ivf_topk(emb, ANN_QUERY_VEC, 5, "vec_id", "embedding",
                        probes=2).collect()
    assert [(r.id, round(r.cosine, 12)) for r in df.collect()] == [
        (r.id, round(r.cosine, 12)) for r in direct
    ]


def test_pipeline_summary_is_single_scan_no_join(spark, sf_dir, registry):
    """The end-to-end gate->dedup->chunk pipeline must read the corpus
    exactly once: provenance rides through the narrow chunker (carry=),
    so there is no join back and no second FileScan."""
    df = registry["training_corpus_summary"].fn(spark, sf_dir)
    assert_no_cartesian(df)
    plan = physical_plan(df)
    # formatted mode prints each node in the tree AND the details
    # section; count the numbered detail entries (one per scan node)
    import re
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scans) == 1, plan


def test_band_store_partition_prunes_on_key_hash(spark, sf_dir, tmp_path):
    """The incremental-dedup band store must turn the batch's kb
    IN-list into PartitionFilters (directory pruning): a small batch
    reads only the key-hash directories it touches, never the whole
    corpus store."""
    from pyspark.sql import Row, functions as SF

    from distributed_computing_projects_spark.operators import (
        bandstore as BS,
    )
    from distributed_computing_projects_spark.sources.registry import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bands")
    BS.write_bands(docs, path, "doc_id", "text")
    # a 1-doc batch touches at most N_BANDS of the KB_PARTS directories
    batch = spark.createDataFrame(
        [Row(doc_id=10**9, text="one two three four five six seven")]
    )
    df = BS.incremental_pairs_against_store(
        spark, path, batch, "doc_id", "text", threshold=0.0
    )
    plan = physical_plan(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("kb" in ln for ln in pf), plan
    # pruning is real at execution: the store scan under the batch's
    # kb filter touches only those directories' files
    kbs = {r.kb for r in BS.banded_rows(batch, "doc_id", "text")
           .select("kb").distinct().collect()}
    assert 0 < len(kbs) <= 16  # N_BANDS
    touched = (
        spark.read.parquet(path)
        .filter(SF.col("kb").isin(sorted(kbs)))
        .select(SF.input_file_name().alias("f")).distinct().collect()
    )
    assert touched
    for r in touched:
        kb = int(r.f.split("kb=")[1].split("/")[0])
        assert kb in kbs, f"scan read unprobed kb dir {kb}"


def test_vocab_coverage_topk_not_global_sort(spark, sf_dir, registry):
    """The vocab slice must be TakeOrderedAndProject (top-V without a
    global sort); the cumulative window then runs on that slice."""
    df = registry["vocab_coverage"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    # the only nested-loop join is the deliberate 1-row broadcast of
    # the corpus total; a shuffled product is still forbidden
    assert "CartesianProduct" not in plan, plan


def test_decontaminate_ngram_broadcasts_eval_grams(spark, sf_dir, registry):
    """The eval gram set must broadcast: the train side never shuffles
    for the join (eval sets are small by nature at any corpus scale)."""
    df = registry["decontaminate_ngram_hits"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert_no_cartesian(df)


def test_knn_join_recall_blocked_sides_stay_equi_joins(spark, sf_dir,
                                                       registry):
    """The two blocked tiers must stay bucket equi-joins; the only
    nested-loop join allowed is the exact side's deliberate broadcast
    of the 1-in-5 sample (never a shuffled cartesian)."""
    df = registry["knn_join_recall"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the exact side


def test_trained_ivf_assignment_is_codegen_scan(spark, sf_dir):
    """The trained-quantizer corpus assignment must stay a narrow baked
    expression over one scan — no join against a centroid table, no
    exchange except the top-k gather (the at-scale claim of
    operators/ivf_train.py)."""
    from distributed_computing_projects_spark.operators import (
        ivf_train as IVT,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = IVT.train(spark, emb, "vec_id", "embedding")
    df = IVT.trained_topk(spark, emb, [0.1] * 64, 5, "vec_id",
                          "embedding", probes=2, centroids=cents)
    plan = physical_plan(df)
    assert_no_cartesian(df)
    assert_topk_not_global_sort(df)
    for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        assert join not in plan, f"centroid assignment must not join:\n{plan}"
    # exactly one scan: the formatted plan lists one Location per scan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_jpeg_decode_filters_jvm_side_before_python(spark, sf_dir,
                                                    registry):
    """The multimodal module doc's scale contract, plan-asserted for
    the JPEG family: the eligibility filter runs inside whole-stage
    codegen BEFORE either Arrow stage (only surviving rows pay the
    Python hop), the scan reads just (doc_id, text), and the whole
    query is shuffle-free."""
    df = registry["multimodal_jpeg_decode"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # exactly ONE exchange: the spread() round-robin that parallelizes
    # the CPU-bound Python stages past a single-split scan (a no-op on
    # multi-split corpora); anything more is a regression
    assert plan.count("+- Exchange") == 1, plan
    assert "roundrobin" in plan.lower(), plan
    assert "octet_length" in plan, plan
    # filter must appear upstream of (= listed after, in the formatted
    # numbering) the first MapInArrow: codegen Filter node feeds it
    filt = plan.index("Filter")
    first_py = plan.index("MapInArrow")
    assert first_py < filt  # tree prints top-down: Python sits above
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_video_and_gif_frames_filter_jvm_side_before_python(
        spark, sf_dir, registry):
    """Same scale contract for the video/animated-GIF families: the
    byte-length eligibility filter runs JVM-side BEFORE the Arrow
    encode/decode stages, the scan reads just (doc_id, text), and the
    per-frame queries are shuffle-free (the frame fan-out happens
    inside the Python stage, not via an exchange)."""
    for name in ("multimodal_video_frame_sample", "multimodal_gif_frames"):
        df = registry[name].fn(spark, sf_dir)
        plan = physical_plan(df)
        # one spread() exchange (see the JPEG test); the frame fan-out
        # itself still happens inside the Python stage, not via shuffle
        assert plan.count("+- Exchange") == 1, (name, plan)
        assert "roundrobin" in plan.lower(), (name, plan)
        assert "octet_length" in plan, (name, plan)
        filt = plan.index("Filter")
        first_py = plan.index("MapInArrow")
        assert first_py < filt, (name, plan)
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, (
            name, plan)


def test_bpe_round_is_partial_agg_over_vocab(spark, sf_dir):
    """BPE training's per-round shape: the pair count is a two-phase
    hash aggregate (map-side partial combine before the shuffle — the
    100 TB-safe aggregation) over the vocab-sized word table, and the
    argmax is TakeOrdered, not a global sort."""
    from distributed_computing_projects_spark.operators import bpe as B
    from distributed_computing_projects_spark.sources.registry import (
        load_table,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    words = B.word_table(docs, "text").select(
        F.expr("filter(split(w, ''), x -> x != '')").alias("syms"),
        "cnt")
    pairs = (
        words.select("cnt", F.explode(F.expr(B._PAIRS_EXPR)).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").alias("c"))
        .orderBy(F.desc("c"), "l", "r").limit(1)
    )
    plan = physical_plan(pairs)
    assert plan.count("HashAggregate") >= 4, plan  # 2 aggs x 2 phases
    assert "TakeOrderedAndProject" in plan, plan
    assert "ReadSchema: struct<text:string>" in plan, plan


def test_quality_classifier_scoring_broadcasts_vocab(spark, sf_dir,
                                                     registry):
    """The score stage's vocab join must broadcast (the min-df-bounded
    weights table is small at any corpus scale); the per-doc shuffle
    carries partial sums, never occurrences with a shuffled join."""
    df = registry["quality_classifier_confusion"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    # the only nested-loop join is the deliberate 1-row broadcast of
    # the training totals; a shuffled product is still forbidden
    assert "CartesianProduct" not in plan, plan


def test_new_headliner_join_shapes(spark, sf_dir, registry):
    """Join-shape guards for the round-9 headliners (their exact
    exchange counts are pinned in tests/test_exchange_budget.py):
    no sort-merge join anywhere — the classifier's vocab and the
    1-row totals/threshold always broadcast, the sketch and z-order
    queries are join-free."""
    for name in ("zorder_layout_quality", "sketch_distinct_tokens",
                 "quality_classifier_confusion"):
        plan = physical_plan(registry[name].fn(spark, sf_dir))
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
    assert "BroadcastHashJoin" in physical_plan(
        registry["quality_classifier_confusion"].fn(spark, sf_dir))


def test_new_codec_queries_filter_jvm_side_before_python(
        spark, sf_dir, registry):
    """Same pre-Python pushdown contract for the round-9 codec
    queries (G.711, ADPCM, TIFF): eligibility filter inside codegen
    BEFORE the Arrow decode stage, narrow (doc_id, text) scan, one
    spread() exchange only."""
    for name in ("multimodal_g711_decode", "multimodal_adpcm_decode",
                 "multimodal_tiff_decode"):
        df = registry[name].fn(spark, sf_dir)
        plan = physical_plan(df)
        assert "octet_length" in plan, (name, plan)
        filt = plan.index("Filter")
        first_py = plan.index("MapInArrow")
        assert first_py < filt, (name, plan)
        assert ("ReadSchema: struct<doc_id:bigint,text:string>"
                in plan), (name, plan)


def test_pagerank_scan_is_pruned_and_pushed(spark, sf_dir, registry):
    """The click-graph build must push the event_type predicate into
    the parquet scan and read only the three columns it needs — at
    100 TB of events the scan is the dominant cost and a full-width
    read would be the regression."""
    df = registry["graph_pagerank_topk"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "PushedFilters: [IsNotNull(event_type)," in plan, plan
    assert ("ReadSchema: struct<user_id:bigint,event_type:string,"
            "props:string>") in plan, plan


def test_lm_scoring_model_tables_broadcast_at_small_sf(
        spark, sf_dir, registry):
    """The LM scoring joins are on the gram key against
    vocabulary-sized count tables: at test SF every model join must
    be a broadcast (at web scale the same plan degrades to
    shuffle-hash without rewrite — the operator docstring's claim;
    what this pins is that nothing FORCES a shuffle join)."""
    df = registry["lm_perplexity_rank"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_orc_store_partition_prunes_and_pushes_down(spark, sf_dir,
                                                    tmp_path):
    """The ORC path must carry the same scan machinery as parquet: an
    event_type filter over a partitioned ORC store becomes
    PartitionFilters (directory pruning), and a data-column predicate
    reaches the scan as a PushedFilter."""
    from pyspark.sql import functions as SF
    from distributed_computing_projects_spark.sources.registry import (
        load_table,
    )

    path = str(tmp_path / "ev_orc")
    load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    ).write.partitionBy("event_type").orc(path)
    df = (
        spark.read.orc(path)
        .filter(SF.col("event_type") == "click")
        .filter(SF.col("user_id") > 100)
        .select("event_id")
    )
    plan = physical_plan(df)
    assert "PartitionFilters" in plan, plan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("event_type" in ln for ln in pf), plan
    assert "PushedFilters" in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("user_id" in ln for ln in pushed), plan


def test_pdf_payload_builders_prune_documents_scan(spark, sf_dir,
                                                   registry):
    """The document->payload builders must not drag unused corpus
    columns (lang, source, ts, ...) through the Arrow boundary — the
    scan prunes to exactly the builder's inputs."""
    for name in ("pdf_objstm_extract_text", "pdf_tounicode_extract_text",
                 "pdf_objstm_extract_strings"):
        df = registry[name].fn(spark, sf_dir)
        assert_read_schema_only(df, "documents.parquet",
                                {"doc_id", "text"})


def test_wet_builder_prunes_documents_scan(spark, sf_dir, registry):
    df = registry["wet_extract_conversions"].fn(spark, sf_dir)
    assert_read_schema_only(df, "documents.parquet",
                            {"doc_id", "text", "source"})


def test_wikidump_plain_text_prunes_documents_scan(spark, sf_dir,
                                                   registry):
    df = registry["wikidump_plain_text"].fn(spark, sf_dir)
    assert_read_schema_only(df, "documents.parquet",
                            {"doc_id", "text"})
