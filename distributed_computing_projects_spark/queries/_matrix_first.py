"""GENERATED by tools/matrix_rotation.py — do not hand-edit.

Matrix order for the driver's ~50-row correctness matrix:
queries needing a fresh driver verdict first (never-green, then
changed-since-last-green), then the rest stalest-first. Regenerate
with `python tools/matrix_rotation.py order` after code changes;
tests/test_matrix_rotation.py fails until this file is current.
"""

GENERATED_FROM_ROUNDS = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17]

MATRIX_ORDER = [
    'html_extract_text',  # changed since green r9
    'multimodal_video_decode',  # changed since green r9
    'multimodal_video_frame_sample',  # changed since green r9
    'url_dedup_groups',  # changed since green r9
    'boilerplate_ngrams',  # changed since green r10
    'corpus_quality_gate',  # changed since green r10
    'doc_fingerprint',  # changed since green r10
    'gopher_quality_flags',  # changed since green r10
    'language_id',  # changed since green r10
    'multimodal_mp3_vbr',  # changed since green r10
    'pii_redact',  # changed since green r10
    'repetition_stats',  # changed since green r10
    'text_quality',  # changed since green r10
    'cms_token_frequencies',  # changed since green r11
    'decontaminate_bloom',  # changed since green r11
    'decontaminate_ngram_hits',  # changed since green r11
    'doc_winnow_fingerprint',  # changed since green r11
    'lm_bigram_counts',  # changed since green r11
    'lm_ccnet_buckets',  # changed since green r11
    'lm_perplexity_rank',  # changed since green r11
    'multimodal_mp3_stream_stats',  # changed since green r11
    'sketch_distinct_tokens',  # changed since green r11
    'sketch_union_distinct',  # changed since green r11
    'streaming_bloom_ingest',  # changed since green r11
    'streaming_kmv_ingest',  # changed since green r11
    'streaming_lm_scoring',  # changed since green r11
    'text_nfc_normalize',  # changed since green r11
    'ann_bruteforce_topk',  # changed since green r12
    'ann_ivf_incremental_topk',  # changed since green r12
    'ann_ivf_topk',  # changed since green r12
    'ann_ivf_trained_recall',  # changed since green r12
    'ann_ivf_trained_topk',  # changed since green r12
    'ann_ivf_twolevel_recall',  # changed since green r12
    'ann_ivf_twolevel_topk',  # changed since green r12
    'ann_ivfpq_store_topk',  # changed since green r12
    'ann_ivfpq_topk',  # changed since green r12
    'ann_lsh_incremental_topk',  # changed since green r12
    'ann_lsh_topk',  # changed since green r12
    'ann_pq_topk',  # changed since green r12
    'ann_recall',  # changed since green r12
    'decontaminate_eval',  # changed since green r12
    'dedup_clusters',  # changed since green r12
    'dedup_edit_distance',  # changed since green r12
    'dedup_embedding_cosine',  # changed since green r12
    'dedup_embedding_cosine_fine',  # changed since green r12
    'dedup_exact',  # changed since green r12
    'dedup_incremental',  # changed since green r12
    'dedup_incremental_store',  # changed since green r12
    'dedup_lines_c4',  # changed since green r12
    'dedup_minhash_lsh',  # changed since green r12
    'dedup_ngram_jaccard',  # changed since green r12
    'dedup_semantic',  # changed since green r12
    'dedup_semantic_twolevel',  # changed since green r12
    'dedup_simhash',  # changed since green r12
    'dedup_survivors',  # changed since green r12
    'knn_join_recall',  # changed since green r12
    'knn_join_topk',  # changed since green r12
    'knn_label_accuracy',  # changed since green r12
    'minhash_signature',  # changed since green r12
    'quality_classifier_confusion',  # changed since green r12
    'quality_classifier_weights',  # changed since green r12
    'simhash_fingerprint',  # changed since green r12
    'streaming_ann_ingest',  # changed since green r12
    'streaming_dedup_ingest',  # changed since green r12
    'streaming_dedup_ingest_epochs',  # changed since green r12
    'streaming_ivfpq_ingest',  # changed since green r12
    'wikidump_extract_pages',  # changed since green r12
    'multimodal_adpcm_decode',  # changed since green r13
    'multimodal_audio_decode',  # changed since green r13
    'multimodal_audio_features',  # changed since green r13
    'multimodal_avif_decode',  # changed since green r13
    'multimodal_features',  # changed since green r13
    'multimodal_flac_decode',  # changed since green r13
    'multimodal_frame_sample',  # changed since green r13
    'multimodal_g711_decode',  # changed since green r13
    'multimodal_gif_decode',  # changed since green r13
    'multimodal_gif_frames',  # changed since green r13
    'multimodal_heic_decode',  # changed since green r13
    'multimodal_image_decode',  # changed since green r13
    'multimodal_jpeg420_decode',  # changed since green r13
    'multimodal_jpeg_coeffs',  # changed since green r13
    'multimodal_jpeg_decode',  # changed since green r13
    'multimodal_jpeg_progressive',  # changed since green r13
    'multimodal_jpeg_progressive_decode',  # changed since green r13
    'multimodal_payload_stats',  # changed since green r13
    'multimodal_png_decode',  # changed since green r13
    'multimodal_png_interlaced',  # changed since green r13
    'multimodal_png_palette',  # changed since green r13
    'multimodal_resize',  # changed since green r13
    'multimodal_tiff_decode',  # changed since green r13
    'multimodal_webp_decode',  # changed since green r13
    'pdf_extract_text',  # changed since green r13
    'pdf_filters_extract_text',  # changed since green r13
    'pdf_objstm_extract_strings',  # changed since green r13
    'pdf_objstm_extract_text',  # changed since green r13
    'pdf_tounicode_extract_text',  # changed since green r13
    'training_corpus_summary',  # changed since green r13
    'training_corpus_v2',  # changed since green r13
    'webdataset_scan',  # changed since green r13
    'wikidump_nowiki_plain_text',  # changed since green r13
    'wikidump_plain_text',  # changed since green r13
    'condorcet_round1',  # changed since green r14
    'condorcet_wins',  # changed since green r14
    'dataset_split_counts',  # changed since green r14
    'epub_extract_text',  # changed since green r14
    'mbox_extract_emails',  # changed since green r14
    'odt_extract_text',  # changed since green r14
    'stratified_sample_counts',  # changed since green r14
    'streaming_wet_ingest',  # changed since green r14
    'tfidf_top_terms',  # changed since green r14
    'token_stats',  # changed since green r14
    'token_stats_bpe',  # changed since green r14
    'training_corpus_wire',  # changed since green r14
    'vocab_coverage',  # changed since green r14
    'warc_content_encoded_responses',  # changed since green r14
    'warc_extract_responses',  # changed since green r14
    'warc_gz_extract_responses',  # changed since green r14
    'warc_zst_extract_responses',  # changed since green r14
    'wet_extract_conversions',  # changed since green r14
    'wet_zst_extract_conversions',  # changed since green r14
    'zip_archive_scan',  # changed since green r14
    'arrow_events_roundtrip',  # changed since green r15
    'bson_events_scan',  # changed since green r15
    'cbor_events_scan',  # changed since green r15
    'doc_length_histogram',  # changed since green r15
    'docx_extract_text',  # changed since green r15
    'jsonl_bgzf_scan',  # changed since green r15
    'jsonl_xz_blocks_scan',  # changed since green r15
    'msgpack_events_scan',  # changed since green r15
    'pptx_extract_text',  # changed since green r15
    'rtf_extract_text',  # changed since green r15
    'seekable_sink_roundtrip',  # changed since green r15
    'sketch_hll_tokens',  # changed since green r15
    'sketch_intersect_distinct',  # changed since green r15
    'streaming_tfrecord_ingest',  # changed since green r15
    'wat_extract_links',  # changed since green r15
    'xlsx_events_roundtrip',  # changed since green r15
    'maplejuice_wordcount',  # pre-snapshot green r17 — conservative re-verify
    'avro_events_roundtrip',  # pre-snapshot green r17 — conservative re-verify
    'bpe_encode_tokens',  # pre-snapshot green r17 — conservative re-verify
    'bpe_train_merges',  # pre-snapshot green r17 — conservative re-verify
    'delta_column_mapping_scan',  # pre-snapshot green r17 — conservative re-verify
    'delta_dv_delete_roundtrip',  # pre-snapshot green r17 — conservative re-verify
    'delta_dv_table_scan',  # pre-snapshot green r17 — conservative re-verify
    'delta_incremental_scan',  # pre-snapshot green r17 — conservative re-verify
    'delta_optimize_roundtrip',  # pre-snapshot green r17 — conservative re-verify
    'delta_restore_roundtrip',  # pre-snapshot green r17 — conservative re-verify
    'delta_schema_evolution_scan',  # pre-snapshot green r17 — conservative re-verify
    'delta_sink_roundtrip',  # pre-snapshot green r17 — conservative re-verify
    'delta_table_scan',  # pre-snapshot green r17 — conservative re-verify
    'delta_time_travel_scan',  # pre-snapshot green r17 — conservative re-verify
    'delta_vacuum_roundtrip',  # pre-snapshot green r17 — conservative re-verify
    'graph_pagerank_topk',  # pre-snapshot green r17 — conservative re-verify
    'hudi_clean_roundtrip',  # pre-snapshot green r17 — conservative re-verify
    'hudi_mor_compact_roundtrip',  # pre-snapshot green r17 — conservative re-verify
    'hudi_mor_snapshot_scan',  # pre-snapshot green r17 — conservative re-verify
    'hudi_table_scan',  # pre-snapshot green r17 — conservative re-verify
    'hudi_time_travel_scan',  # pre-snapshot green r17 — conservative re-verify
    'iceberg_expire_roundtrip',  # pre-snapshot green r17 — conservative re-verify
    'iceberg_orc_mixed_scan',  # pre-snapshot green r17 — conservative re-verify
    'iceberg_pos_delete_roundtrip',  # pre-snapshot green r17 — conservative re-verify
    'iceberg_pos_delete_scan',  # pre-snapshot green r17 — conservative re-verify
    'iceberg_rename_scan',  # pre-snapshot green r17 — conservative re-verify
    'iceberg_sink_roundtrip',  # pre-snapshot green r17 — conservative re-verify
    'iceberg_snapshot_scan',  # pre-snapshot green r17 — conservative re-verify
    'iceberg_table_scan',  # pre-snapshot green r17 — conservative re-verify
    'jsonl_xz_scan',  # pre-snapshot green r17 — conservative re-verify
    'jsonl_zst_scan',  # pre-snapshot green r17 — conservative re-verify
    'jsonl_zst_seekable_scan',  # pre-snapshot green r17 — conservative re-verify
    'lsh_bucket_label_purity',  # pre-snapshot green r17 — conservative re-verify
    'order_fulfillment_latency',  # pre-snapshot green r17 — conservative re-verify
    'orders_by_month',  # pre-snapshot green r17 — conservative re-verify
    'pack_documents',  # pre-snapshot green r17 — conservative re-verify
    'pbstream_events_scan',  # pre-snapshot green r17 — conservative re-verify
    'q13_order_count_distribution',  # pre-snapshot green r17 — conservative re-verify
    'q14_promo_revenue',  # pre-snapshot green r17 — conservative re-verify
    'q17_small_quantity_revenue',  # pre-snapshot green r17 — conservative re-verify
    'q18_large_volume_orders',  # pre-snapshot green r17 — conservative re-verify
    'sqlite_events_scan',  # pre-snapshot green r17 — conservative re-verify
    'streaming_click_purchase_join',  # pre-snapshot green r17 — conservative re-verify
    'streaming_dedup_events',  # pre-snapshot green r17 — conservative re-verify
    'streaming_delta_sink_ingest',  # pre-snapshot green r17 — conservative re-verify
    'streaming_enriched_category_totals',  # pre-snapshot green r17 — conservative re-verify
    'streaming_events_hourly',  # pre-snapshot green r17 — conservative re-verify
    'streaming_iceberg_sink_ingest',  # pre-snapshot green r17 — conservative re-verify
    'tfrecord_scan',  # pre-snapshot green r17 — conservative re-verify
    'wat_link_pagerank',  # pre-snapshot green r17 — conservative re-verify
    'skewed_join_salted',  # green r9
    'zorder_layout_quality',  # green r9
    'streaming_user_running_totals',  # green r10
    'chunk_documents',  # green r11
    'corpus_shuffle_head',  # green r11
    'grep',  # green r11
    'grep_count',  # green r11
    'streaming_sliding_counts',  # green r11
    'streaming_user_sessions',  # green r11
    'user_running_totals_final',  # green r11
    'orc_events_roundtrip',  # green r12
    'parquet_zstd_roundtrip',  # green r12
    'grep_zst_logs',  # green r13
    'orders_cube',  # green r13
    'streaming_avro_ingest',  # green r13
    'streaming_jsonl_zst_ingest',  # green r13
    'asof_last_click_before_purchase',  # green r14
    'condorcet_winner',  # green r14
    'customers_without_orders',  # green r14
    'pack_stats',  # green r14
    'q10_returned_item_customers',  # green r14
    'q11_important_stock',  # green r14
    'q12_late_shipment_priority_counts',  # green r14
    'q19_disjunctive_revenue',  # green r14
    'q1_pricing_summary',  # green r14
    'q22_lapsed_rich_customers',  # green r14
    'q3_shipping_priority',  # green r14
    'q4_late_shipment_priority',  # green r14
    'q5_local_supplier_volume',  # green r14
    'q6_forecast_revenue',  # green r14
    'quantity_quartiles',  # green r14
    'repeat_customers_setop',  # green r14
    'returnflag_rollup',  # green r14
    'sql_nation_revenue_rank',  # green r14
    'streaming_arrow_ingest',  # green r14
    'supplier_part_stats',  # green r14
    'suppliers_with_returns',  # green r14
    'tail_n',  # green r14
    'top3_orders_per_customer',  # green r14
    'wine_csv_agg',  # green r14
    'events_hourly',  # green r15
    'events_props_json',  # green r15
    'grep_logs',  # green r15
    'jsonl_events_agg',  # green r15
    'q15_top_supplier',  # green r15
    'q16_supplier_part_counts',  # green r15
    'q20_part_promotion_suppliers',  # green r15
    'q21_waiting_suppliers',  # green r15
    'q2_min_cost_supplier',  # green r15
    'q7_nation_volume_shipping',  # green r15
    'q8_market_share',  # green r15
    'q9_product_profit',  # green r15
    'range_join_clicks_before_purchase',  # green r15
    'sketch_value_quantiles',  # green r15
    'streaming_cbor_ingest',  # green r15
    'streaming_jsonl_agg',  # green r15
    'streaming_msgpack_ingest',  # green r15
    'streaming_sqlite_ingest',  # green r15
    'user_sessions',  # green r15
    'wine_filter_agg',  # green r15
    'wordcount',  # green r15
]

# Urgent queries past the driver's row budget this round: no
# driver row until next round; oracle-verified in pytest instead
# (tests/test_matrix_rotation.py::test_overflow_queries_verify).
MATRIX_OVERFLOW = ['dedup_ngram_jaccard', 'dedup_semantic', 'dedup_semantic_twolevel', 'dedup_simhash', 'dedup_survivors', 'knn_join_recall', 'knn_join_topk', 'knn_label_accuracy', 'minhash_signature', 'quality_classifier_confusion', 'quality_classifier_weights', 'simhash_fingerprint', 'streaming_ann_ingest', 'streaming_dedup_ingest', 'streaming_dedup_ingest_epochs', 'streaming_ivfpq_ingest', 'wikidump_extract_pages', 'multimodal_adpcm_decode', 'multimodal_audio_decode', 'multimodal_audio_features', 'multimodal_avif_decode', 'multimodal_features', 'multimodal_flac_decode', 'multimodal_frame_sample', 'multimodal_g711_decode', 'multimodal_gif_decode', 'multimodal_gif_frames', 'multimodal_heic_decode', 'multimodal_image_decode', 'multimodal_jpeg420_decode', 'multimodal_jpeg_coeffs', 'multimodal_jpeg_decode', 'multimodal_jpeg_progressive', 'multimodal_jpeg_progressive_decode', 'multimodal_payload_stats', 'multimodal_png_decode', 'multimodal_png_interlaced', 'multimodal_png_palette', 'multimodal_resize', 'multimodal_tiff_decode', 'multimodal_webp_decode', 'pdf_extract_text', 'pdf_filters_extract_text', 'pdf_objstm_extract_strings', 'pdf_objstm_extract_text', 'pdf_tounicode_extract_text', 'training_corpus_summary', 'training_corpus_v2', 'webdataset_scan', 'wikidump_nowiki_plain_text', 'wikidump_plain_text', 'condorcet_round1', 'condorcet_wins', 'dataset_split_counts', 'epub_extract_text', 'mbox_extract_emails', 'odt_extract_text', 'stratified_sample_counts', 'streaming_wet_ingest', 'tfidf_top_terms', 'token_stats', 'token_stats_bpe', 'training_corpus_wire', 'vocab_coverage', 'warc_content_encoded_responses', 'warc_extract_responses', 'warc_gz_extract_responses', 'warc_zst_extract_responses', 'wet_extract_conversions', 'wet_zst_extract_conversions', 'zip_archive_scan', 'arrow_events_roundtrip', 'bson_events_scan', 'cbor_events_scan', 'doc_length_histogram', 'docx_extract_text', 'jsonl_bgzf_scan', 'jsonl_xz_blocks_scan', 'msgpack_events_scan', 'pptx_extract_text', 'rtf_extract_text', 'seekable_sink_roundtrip', 'sketch_hll_tokens', 'sketch_intersect_distinct', 'streaming_tfrecord_ingest', 'wat_extract_links', 'xlsx_events_roundtrip']
