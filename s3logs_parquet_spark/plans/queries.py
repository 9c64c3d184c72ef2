"""The query registry: every operator family exposed as a
(spark_builder, oracle_sql) pair for the driver's differential gate.

Each entry's Spark side is idiomatic DataFrame code built from the
package's operators; the oracle side is ANSI SQL DuckDB runs on the
same parquet tables. Column names and rounding are aligned on both
sides because the driver's compare hashes values sorted by column
name. FP discipline: money sums rounded to 2, ratios/cosines to 6 —
and where exactness matters (hashes, counts) the arithmetic is
integer/md5-portable (functions/hashing.py).

Registry shape:  QUERIES: name -> (fn(spark, sf_dir) -> DataFrame,
                                  oracle_sql: str)

The builders and their oracles live one module per family:
relational, tpch_extra, tpch_partsupp, events, log_pipeline,
docs_text, docs_neardup and embeddings.

The driver's correctness gate records only the first 50 entries, so
the order is evidence policy: the two fixed 50-query windows swap
places each round (the next round reads ``_WINDOW_B | _WINDOW_A``),
giving every gate a driver-recorded row at least every two rounds.
tests/test_oracles_full.py pins that invariant against the latest
CORRECTNESS_r*.json record and gates the second window against DuckDB.
"""

from __future__ import annotations

from s3logs_parquet_spark.plans import (
    docs_neardup,
    docs_text,
    embeddings,
    events,
    log_pipeline,
    relational,
    tpch_extra,
    tpch_partsupp,
)

_WINDOW_A = {
    "events_kmv_global": (events.q_events_kmv_global, events.ORACLE_EVENTS_KMV_GLOBAL),
    "s3log_parse_fields": (log_pipeline.q_log_parse_fields, log_pipeline.ORACLE_LOG_PARSE_FIELDS),
    "docs_exact_dedup": (docs_neardup.q_docs_exact_dedup, docs_neardup.ORACLE_DOCS_EXACT_DEDUP),
    "docs_minhash_lsh_pairs": (docs_neardup.q_docs_minhash_pairs, docs_neardup.ORACLE_DOCS_MINHASH),
    "docs_incremental_neardup": (docs_neardup.q_docs_incremental_neardup, docs_neardup.ORACLE_DOCS_INCREMENTAL_NEARDUP),
    "docs_neardup_clusters": (docs_neardup.q_docs_neardup_clusters, docs_neardup.ORACLE_DOCS_CLUSTERS),
    "docs_curation_pipeline": (docs_neardup.q_docs_curation_pipeline, docs_neardup.ORACLE_DOCS_CURATION),
    "emb_cosine_topk": (embeddings.q_emb_topk, embeddings.ORACLE_EMB_TOPK),
    "emb_lsh_recall": (embeddings.q_emb_lsh_recall, embeddings.ORACLE_EMB_LSH_RECALL),
    "emb_ivf_trained_topk": (embeddings.q_emb_ivf_trained_topk, embeddings.ORACLE_EMB_IVF_TRAINED),
    "multimodal_binary_meta": (docs_text.q_multimodal_meta, docs_text.ORACLE_MULTIMODAL_META),
    "orders_distinct_agg": (relational.q_orders_distinct, relational.ORACLE_ORDERS_DISTINCT),
    "events_window_dedup": (events.q_events_window_dedup, events.ORACLE_EVENTS_WINDOW_DEDUP),
    "tpch_q3_shipping_priority": (relational.q_tpch_q3, relational.ORACLE_TPCH_Q3),
    "tpch_q6_forecast_revenue": (relational.q_tpch_q6, relational.ORACLE_TPCH_Q6),
    "tpch_q10_returned_items": (relational.q_tpch_q10, relational.ORACLE_TPCH_Q10),
    "tpch_q14_promo_effect": (relational.q_tpch_q14, relational.ORACLE_TPCH_Q14),
    "part_topk_price": (relational.q_part_topk, relational.ORACLE_PART_TOPK),
    "events_minmax_ts": (events.q_events_minmax, events.ORACLE_EVENTS_MINMAX),
    "emb_semantic_dedup": (embeddings.q_emb_semantic_dedup, embeddings.ORACLE_EMB_SEMANTIC_DEDUP),
    "lineitem_rollup": (relational.q_lineitem_rollup, relational.ORACLE_LINEITEM_ROLLUP),
    "docs_inference_scores": (docs_text.q_docs_inference_scores, docs_text.ORACLE_DOCS_INFERENCE),
    "docs_langid": (docs_text.q_docs_langid, docs_text.ORACLE_DOCS_LANGID),
    "docs_fingerprint": (docs_text.q_docs_fingerprint, docs_text.ORACLE_DOCS_FINGERPRINT),
    "docs_chunk_windows": (docs_text.q_docs_chunk_windows, docs_text.ORACLE_DOCS_CHUNKS),
    "docs_split_assign": (docs_text.q_docs_split_assign, docs_text.ORACLE_DOCS_SPLIT),
    "docs_dup_rate_by_source": (docs_neardup.q_docs_dup_rate_by_source, docs_neardup.ORACLE_DOCS_DUP_RATE),
    "docs_lsh_pairs_capped": (docs_neardup.q_docs_lsh_pairs_capped, docs_neardup.ORACLE_DOCS_LSH_CAPPED),
    "emb_pq_topk": (embeddings.q_emb_pq_topk, embeddings.ORACLE_EMB_PQ),
    "lineitem_cube": (relational.q_lineitem_cube, relational.ORACLE_LINEITEM_CUBE),
    "events_user_halves_full_outer": (events.q_events_user_halves_full_outer, events.ORACLE_EVENTS_FULL_OUTER),
    "tpch_q4_order_priority": (tpch_extra.q_tpch_q4, tpch_extra.ORACLE_TPCH_Q4),
    "tpch_q7_nation_volume": (tpch_extra.q_tpch_q7, tpch_extra.ORACLE_TPCH_Q7),
    "tpch_q8_market_share": (tpch_extra.q_tpch_q8, tpch_extra.ORACLE_TPCH_Q8),
    "tpch_q12_late_shipment": (tpch_extra.q_tpch_q12, tpch_extra.ORACLE_TPCH_Q12),
    "tpch_q13_order_distribution": (tpch_extra.q_tpch_q13, tpch_extra.ORACLE_TPCH_Q13),
    "tpch_q15_top_supplier": (tpch_extra.q_tpch_q15, tpch_extra.ORACLE_TPCH_Q15),
    "tpch_q17_small_qty_revenue": (tpch_extra.q_tpch_q17, tpch_extra.ORACLE_TPCH_Q17),
    "tpch_q19_disjunctive_filter": (tpch_extra.q_tpch_q19, tpch_extra.ORACLE_TPCH_Q19),
    "tpch_q21_waiting_supplier": (tpch_extra.q_tpch_q21, tpch_extra.ORACLE_TPCH_Q21),
    "tpch_q22_sales_opportunity": (tpch_extra.q_tpch_q22, tpch_extra.ORACLE_TPCH_Q22),
    "emb_ivf_indexed_topk": (embeddings.q_emb_ivf_indexed_topk, embeddings.ORACLE_EMB_IVF_TRAINED),
    "tpch_q2_min_cost_supplier": (tpch_partsupp.q_tpch_q2, tpch_partsupp.ORACLE_TPCH_Q2),
    "tpch_q9_product_profit": (tpch_partsupp.q_tpch_q9, tpch_partsupp.ORACLE_TPCH_Q9),
    "tpch_q11_important_stock": (tpch_partsupp.q_tpch_q11, tpch_partsupp.ORACLE_TPCH_Q11),
    "tpch_q16_parts_suppliers": (tpch_partsupp.q_tpch_q16, tpch_partsupp.ORACLE_TPCH_Q16),
    "tpch_q20_promotion_parts": (tpch_partsupp.q_tpch_q20, tpch_partsupp.ORACLE_TPCH_Q20),
    "docs_tfidf_similar_pairs": (docs_neardup.q_docs_tfidf_similar_pairs, docs_neardup.ORACLE_DOCS_TFIDF_PAIRS),
    "lineitem_salted_skew_agg": (relational.q_lineitem_salted_skew_agg, relational.ORACLE_LINEITEM_SALTED),
    "docs_top_ngrams": (docs_text.q_docs_top_ngrams, docs_text.ORACLE_DOCS_TOP_NGRAMS),
}

_WINDOW_B = {
    "tpch_q1_pricing_summary": (relational.q_tpch_q1, relational.ORACLE_TPCH_Q1),
    "tpch_q5_local_supplier_volume": (relational.q_tpch_q5, relational.ORACLE_TPCH_Q5),
    "tpch_q18_large_volume": (relational.q_tpch_q18, relational.ORACLE_TPCH_Q18),
    "customer_orders_left_join": (relational.q_customer_order_left, relational.ORACLE_CUSTOMER_ORDER_LEFT),
    "customers_without_orders_anti": (relational.q_customers_no_orders, relational.ORACLE_CUSTOMERS_NO_ORDERS),
    "parts_with_lineitems_semi": (relational.q_parts_with_lineitems, relational.ORACLE_PARTS_WITH_LINEITEMS),
    "orders_rank_window": (relational.q_orders_rank_window, relational.ORACLE_ORDERS_RANK),
    "union_shipped_split": (relational.q_union_shipped_split, relational.ORACLE_UNION_SHIPPED),
    "lineitem_quantiles": (relational.q_lineitem_quantiles, relational.ORACLE_LINEITEM_QUANTILES),
    "lineitem_stats": (relational.q_lineitem_stats, relational.ORACLE_LINEITEM_STATS),
    "events_pivot_by_type": (events.q_events_pivot_by_type, events.ORACLE_EVENTS_PIVOT),
    "orders_lineitem_arrays": (relational.q_orders_lineitem_arrays, relational.ORACLE_ORDERS_ARRAYS),
    "events_tumbling_window": (events.q_events_tumbling, events.ORACLE_EVENTS_TUMBLING),
    "events_sliding_means": (events.q_events_sliding, events.ORACLE_EVENTS_SLIDING),
    "events_session_windows": (events.q_events_sessions, events.ORACLE_EVENTS_SESSIONS),
    "events_json_props": (events.q_events_json_props, events.ORACLE_EVENTS_JSON_PROPS),
    "docs_inference_mlp": (docs_text.q_docs_inference_mlp, docs_text.ORACLE_DOCS_INFERENCE_MLP),
    "events_range_pairs": (events.q_events_range_pairs, events.ORACLE_EVENTS_RANGE_PAIRS),
    "events_kmv_set_ops": (events.q_events_kmv_set_ops, events.ORACLE_EVENTS_KMV_SET_OPS),
    "events_hourly_rollup": (events.q_events_hourly_rollup, events.ORACLE_EVENTS_HOURLY_ROLLUP),
    "log_schema_widening": (log_pipeline.q_log_schema_widening, log_pipeline.ORACLE_LOG_SCHEMA_WIDENING),
    "partition_prefix_tz": (log_pipeline.q_partition_prefix_tz, log_pipeline.ORACLE_PARTITION_PREFIX_TZ),
    "docs_remove_dup_spans": (docs_neardup.q_docs_remove_dup_spans, docs_neardup.ORACLE_DOCS_REMOVE_SPANS),
    "events_hilbert_key": (events.q_events_hilbert_key, events.ORACLE_EVENTS_HILBERT),
    "docs_neardup_canonical_keep": (docs_neardup.q_docs_neardup_canonical_keep, docs_neardup.ORACLE_DOCS_CANONICAL_KEEP),
    "emb_semantic_dedup_incremental": (embeddings.q_emb_semantic_dedup_incremental, embeddings.ORACLE_EMB_SEMANTIC_DEDUP_INCREMENTAL),
    "docs_simhash_pairs": (docs_neardup.q_docs_simhash_pairs, docs_neardup.ORACLE_DOCS_SIMHASH_PAIRS),
    "docs_leakage_safe_split": (docs_neardup.q_docs_leakage_safe_split, docs_neardup.ORACLE_DOCS_LEAKAGE_SPLIT),
    "docs_decontaminate": (docs_neardup.q_docs_decontaminate, docs_neardup.ORACLE_DOCS_DECONTAMINATE),
    "docs_stratified_sample": (docs_text.q_docs_stratified_sample, docs_text.ORACLE_DOCS_STRATIFIED),
    "docs_selection_budget": (docs_text.q_docs_selection_budget, docs_text.ORACLE_DOCS_SELECTION_BUDGET),
    "docs_clean_and_repetition": (docs_text.q_docs_clean_and_repetition, docs_text.ORACLE_DOCS_CLEAN_REP),
    "docs_pii_redact": (docs_text.q_docs_pii_redact, docs_text.ORACLE_DOCS_PII_REDACT),
    "docs_heavy_hitter_words": (docs_text.q_docs_heavy_hitters, docs_text.ORACLE_DOCS_HEAVY_HITTERS),
    "emb_sq8_topk": (embeddings.q_emb_sq8_topk, embeddings.ORACLE_EMB_SQ8),
    "docs_chunk_windows_bpe": (docs_text.q_docs_chunk_windows_bpe, docs_text.ORACLE_DOCS_CHUNKS_BPE),
    "events_asof_click_chunked": (events.q_events_asof_click_chunked, events.ORACLE_EVENTS_ASOF),
    "events_asof_next_click": (events.q_events_asof_next_click, events.ORACLE_EVENTS_ASOF_NEXT),
    "events_asof_nearest_click": (events.q_events_asof_nearest_click, events.ORACLE_EVENTS_ASOF_NEAREST),
    "orders_bloom_customer_revenue": (relational.q_orders_bloom_customer_revenue, relational.ORACLE_ORDERS_BLOOM),
    "emb_ivfpq_topk": (embeddings.q_emb_ivfpq_topk, embeddings.ORACLE_EMB_IVFPQ),
    "docs_dup_ngram_fraction": (docs_text.q_docs_dup_ngram_fraction, docs_text.ORACLE_DOCS_DUP_NGRAM),
    "events_zorder_key": (events.q_events_zorder_key, events.ORACLE_EVENTS_ZORDER),
    "docs_weighted_sample": (docs_text.q_docs_weighted_sample, docs_text.ORACLE_DOCS_WEIGHTED_SAMPLE),
    "docs_mixture_sample": (docs_text.q_docs_mixture_sample, docs_text.ORACLE_DOCS_MIXTURE_SAMPLE),
    "events_quantiles_by_type": (events.q_events_quantiles_by_type, events.ORACLE_EVENTS_QUANTILES_BY_TYPE),
    "emb_neardup_pairs": (embeddings.q_emb_neardup_pairs, embeddings.ORACLE_EMB_NEARDUP),
    "events_interval_pairs": (events.q_events_interval_pairs, events.ORACLE_EVENTS_INTERVAL_PAIRS),
    "s3log_pipeline_roundtrip": (log_pipeline.q_log_pipeline, log_pipeline.ORACLE_LOG_PIPELINE),
    "manifest_events_f2": (log_pipeline.q_manifest_events_f2, log_pipeline.ORACLE_MANIFEST_EVENTS_F2),
}

assert len(_WINDOW_A) == len(_WINDOW_B) == 50 and not _WINDOW_A.keys() & _WINDOW_B.keys()
QUERIES = _WINDOW_A | _WINDOW_B
