"""Benchmark harness: ETL phase + analytics phase; prints ONE JSON line.

Mirrors the reference architecture (ingest ETL writes tables once;
analytics queries them many times — SURVEY §3.2/§3.4):

  etl_derive_tables   build nested order events from the TPC-H tables,
                      derive the 4 relational tables, write partitioned
                      snappy parquet (the Firehose→S3 path, batch form)
  ref_*               the 5 reference Athena queries via spark.sql over
                      the materialized tables (the Athena path)
  q1/sales/parts/     general analytics directly over the testdata
  events_*            (scan-agg-join surface + JSON extraction)

Usage: python bench.py
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local parallelism (default: core count)

Output: two JSON lines — a verbose one (full-precision seconds) and a
compact FINAL one the driver parses from its 2000-char output tail:
  {"metric": "wall", "value": <total sec>, "unit": "sec",
   "qunit": "cs", "queries": {name: <int centisec>, ...}, "sf": <float>}

Partition-layout note: the reference partitions `orders` by
customer_id (terraform/main.tf:675); at bench scale that cardinality
(~10k+) is a small-files anti-pattern, so the bench writes orders
unpartitioned — the documented, deliberate deviation (SURVEY §7.3);
the other three tables keep the reference layouts.

Persist note (measured at sf0.1): the event DataFrame is deliberately
NOT persisted across the four table writes. Caching the nested
events (array<struct> rows) costs 95 s vs 13 s for plain recompute:
the in-memory columnar encode/decode of nested arrays is slower than
re-running the branch-PRUNED plans (e.g. the orders write skips the
lineitem⋈part collect_list join entirely — tests/test_plans.py pins
that pruning), and persisting forces the full nested shape for every
branch. Streaming takes the other trade: foreachBatch persists the
small per-batch slice (streaming/pipeline.py).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_kinesis_data_ingestion_restapi_spark import get_spark  # noqa: E402
from aws_kinesis_data_ingestion_restapi_spark.analytics import build_order_events  # noqa: E402
from aws_kinesis_data_ingestion_restapi_spark.catalog import register_derived_tables  # noqa: E402
from aws_kinesis_data_ingestion_restapi_spark.operators.transforms import derive_all_tables  # noqa: E402
from aws_kinesis_data_ingestion_restapi_spark.queries import REFERENCE_SQL  # noqa: E402
from aws_kinesis_data_ingestion_restapi_spark.registry import QUERY_FNS  # noqa: E402
from aws_kinesis_data_ingestion_restapi_spark.sinks import write_partitioned  # noqa: E402
from aws_kinesis_data_ingestion_restapi_spark.streaming import run_pipeline_once  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

#: Every registry query is benched so regressions in any operator
#: family are visible round-over-round. Exclusions, each deliberate:
#: pipeline_* and the registry ref_* run through the dedicated ETL /
#: Athena phases below (same code, materialized-table form), and
#: emb_near_dup is the documented all-pairs oracle baseline whose
#: production path (emb_near_dup_lsh*) IS benched.
ANALYTICS_QUERIES = [
    "q1_pricing_summary",
    "sales_per_nation",
    "sales_rollup",
    "sales_monthly_yoy",
    "sales_cube",
    "sales_pivot_by_priority",
    "top_parts_by_revenue",
    "parts_abc_analysis",
    "brand_basket_affinity",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_orders",
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q12_ship_delay_classes",
    "q14_promo_revenue",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q22_dormant_customers",
    "q4_late_order_priority",
    "q9_red_parts_profit",
    "q16_supplier_diversity",
    "q21_late_sole_supplier",
    "q2_min_cost_supplier",
    "q6_forecast_revenue",
    "q11_important_parts",
    "q13_order_count_distribution",
    "q15_top_supplier",
    "q20_promotion_suppliers",
    "salted_events_join",
    "salted_lineitem_agg",
    "bucketed_sales_join",
    "payment_type_share",
    "customers_with_urgent_orders",
    "customers_without_urgent_orders",
    "customer_retention",
    "customer_rfm_segments",
    "sales_yoy_full_outer",
    "fuzzy_customer_names",
    "events_daily_stats",
    "events_json_props",
    "events_variant_props",
    "events_tumbling_30s",
    "events_sliding_1h_15m",
    "events_sessionization",
    "events_value_histogram",
    "events_type_mode",
    "events_rolling_hour_avg",
    "events_ntile_quartiles",
    "events_value_outliers_mad",
    "events_gapfill",
    "events_funnel",
    "events_cohort_retention",
    "events_active_users",
    "events_drift_tvd",
    "events_ewma_daily",
    "events_anomaly_days",
    "events_value_hour_corr",
    "events_daily_trend",
    "events_attribution",
    "events_concurrency_curve",
    "events_transition_matrix",
    "profile_documents",
    "docs_expectations",
    "sketch_distinct_trigrams",
    "sketch_heavy_hitters",
    "sketch_value_quantiles",
    "events_type_value_quantiles",
    "incremental_sales_rollup",
    "salted_priority_sales",
    "sql_above_average_orders",
    "sql_lateral_top_orders",
    "sql_recursive_rollup",
    "pipeline_envelope_decode",
    "pipeline_partition_scan",
    "pipeline_compaction",
    "serving_last_write_wins",
    # window-function surface
    "top_orders_per_customer",
    "customer_running_spend",
    # training-data extensions (documents/embeddings are fixed-size
    # side tables — these measure operator cost, not sf scaling)
    "text_token_stats",
    "text_quality_score",
    "text_language_id",
    "text_fingerprint",
    "text_pii_redact",
    "text_repetition",
    "text_bm25_search",
    "retrieval_hybrid_rrf",
    "text_length_quantiles",
    "text_pack_sequences",
    "text_stratified_sample",
    "text_quality_sample",
    "text_vocab_growth",
    "text_ngram_novelty",
    "text_bpe_merges",
    "text_bpe_segment",
    "text_pack_bpe",
    "corpus_mixture_bpe",
    "text_bpe_fertility",
    "text_dsir_importance",
    "text_lm_score",
    "text_quality_ensemble",
    "corpus_curriculum_plan",
    "text_keywords",
    "text_tfidf_search",
    "retrieval_hybrid_rrf3",
    "docs_chunk_overlap",
    "docs_pack_chunks",
    "text_collocations",
    "text_build_postings",
    "text_model_quality",
    "curation_source_caps",
    "docs_sample_fixed",
    "docs_split_assign",
    "docs_split_leakage_safe",
    "corpus_mixture_plan",
    "dedup_exact_recrawl",
    "dedup_substring_hotspots",
    "dedup_exact_substring",
    "dedup_remove_substrings",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_incremental_delta",
    "dedup_simhash_pairs",
    "dedup_simhash_fingerprints",
    "dedup_contamination",
    "dedup_decontaminate",
    "dedup_chunks_exact",
    "dedup_source_matrix",
    "dedup_ensemble",
    "dedup_semantic",
    "dedup_lsh_quality",
    "dedup_signal_agreement",
    "events_zorder_scan",
    "dedup_components",
    "dedup_components_star",
    "graph_pagerank_suppliers",
    "graph_kcore_purchases",
    "graph_communities_lpa",
    "graph_triangles_cosupply",
    "er_entity_ids",
    "streaming_topk_users",
    "events_cusum_changepoint",
    "text_unigram_vocab",
    "text_unigram_segment",
    "streaming_cusum_gate",
    "dedup_components_delta",
    "mm_afp_near_dup",
    "docs_sample_fixed_per_lang",
    "er_link_dirty_names",
    "text_tokenizer_compare",
    "docs_split_leakage_audit",
    "sketch_accuracy_audit",
    "corpus_funnel_report",
    "customers_k_anonymity",
    "scd2_point_in_time",
    "text_phrase_search",
    "corpus_content_hashes",
    "docs_sample_weighted_k",
    "events_user_anomalies",
    "streaming_user_anomalies",
    "ann_index_health",
    "dedup_canonical_docs",
    "ann_topk_brute",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "ann_topk_lsh_multi",
    "ann_recall_audit",
    "ann_recall_clustered",
    "ann_truncation_audit",
    "emb_hard_negatives",
    "emb_near_dup_lsh",
    "emb_kmeans_step",
    "emb_pca_power",
    "emb_anisotropy_audit",
    "ann_label_audit",
    "ann_label_audit_clustered",
    "emb_pq_codes",
    "ann_topk_pq",
    "ann_topk_ivfpq",
    "ann_topk_ivfpq_trained",
    "emb_near_dup_lsh_multi",
    "emb_bitext_mine",
    "mm_asset_stats",
    "mm_fingerprint",
    "mm_phash_near_dup",
    "mm_canonical_assets",
    "mm_extract_features",
    "mm_frame_sample",
    "mm_resize_images",
    # temporal joins + CDC (round-2 operator families)
    "asof_priority_rates",
    "events_range_follow",
    "cdc_snapshot_diff",
    "cdc_scd2_history",
    # the composed curation chain (dedup → quality → sample → pack)
    "curation_pipeline",
    # stateful / stream-static / stream-stream forms (each drains a
    # real stream)
    "streaming_dedup_replay",
    "streaming_dedup_delta",
    "streaming_running_totals_final",
    "streaming_enriched_nation_totals",
    "streaming_payment_match",
    "streaming_payment_match_outer",
    "streaming_payment_match_full",
    "streaming_late_data_policy",
    "streaming_session_windows",
    "streaming_sliding_1h_15m",
    "streaming_drift_tvd",
    "streaming_value_quantiles",
    # --- round 11 additions ---
    "streaming_er_delta",
    "docs_hll_distinct_audit",
    "mm_video_near_dup",
    "customers_k_generalize",
    "retrieval_mmr_topk",
    "corpus_funnel_by_source",
    "events_hll_users_daily",
    "streaming_hll_users",
    "mm_canonical_media",
    "retrieval_known_item_eval",
    "retrieval_eval_mrr",
    "text_pii_extract",
    "events_user_skew",
    "warehouse_fk_audit",
    "corpus_delete_apply",
    "events_attribution_positional",
    "events_seasonal_backtest",
    "events_lateness_profile",
    "streaming_fk_gate",
    "events_trimmed_mean",
    "warehouse_null_profile",
    "quality_scorer_agreement",
    "streaming_decontamination_gate",
    "events_user_cusum",
    "events_cms_users_daily",
    "ann_centroid_drift",
    "corpus_mixture_actuals",
    "docs_language_confusion",
    "docs_pack_manifest",
    "events_weekly_profile",
    "streaming_quality_gate",
    # --- round 12 additions ---
    "dedup_boilerplate_lines",
    "dedup_strip_boilerplate",
    "ann_topk_ivfpq_filtered",
    "ann_filtered_recall_audit",
    "emb_semantic_contamination",
    "dedup_decontaminate_semantic",
    "text_vocab_coverage",
    "customers_l_diversity",
    "corpus_mixture_temperature",
    "streaming_boilerplate_gate",
    "dedup_source_vocab_overlap",
    "warehouse_column_stats",
    "dedup_benchmark_canaries",
    "dedup_cluster_size_histogram",
    "text_zipf_octaves",
    "events_interarrival_quantiles",
    "mm_phash_distance_histogram",
    "docs_quality_by_length",
    "events_user_gini",
    "customers_t_closeness",
    "orders_ship_latency",
    "events_hourly_acf",
    "graph_supplier_similarity",
    "sketch_bloom_fpr",
    "emb_distance_octaves",
    "retrieval_eval_ndcg",
    "events_pettitt_changepoint",
    "mm_storage_profile",
    "streaming_bloom_gate",
    "events_benford_audit",
    "dedup_band_load_octaves",
    "graph_degree_octaves",
    "quality_calibration_matrix",
    "events_funnel_latency",
    "docs_quality_floor_sweep",
    "streaming_asof_rates",
    "warehouse_partition_advisor",
    "emb_pq_distortion",
    "docs_split_balance",
    "events_session_profile",
    "retrieval_margin_profile",
]


#: Bench-line aliases for the Athena-path queries (full names live in
#: queries.REFERENCE_SQL; shortened here only to keep the final JSON
#: line inside the driver's 2000-char capture).
REF_BENCH_KEYS = {
    "total_sales_per_country": "ref_country",
    # "ref_avg" (round-5): was "avg_order" in BENCH_r01-r04 — renamed to
    # keep the documented ref_* convention for all five Athena-path
    # queries (round-4 ADVICE); cross-round comparisons should map
    # avg_order ↔ ref_avg. Noted in BENCH_NOTES.
    "average_order_value": "ref_avg",
    "total_income_per_payment_method": "ref_income",
    "most_sales_products": "ref_products",
    "order_and_client_details": "ref_clients",
}

#: FINAL-LINE-ONLY aliases — FROZEN (r13). The driver's round-over-round
#: comparator string-matches the final line's dict keys, so codes are
#: IMMUTABLE once emitted: this map is round 11's verbatim (the last
#: final line the driver parsed per-query — the r12 wholesale 2-char
#: regeneration zeroed the comparison and is reverted) plus new codes
#: for entries benched since. Add codes for NEW entries only; never
#: rename or regenerate existing ones (r12 VERDICT ask #1).
BENCH_KEY_ALIASES = {
    "ann_centroid_drift": "acd",
    "ann_filtered_recall_audit": "afr",
    "ann_index_health": "ihl",
    "ann_label_audit": "lba",
    "ann_label_audit_clustered": "lbc",
    "ann_recall_audit": "rca",
    "ann_recall_clustered": "rcc",
    "ann_topk_brute": "anb",
    "ann_topk_ivf": "aiv",
    "ann_topk_ivfpq": "ipq",
    "ann_topk_ivfpq_filtered": "ati",
    "ann_topk_ivfpq_trained": "ipt",
    "ann_topk_lsh": "als",
    "ann_topk_lsh_multi": "alm",
    "ann_topk_pq": "apq",
    "ann_truncation_audit": "tru",
    "asof_priority_rates": "aso",
    "brand_basket_affinity": "bsk",
    "bucketed_sales_join": "bkj",
    "cdc_scd2_history": "sc2",
    "cdc_snapshot_diff": "cdd",
    "corpus_content_hashes": "cch",
    "corpus_curriculum_plan": "cpl",
    "corpus_delete_apply": "dla",
    "corpus_funnel_by_source": "fns",
    "corpus_funnel_report": "cfr",
    "corpus_mixture_actuals": "mxa",
    "corpus_mixture_bpe": "mxb",
    "corpus_mixture_plan": "mxp",
    "corpus_mixture_temperature": "cmt",
    "curation_pipeline": "cur",
    "curation_source_caps": "scp",
    "customer_retention": "ret",
    "customer_rfm_segments": "rf",
    "customer_running_spend": "rsp",
    "customers_k_anonymity": "kan",
    "customers_k_generalize": "kgn",
    "customers_l_diversity": "cld",
    "customers_t_closeness": "ctc",
    "customers_with_urgent_orders": "smu",
    "customers_without_urgent_orders": "atu",
    "dedup_band_load_octaves": "dbl",
    "dedup_benchmark_canaries": "dbc",
    "dedup_boilerplate_lines": "dbo",
    "dedup_canonical_docs": "can",
    "dedup_chunks_exact": "chd",
    "dedup_cluster_size_histogram": "dcs",
    "dedup_components": "cmp",
    "dedup_components_delta": "ccd",
    "dedup_components_star": "cst",
    "dedup_contamination": "ctm",
    "dedup_decontaminate": "dcn",
    "dedup_decontaminate_semantic": "dds",
    "dedup_ensemble": "ens",
    "dedup_exact_recrawl": "dex",
    "dedup_exact_substring": "xsb",
    "dedup_incremental_delta": "inc",
    "dedup_lsh_quality": "lsq",
    "dedup_minhash_lsh": "mh",
    "dedup_ngram_jaccard": "ngr",
    "dedup_remove_substrings": "xrm",
    "dedup_semantic": "sdd",
    "dedup_signal_agreement": "sga",
    "dedup_simhash_fingerprints": "sfp",
    "dedup_simhash_pairs": "sh",
    "dedup_source_matrix": "smx",
    "dedup_source_vocab_overlap": "dsv",
    "dedup_strip_boilerplate": "dsb",
    "dedup_substring_hotspots": "sub",
    "docs_chunk_overlap": "chu",
    "docs_expectations": "dxp",
    "docs_hll_distinct_audit": "hda",
    "docs_language_confusion": "lcf",
    "docs_pack_chunks": "pkc",
    "docs_pack_manifest": "pmf",
    "docs_quality_by_length": "dqb",
    "docs_quality_floor_sweep": "dqf",
    "docs_sample_fixed": "fxk",
    "docs_sample_fixed_per_lang": "spl",
    "docs_sample_weighted_k": "swk",
    "docs_split_assign": "tvt",
    "docs_split_balance": "dsp",
    "docs_split_leakage_audit": "slk",
    "docs_split_leakage_safe": "tvs",
    "emb_anisotropy_audit": "ani",
    "emb_bitext_mine": "btx",
    "emb_distance_octaves": "edo",
    "emb_hard_negatives": "hng",
    "emb_kmeans_step": "km",
    "emb_near_dup_lsh": "ndl",
    "emb_near_dup_lsh_multi": "ndm",
    "emb_pca_power": "pca",
    "emb_pq_codes": "pqc",
    "emb_pq_distortion": "epd",
    "emb_semantic_contamination": "esc",
    "er_entity_ids": "eri",
    "er_link_dirty_names": "eld",
    "etl_derive_tables": "etl",
    "events_active_users": "dw",
    "events_anomaly_days": "ano",
    "events_attribution": "atr",
    "events_attribution_positional": "atp",
    "events_benford_audit": "eba",
    "events_cms_users_daily": "cmd",
    "events_cohort_retention": "coh",
    "events_concurrency_curve": "cnc",
    "events_cusum_changepoint": "csm",
    "events_daily_stats": "edy",
    "events_daily_trend": "dtr",
    "events_drift_tvd": "tvd",
    "events_ewma_daily": "ewm",
    "events_funnel": "fnl",
    "events_funnel_latency": "efl",
    "events_gapfill": "gpf",
    "events_hll_users_daily": "hud",
    "events_hourly_acf": "eha",
    "events_interarrival_quantiles": "eiq",
    "events_json_props": "ejs",
    "events_lateness_profile": "ltp",
    "events_ntile_quartiles": "ntl",
    "events_pettitt_changepoint": "epc",
    "events_range_follow": "erg",
    "events_rolling_hour_avg": "rav",
    "events_seasonal_backtest": "snb",
    "events_session_profile": "esp",
    "events_sessionization": "ses",
    "events_sliding_1h_15m": "sl1",
    "events_transition_matrix": "trn",
    "events_trimmed_mean": "trm",
    "events_tumbling_30s": "tmb",
    "events_type_mode": "tmo",
    "events_type_value_quantiles": "qkg",
    "events_user_anomalies": "uan",
    "events_user_cusum": "ucu",
    "events_user_gini": "eug",
    "events_user_skew": "usk",
    "events_value_histogram": "ehi",
    "events_value_hour_corr": "vhc",
    "events_value_outliers_mad": "emd",
    "events_variant_props": "vrt",
    "events_weekly_profile": "wkp",
    "events_zorder_scan": "zsc",
    "fuzzy_customer_names": "fuz",
    "graph_communities_lpa": "lpa",
    "graph_degree_octaves": "gdo",
    "graph_kcore_purchases": "kco",
    "graph_pagerank_suppliers": "pgr",
    "graph_supplier_similarity": "gss",
    "graph_triangles_cosupply": "tri",
    "incremental_sales_rollup": "inr",
    "mm_afp_near_dup": "afp",
    "mm_asset_stats": "mst",
    "mm_canonical_assets": "mca",
    "mm_canonical_media": "cnm",
    "mm_extract_features": "mmf",
    "mm_fingerprint": "mfp",
    "mm_frame_sample": "mfr",
    "mm_phash_distance_histogram": "mpd",
    "mm_phash_near_dup": "mph",
    "mm_resize_images": "mrz",
    "mm_storage_profile": "msp",
    "mm_video_near_dup": "vnd",
    "orders_ship_latency": "osl",
    "parts_abc_analysis": "ab",
    "payment_type_share": "psh",
    "pipeline_compaction": "plc",
    "pipeline_envelope_decode": "ple",
    "pipeline_partition_scan": "plp",
    "pipeline_streaming_drain": "pls",
    "profile_documents": "prf",
    "q10_returned_items": "q10",
    "q11_important_parts": "q11",
    "q12_ship_delay_classes": "q12",
    "q13_order_count_distribution": "q13",
    "q14_promo_revenue": "q14",
    "q15_top_supplier": "q15",
    "q16_supplier_diversity": "q16",
    "q17_small_quantity_revenue": "q17",
    "q18_large_orders": "q18",
    "q19_disjunctive_revenue": "q19",
    "q1_pricing_summary": "q1p",
    "q20_promotion_suppliers": "q20",
    "q21_late_sole_supplier": "q21",
    "q22_dormant_customers": "q22",
    "q2_min_cost_supplier": "q2m",
    "q3_shipping_priority": "q3s",
    "q4_late_order_priority": "q4l",
    "q5_local_supplier_volume": "q5l",
    "q6_forecast_revenue": "q6f",
    "q7_volume_shipping": "q7v",
    "q8_market_share": "q8m",
    "q9_red_parts_profit": "q9p",
    "quality_calibration_matrix": "qcm",
    "quality_scorer_agreement": "qsa",
    "ref_avg": "rfa",
    "ref_clients": "rfc",
    "ref_country": "rfk",
    "ref_income": "rfi",
    "ref_products": "rfp",
    "retrieval_eval_mrr": "mrr",
    "retrieval_eval_ndcg": "ren",
    "retrieval_hybrid_rrf": "rrf",
    "retrieval_hybrid_rrf3": "rr3",
    "retrieval_known_item_eval": "kie",
    "retrieval_margin_profile": "rmp",
    "retrieval_mmr_topk": "mmr",
    "sales_cube": "cub",
    "sales_monthly_yoy": "yym",
    "sales_per_nation": "nsl",
    "sales_pivot_by_priority": "piv",
    "sales_rollup": "rup",
    "sales_yoy_full_outer": "yyf",
    "salted_events_join": "sjo",
    "salted_lineitem_agg": "sag",
    "salted_priority_sales": "ssl",
    "scd2_point_in_time": "pit",
    "serving_last_write_wins": "lww",
    "sketch_accuracy_audit": "ska",
    "sketch_bloom_fpr": "sbf",
    "sketch_distinct_trigrams": "skt",
    "sketch_heavy_hitters": "cmh",
    "sketch_value_quantiles": "qsk",
    "sql_above_average_orders": "aav",
    "sql_lateral_top_orders": "lat",
    "sql_recursive_rollup": "rec",
    "streaming_asof_rates": "sar",
    "streaming_bloom_gate": "sbg",
    "streaming_boilerplate_gate": "sbo",
    "streaming_cusum_gate": "scu",
    "streaming_decontamination_gate": "sdg",
    "streaming_dedup_delta": "sdl",
    "streaming_dedup_replay": "sdd2",
    "streaming_drift_tvd": "sdf",
    "streaming_enriched_nation_totals": "sen",
    "streaming_er_delta": "ser",
    "streaming_fk_gate": "sfg",
    "streaming_hll_users": "shl",
    "streaming_late_data_policy": "stl",
    "streaming_payment_match": "spy",
    "streaming_payment_match_full": "stf",
    "streaming_payment_match_outer": "sto",
    "streaming_quality_gate": "sqg",
    "streaming_running_totals_final": "sru",
    "streaming_session_windows": "sts",
    "streaming_sliding_1h_15m": "ssw",
    "streaming_topk_users": "stk",
    "streaming_user_anomalies": "sua",
    "streaming_value_quantiles": "stq",
    "text_bm25_search": "b25",
    "text_bpe_fertility": "frt",
    "text_bpe_merges": "bpe",
    "text_bpe_segment": "bps",
    "text_build_postings": "pst",
    "text_collocations": "col",
    "text_dsir_importance": "dsr",
    "text_fingerprint": "tfp",
    "text_keywords": "kw",
    "text_language_id": "tlg",
    "text_length_quantiles": "lnq",
    "text_lm_score": "lm",
    "text_model_quality": "ftq",
    "text_ngram_novelty": "nov",
    "text_pack_bpe": "tpb",
    "text_pack_sequences": "tpk",
    "text_phrase_search": "phr",
    "text_pii_extract": "pix",
    "text_pii_redact": "pii",
    "text_quality_ensemble": "qen",
    "text_quality_sample": "qsm",
    "text_quality_score": "tq",
    "text_repetition": "rep",
    "text_stratified_sample": "str",
    "text_tfidf_search": "tfi",
    "text_token_stats": "tks",
    "text_tokenizer_compare": "tkc",
    "text_unigram_segment": "ugs",
    "text_unigram_vocab": "ugv",
    "text_vocab_coverage": "tvc",
    "text_vocab_growth": "voc",
    "text_zipf_octaves": "tzo",
    "top_orders_per_customer": "tpo",
    "top_parts_by_revenue": "tpp",
    "warehouse_column_stats": "wcs",
    "warehouse_fk_audit": "fka",
    "warehouse_null_profile": "nlp",
    "warehouse_partition_advisor": "wpa",
}


#: FROZEN final-line KEEP list (r13): the slowest 180 entries of the
#: round-12 driver bench, by name. The final line carries exactly these
#: (plus any tail entry that blows past _PROMOTE_DS — a regression in
#: the omitted tail must surface, never hide in the omission bucket);
#: the remaining ~106 consistently sub-second entries are omitted with
#: honest n_omitted / omitted_total_ds markers. A NAME-stable keep set
#: keeps the driver's key intersection large and deterministic
#: round-over-round (r12 VERDICT ask #1: "a stable sub-second tail");
#: the verbose line above it still carries every entry at full
#: precision. Append new slow entries; do not re-rank wholesale.
BENCH_LINE_KEEP = [
    "ann_recall_clustered",
    "etl_derive_tables",
    "streaming_payment_match_full",
    "streaming_payment_match",
    "text_repetition",
    "mm_canonical_media",
    "dedup_simhash_pairs",
    "streaming_payment_match_outer",
    "docs_split_leakage_safe",
    "streaming_running_totals_final",
    "pipeline_streaming_drain",
    "text_vocab_coverage",
    "graph_communities_lpa",
    "streaming_dedup_replay",
    "emb_pca_power",
    "ann_recall_audit",
    "dedup_substring_hotspots",
    "graph_pagerank_suppliers",
    "graph_kcore_purchases",
    "streaming_hll_users",
    "ann_label_audit",
    "streaming_topk_users",
    "retrieval_known_item_eval",
    "ann_index_health",
    "text_quality_ensemble",
    "text_bpe_segment",
    "retrieval_hybrid_rrf3",
    "corpus_funnel_report",
    "streaming_er_delta",
    "brand_basket_affinity",
    "warehouse_column_stats",
    "text_bpe_merges",
    "dedup_exact_substring",
    "dedup_semantic",
    "fuzzy_customer_names",
    "dedup_components_delta",
    "pipeline_envelope_decode",
    "streaming_dedup_delta",
    "dedup_ngram_jaccard",
    "graph_triangles_cosupply",
    "streaming_enriched_nation_totals",
    "dedup_incremental_delta",
    "mm_afp_near_dup",
    "ann_truncation_audit",
    "text_keywords",
    "er_entity_ids",
    "streaming_value_quantiles",
    "dedup_components_star",
    "dedup_source_vocab_overlap",
    "pipeline_compaction",
    "streaming_asof_rates",
    "streaming_late_data_policy",
    "pipeline_partition_scan",
    "ann_filtered_recall_audit",
    "streaming_user_anomalies",
    "mm_phash_near_dup",
    "corpus_funnel_by_source",
    "dedup_lsh_quality",
    "quality_calibration_matrix",
    "dedup_remove_substrings",
    "streaming_sliding_1h_15m",
    "docs_pack_chunks",
    "sketch_distinct_trigrams",
    "q16_supplier_diversity",
    "streaming_session_windows",
    "retrieval_hybrid_rrf",
    "streaming_drift_tvd",
    "dedup_strip_boilerplate",
    "events_concurrency_curve",
    "mm_phash_distance_histogram",
    "text_tfidf_search",
    "sketch_heavy_hitters",
    "streaming_cusum_gate",
    "sketch_value_quantiles",
    "graph_supplier_similarity",
    "q21_late_sole_supplier",
    "warehouse_fk_audit",
    "corpus_mixture_plan",
    "curation_pipeline",
    "events_zorder_scan",
    "parts_abc_analysis",
    "mm_canonical_assets",
    "dedup_signal_agreement",
    "text_lm_score",
    "q9_red_parts_profit",
    "scd2_point_in_time",
    "text_unigram_vocab",
    "emb_kmeans_step",
    "text_vocab_growth",
    "events_type_value_quantiles",
    "dedup_ensemble",
    "corpus_delete_apply",
    "q1_pricing_summary",
    "ann_label_audit_clustered",
    "sketch_accuracy_audit",
    "ann_topk_ivfpq_filtered",
    "top_parts_by_revenue",
    "customers_k_generalize",
    "text_ngram_novelty",
    "graph_degree_octaves",
    "corpus_mixture_actuals",
    "q8_market_share",
    "dedup_exact_recrawl",
    "text_build_postings",
    "q5_local_supplier_volume",
    "text_collocations",
    "q7_volume_shipping",
    "emb_pq_distortion",
    "q22_dormant_customers",
    "text_bm25_search",
    "q18_large_orders",
    "text_dsir_importance",
    "events_sliding_1h_15m",
    "dedup_boilerplate_lines",
    "emb_near_dup_lsh",
    "text_pack_sequences",
    "corpus_content_hashes",
    "text_phrase_search",
    "mm_video_near_dup",
    "retrieval_mmr_topk",
    "emb_bitext_mine",
    "docs_chunk_overlap",
    "dedup_decontaminate_semantic",
    "customer_rfm_segments",
    "emb_pq_codes",
    "bucketed_sales_join",
    "docs_quality_floor_sweep",
    "corpus_curriculum_plan",
    "ann_topk_ivf",
    "events_tumbling_30s",
    "events_value_outliers_mad",
    "docs_pack_manifest",
    "events_interarrival_quantiles",
    "dedup_decontaminate",
    "serving_last_write_wins",
    "sales_rollup",
    "curation_source_caps",
    "events_attribution",
    "docs_hll_distinct_audit",
    "q10_returned_items",
    "cdc_scd2_history",
    "ann_topk_lsh_multi",
    "q2_min_cost_supplier",
    "corpus_mixture_temperature",
    "sql_recursive_rollup",
    "ref_country",
    "q3_shipping_priority",
    "dedup_benchmark_canaries",
    "emb_hard_negatives",
    "orders_ship_latency",
    "events_cms_users_daily",
    "asof_priority_rates",
    "events_funnel_latency",
    "cdc_snapshot_diff",
    "emb_near_dup_lsh_multi",
    "text_model_quality",
    "streaming_bloom_gate",
    "q19_disjunctive_revenue",
    "q11_important_parts",
    "events_anomaly_days",
    "ann_centroid_drift",
    "events_sessionization",
    "salted_lineitem_agg",
    "events_active_users",
    "q4_late_order_priority",
    "text_tokenizer_compare",
    "sales_cube",
    "dedup_chunks_exact",
    "events_user_anomalies",
    "mm_resize_images",
    "events_attribution_positional",
    "text_language_id",
    "docs_split_balance",
    "dedup_contamination",
    "warehouse_null_profile",
    "docs_language_confusion",
    "text_zipf_octaves",
    "ref_products",
    "sales_pivot_by_priority",
    "emb_anisotropy_audit",
]

#: Promotion threshold for omitted-tail entries, deciseconds (2.5 s).
_PROMOTE_DS = 25


def compose_final_line(timings: dict[str, float], total: float, sf) -> str:
    """Build the compact FINAL JSON line the driver parses from its
    2000-char output tail: a plain dict of deciseconds keyed by the
    FROZEN aliases, restricted to BENCH_LINE_KEEP plus any omitted-tail
    entry ≥ _PROMOTE_DS, with n_omitted / omitted_total_ds labelling
    the stable sub-second tail honestly. If a pathological run still
    overflows 1990 chars, the FASTEST kept entries are demoted into
    the omitted bucket one at a time (the slow entries a perf review
    needs are exactly the ones that survive) — honest partial detail
    beats an undecodable packed string (r12 VERDICT ask #1)."""
    keep = set(BENCH_LINE_KEEP)
    q_ds = {k: int(round(v * 10)) for k, v in timings.items()}
    kept = {k: v for k, v in q_ds.items() if k in keep or v >= _PROMOTE_DS}
    omitted = {k: v for k, v in q_ds.items() if k not in kept}

    def render() -> str:
        return json.dumps(
            {
                "metric": "wall",
                "value": total,
                "unit": "sec",
                "qunit": "ds",
                "n_omitted": len(omitted),
                "omitted_total_ds": sum(omitted.values()),
                "queries": {
                    BENCH_KEY_ALIASES.get(k, k): v for k, v in kept.items()
                },
                "sf": sf,
            },
            separators=(",", ":"),
        )

    line = render()
    while len(line) > 1990 and kept:
        drop = min(kept, key=lambda k: (kept[k], k))
        omitted[drop] = kept.pop(drop)
        line = render()
    return line


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _reclaim(spark) -> None:
    """Untimed driver GC between measured queries. Spark's
    ContextCleaner releases dead shuffle files, broadcast blocks, and
    localCheckpoint RDDs only when the driver-side references are
    garbage-collected, and its own periodic GC fires every 30 MINUTES
    (spark.cleaner.periodicGC.interval) — far longer than this whole
    bench. Without this, block-manager litter from ~100 earlier
    queries inflates the tail of the sequence (round-4's
    'unattributed regressions': q3 measured 3.4 s at position ~10 of
    the full bench vs 1.0 s isolated or with any short prefix —
    reproduced and attributed round 5). Runs OUTSIDE the timing
    windows; per-query numbers measure the query, not the litter."""
    spark.sparkContext._jvm.System.gc()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(app_name="bench")
    spark.range(1).count()  # absorb session startup

    timings: dict[str, float] = {}
    warehouse = tempfile.mkdtemp(prefix="bench_wh_")
    try:
        # --- ETL phase: events -> 4 partitioned parquet tables ---
        t0 = time.perf_counter()
        events = build_order_events(spark, sf_dir)
        tables = derive_all_tables(events, with_partitions=True)
        for name, df in tables.items():
            cols = [] if name == "orders" else None  # None -> table default
            write_partitioned(df, f"{warehouse}/{name}", table=name,
                              partition_cols=cols)
        timings["etl_derive_tables"] = round(time.perf_counter() - t0, 3)

        # --- Athena-path: the 5 reference queries over materialized tables ---
        # Keys are shortened (ref_sales_country vs ref_total_sales_per_
        # country etc.) so the FINAL JSON line fits the driver's
        # 2000-char output capture — BENCH_r03 lost this family to
        # truncation. The mapping is 1:1 with queries.REFERENCE_SQL.
        register_derived_tables(spark, warehouse)
        for name, sql in REFERENCE_SQL.items():
            t0 = time.perf_counter()
            _noop(spark.sql(sql))
            timings[REF_BENCH_KEYS[name]] = round(time.perf_counter() - t0, 3)

        # --- general analytics over the raw testdata ---
        for name in ANALYTICS_QUERIES:
            _reclaim(spark)  # untimed; see _reclaim docstring
            t0 = time.perf_counter()
            _noop(QUERY_FNS[name](spark, sf_dir))
            timings[name] = round(time.perf_counter() - t0, 3)

        # --- streaming-pipeline drain: the ETL contract end-to-end ---
        # envelope NDJSON fixture → decode → foreachBatch fan-out to all
        # 6 sinks (4 tables + serving upsert + error quarantine). The
        # fixture build is harness-side and untimed; the drain is the
        # measured unit. Tables are written unpartitioned here for the
        # same small-files reason as the batch ETL's orders deviation.
        stream_root = tempfile.mkdtemp(prefix="bench_stream_")
        try:
            events = build_order_events(spark, sf_dir)
            envelopes = events.select(
                F.lit("ingestion-bench").alias("StreamName"),
                F.lit("bench-partition").alias("PartitionKey"),
                F.base64(F.to_json(F.struct(*events.columns))).alias("Data"),
            )
            inp = f"{stream_root}/input"
            envelopes.select(
                F.to_json(F.struct("StreamName", "PartitionKey", "Data")).alias("v")
            ).write.mode("overwrite").text(inp)
            t0 = time.perf_counter()
            run_pipeline_once(
                spark,
                inp,
                f"{stream_root}/warehouse",
                f"{stream_root}/checkpoint",
                serving_path=f"{stream_root}/serving",
                errors_path=f"{stream_root}/errors",
                with_partitions=False,
            )
            timings["pipeline_streaming_drain"] = round(time.perf_counter() - t0, 3)
        finally:
            shutil.rmtree(stream_root, ignore_errors=True)
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    # Verbose line first (full-precision seconds, for local reading) —
    # the driver keeps only the LAST 2000 chars of output, so this line
    # sacrifices itself to truncation while the compact final line
    # survives whole and parses.
    print(
        json.dumps(
            {
                "metric": "etl_plus_headline_queries_wall_verbose",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )
    # Final line: the driver-comparable per-query dict (r12 VERDICT
    # ask #1) — frozen alias keys, the frozen KEEP set at decisecond
    # precision, honest n_omitted/omitted_total_ds over the stable
    # sub-second tail. See compose_final_line.
    line = compose_final_line(timings, total, sf)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
