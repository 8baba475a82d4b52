"""Central registry: every implemented query + its DuckDB oracle.

Every module of the `operators` package contributes (QUERIES, ORACLES)
dicts; this module discovers the modules, merges their dicts and
asserts key discipline (an oracle without a query is a bug; a
query without an oracle is allowed only for non-SQL-expressible ops,
which the driver then checks rows-only).
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from distributed_system_mapreduce_spark import operators

_MERGED: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

for _info in pkgutil.iter_modules(operators.__path__):
    _m = importlib.import_module(f"{operators.__name__}.{_info.name}")
    for _k, _v in _m.QUERIES.items():
        if _k in _MERGED:
            raise ValueError(f"duplicate query key {_k!r}")
        _MERGED[_k] = _v
    ORACLES.update(getattr(_m, "ORACLES", {}))

_extra = set(ORACLES) - set(_MERGED)
if _extra:
    raise ValueError(f"oracles without queries: {_extra}")

# Registration order = the order external consumers (the driver's
# correctness gate) iterate queries() in. The gate budget covers only a
# prefix of the list, so the list is ordered by evidence value: the
# keys whose gate evidence is most needed come first. The 4 rows-only
# keys (no oracle: compression_ratio, kmeans_embed,
# approx_price_quantiles, freq_items_sketch) stay last, so they never
# take a hash-gate slot.
_PRIORITY = [
    "kmeans_certify", "filestore_lsh_probe", "ann_topk_pq",
    "ann_topk_ivfpq", "ann_recall_eval", "stream_funnel_join",
    "stream_abandoned_views", "gossip_dissemination",
    "failure_detection_census", "membership_lww_merge",
    "replica_rebalance_census", "events_path_trigrams",
    "events_skew_rollup", "token_budget_sample", "embedding_components",
    "basket_pairs", "events_dau_wau",
    "events_transition_matrix", "events_inter_arrival", "pack_chunks",
    "dedup_incremental", "triangle_count", "profile_orders", "events_ohlc",
    "events_gap_fill", "orders_backlog", "events_streaks",
    "supplier_lead_time", "embedding_dedup_apply", "events_rolling_median",
    "vocab_growth", "graph_degree_dist", "orders_mom_growth",
    "text_normalize", "revenue_concentration", "pagerank_parts",
    "training_batches_digest", "events_hour_heatmap", "multimodal_dedup",
    "embedding_stats", "events_skew_join", "events_ewma", "abandoned_views",
    "tokenizer_fertility", "lang_confusion", "chunk_overlap",
    "dedup_cluster_stats", "embedding_quantize", "text_integrity",
    "k_anonymity", "user_growth", "link_prediction", "gopher_rules",
    "events_autocorr", "funnel_latency", "customer_repeat_cohort",
    "minhash_containment", "semantic_outliers", "user_behavior_gini",
    "user_churn", "l_diversity", "events_dow_profile", "top_returned_parts",
    "stratified_reservoir", "dedup_survivorship", "tokenizer_oov_rate",
    "hard_negative_mining", "embedding_margin", "session_lengths",
    "events_cusum", "discount_qty_elasticity", "revenue_gini",
    "events_holt_forecast", "events_daily_quantiles",
    "filestore_bucketed_join", "filestore_snapshot_read",
    "filestore_zorder_pruned", "stream_windowed_rollup",
    "stream_topk_users_daily", "stream_enriched_rollup",
    "stream_dedup_census",
    "stream_cdc_materialize", "mr_contact_trace", "dedup_cross_lang",
    "embedding_cos_hist", "retrieval_pr_eval", "source_length_moments",
    "dataset_card", "lsh_bucket_balance", "charset_census",
    "bigram_entropy_rate", "orders_seasonal_index", "supplier_volume_skew",
    "priority_share_shift", "dedup_threshold_sweep", "doc_prefix_dup",
    "dedup_estimator_pr", "graph_modularity", "graph_assortativity",
    "quality_pareto_frontier", "source_sampling_weights", "rank_tau_eval",
    "graph_bfs_reach", "ab_test_zstat", "lsh_param_sweep",
    "events_grouping_sets", "kcore_census", "attribution_credit",
    "dedup_components_star", "decayed_popularity", "kfold_assign",
    "revenue_trend_ols", "events_mad_outliers", "events_throttle",
    "embedding_dim_variance", "approx_distinct_users_by_type",
    "source_boilerplate", "late_arrival_census", "order_total_audit",
    "bootstrap_ci", "ann_maxsim", "hybrid_rank_fusion",
    "query_expansion_prf", "snippet_extract", "dedup_agreement",
    "bot_rule_census", "entity_canonicalize", "seasonal_strength",
    "multimodal_decode", "multimodal_frame_sample", "multimodal_resize",
    "multimodal_audio_segments", "doc_lm_typicality",
    "multimodal_codec_roundtrip", "semdedup_prune", "doc_token_entropy",
    "token_js_divergence", "user_markov_entropy", "zipf_exponent",
    "events_changepoint", "benford_audit", "weighted_sample", "ndcg_eval",
    "kmv_set_ops", "keyphrase_rake", "clustering_coeff", "mannwhitney_qty",
    "theil_sen_trend", "wilson_ci_rates", "hits_scores",
    "approx_quantiles_certify", "freq_items_certify",
    "filestore_snapshot_diff", "stream_snapshot_append",
    "filestore_schema_evolution", "compression_ratio_certify",
    "multimodal_video_mjpg", "t_closeness",
    "bpe_certify", "user_survival_km", "fk_integrity", "join_key_skew",
    "bigram_lift", "skipgram_lift", "shard_assignment", "dsir_importance",
    "lang_source_pmi", "rare_token_rate", "customer_decile_migration",
    "nation_share_yoy", "customer_rfm", "returns_mix_shift",
    "events_chi2_dow", "events_drift", "user_traj_topk",
    "weighted_median_price", "audience_overlap", "quality_dup_correlation",
    "ngram_novelty", "quality_adaptive_filter", "split_ks_check",
    "token_rank_curve", "tfidf_topterms", "assoc_rules",
    "join_size_estimate", "lifecycle_conformance", "mix_rebalance_sample",
    "wordcount", "vote_winner", "split_by_key", "range_partition_hist",
    "mr_wordcount", "mr_wordcount_range", "mr_vote_winner",
    "q2_best_supplier", "bpe_train_merges", "bpe_vocab_stats",
    "bpe_token_count", "label_centroid_margin", "embedding_cov_topk",
    "stream_sessionize", "filestore_concurrent_commit",
    "q6_forecast_revenue", "q13_order_count_dist", "q16_supplier_counts",
    "q20_heavy_shippers", "q21_sole_supplier_returns",
    "order_priority_count", "distinct_users_by_type", "events_pivot",
    "price_quantiles", "token_count", "lang_id", "quality_score",
    "quality_filter", "term_doc_freq", "doc_fingerprint", "bm25_rank",
    "dedup_exact", "dedup_minhash", "dedup_ngram_jaccard", "dedup_simhash",
    "dedup_minhash_estimate", "dedup_components", "dedup_apply",
    "dedup_embedding", "ann_topk_brute", "ann_topk_lsh", "ann_topk_ivf",
    "multimodal_meta", "mr_wordcount_exe", "events_asof_order",
    "purchase_attribution", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier", "q10_returned_items", "top_customers",
    "events_daily_rollup", "events_running_total", "events_sessionize",
    "q7_nation_volume", "q14_promo_revenue", "dedup_components_incremental",
    "events_sessionize_incremental", "stream_throttle", "scd2_rate_join",
    "ann_topk_same_label", "filestore_keyed_merge", "bpe_compression_curve",
    "q15_top_supplier", "q17_small_qty_revenue", "q18_large_orders",
    "vote_round1", "repetition_score", "ngram_counts",
    "contamination_check", "domain_mix", "packing_stats", "train_val_split",
    "quality_topk_per_group", "pii_scrub", "events_cube", "corpus_stats",
    "q19_bracket_revenue", "q22_idle_customers", "events_rollup",
    "customer_cohort_ltv", "events_funnel", "q8_market_share",
    "q9_product_profit", "q11_part_value_concentration",
    "q12_late_shipments", "kmv_distinct", "bloom_semi_filter",
    "events_concurrency", "cdc_apply", "skyline_parts", "winsorized_stats",
    "events_twap", "fuzzy_name_pairs", "ann_incremental",
    "multimodal_phash_dedup", "source_hhi", "community_lpa",
    "cross_source_overlap", "dedup_substring", "curation_pipeline",
    "events_anomaly", "events_props_stats", "events_retention",
    "events_sliding_window", "compression_ratio", "kmeans_embed",
    "approx_price_quantiles", "freq_items_sketch"
]
if set(_PRIORITY) != set(_MERGED) or len(_PRIORITY) != len(_MERGED):
    _missing = set(_MERGED) - set(_PRIORITY)
    _unknown = set(_PRIORITY) - set(_MERGED)
    raise ValueError(
        f"priority list out of sync: missing={_missing} unknown={_unknown}")

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    _k: _MERGED[_k] for _k in _PRIORITY
}
