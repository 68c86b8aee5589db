"""Frozen query and processor names of each benchmark workload.

``TAPE_FAMILY`` and ``CORPUS_FAMILY`` split the engine's 124 headline
queries by the tables their plans scan: the first scan only ``events``,
the second ``documents``, ``embeddings`` or the star-schema catalog.  A
timed run executes the representative subset in ``WORKLOADS``, which fits
the run length; ``run.py --full`` runs the whole list in ``FULL`` instead,
for the per-query table of the traced run.
"""

from __future__ import annotations

TAPE_FAMILY = [
    "q_bars_1m", "q_dedup_trades", "q_trade_features_1h", "q_daily_summary",
    "q_latency_percentiles", "q_rolling_stats_5m", "q_labels_10m",
    "q_asof_price", "q_feature_assembly", "q_gold_training_set",
    "q_returns_1s", "q_gold_vector_2s", "q_price_deciles", "q_vpin",
    "q_ofi", "q_amihud", "q_effective_spread", "q_realized_var",
    "q_microprice", "q_trade_runs", "q_drawdown", "q_realized_spread",
    "q_twa_spread", "q_effective_spread_sliced", "q_twa_spread_sliced",
    "q_markout_sliced", "q_key_skew_profile", "q_acf", "q_variance_ratio",
    "q_leadlag_xcorr", "q_depth_slope", "q_quote_trade_ratio",
    "q_intraday_profile", "q_rank_surface", "q_realized_beta",
    "q_gap_report", "q_hurst", "q_fano", "q_gini", "q_spearman",
    "q_ks_drift", "q_volume_profile", "q_runs_test", "q_cusum", "q_hhi",
    "q_hill_tail", "q_var_es", "q_cusum_path", "q_price_clustering",
    "q_vwap_slippage", "q_efficiency_ratio", "q_gold_label_balance",
    "q_bar_completeness", "q_quote_staleness", "q_intraday_volatility",
    "q_symbol_datasheet", "q_markout", "q_candle_patterns", "q_rsi",
    "q_bollinger_breach", "q_stochastic_k", "q_atr", "q_obv", "q_macd",
    "q_sign_acf", "q_gold_feature_screen",
]

CORPUS_FAMILY = [
    "q_pricing_summary", "q_forecast_revenue", "q_shipping_priority",
    "q_revenue_by_nation", "q_top_customers", "q_minhash_lsh",
    "q_embed_knn", "q_embed_ann_ivf_prod", "q_waiting_suppliers",
    "q_semdedup", "q_decontaminate_ngram", "q_doc_perplexity",
    "q_doc_incremental_dedup", "q_doc_passage_scrub",
    "q_embed_decontaminate_prod", "q_doc_domain_gate", "q_doc_novelty",
    "q_doc_perplexity_capped", "q_doc_split_leakage",
    "q_doc_source_overlap", "q_embed_pq", "q_embed_ann_ivfpq_prod",
    "q_doc_jaccard_hist", "q_doc_minhash_calibration",
    "q_embed_semdedup_calibration", "q_doc_bm25", "q_doc_cms", "q_doc_hll",
    "q_doc_zipf", "q_doc_entropy", "q_doc_readability", "q_doc_jsd",
    "q_doc_burstiness", "q_embed_recall_lsh", "q_doc_length_outliers",
    "q_embed_filtered_search", "q_embed_recall_lsh_multi",
    "q_embed_dup_vectors", "q_doc_datasheet", "q_doc_ccnet_buckets",
    "q_doc_ngram_diversity", "q_doc_lang_confusion", "q_embed_norm_audit",
    "q_doc_template_detect", "q_embed_cell_outliers", "q_repeat_purchase",
    "q_embed_knn_label_agreement", "q_cohort_retention",
    "q_doc_gopher_rules", "q_customer_pareto", "q_scd2_history",
    "q_doc_filter_confusion", "q_weekly_revenue_growth",
    "q_embed_recall_ivf_prod", "q_doc_lsh_bucket_balance",
    "q_doc_shingle_df_profile", "q_embed_dim_stats",
    "q_doc_tokenizer_compression",
]

# The sort-heaviest per-symbol plans plus the bars control (bench.py's
# SKEW_QUERIES): the same operators as the tape, on a 90 %-one-symbol tape.
SKEW_QUERIES = [
    "q_rolling_stats_5m", "q_returns_1s", "q_labels_10s", "q_markout",
    "q_effective_spread", "q_twa_spread", "q_bars_1m",
    "q_effective_spread_sliced", "q_twa_spread_sliced", "q_markout_sliced",
]

# bench.py's STREAM_PROCESSORS without stream_semdedup, whose quantizer is
# trained offline: name -> (module under bitcoin_datapipeline_spark.streaming,
# input tape)
STREAM_PROCESSORS = {
    "stream_dedup": ("ops", "trades"),
    "stream_bars_1m": ("ops", "trades"),
    "stream_sliding_stats": ("ops", "trades"),
    "stream_locf_grid": ("grid", "trades"),
    "stream_grid_returns": ("grid", "trades"),
    "stream_vpin": ("vpin", "trades"),
    "stream_rsi": ("impact", "trades"),
    "stream_obv": ("impact", "trades"),
    "stream_bollinger": ("impact", "trades"),
    "stream_momentum": ("impact", "trades"),
    "stream_drawdown": ("impact", "trades"),
    "stream_candle_patterns": ("impact", "trades"),
    "stream_rolling_volatility": ("impact", "trades"),
    "stream_effective_spread": ("impact", "merged"),
    "stream_markout": ("impact", "merged"),
}

# The timed subsets: one query per family of the tape (bars, grid/LOCF,
# as-of, TA, gold), the corpus's driver-side-action and join-heavy rows,
# the adaptive as-of queries plus the grid and bars controls on the skew
# tape, and one built-in-state and one Python-worker-state processor.
WORKLOADS = {
    "tape": ["q_bars_1m", "q_returns_1s", "q_markout", "q_rsi", "q_gold_feature_screen"],
    "corpus": ["q_doc_minhash_calibration", "q_embed_ann_ivf_prod",
               "q_revenue_by_nation", "q_semdedup"],
    "tape_skew": ["q_markout", "q_effective_spread", "q_twa_spread",
                  "q_returns_1s", "q_bars_1m"],
    "stream": ["stream_dedup", "stream_vpin"],
}

FULL = {"tape": TAPE_FAMILY, "corpus": CORPUS_FAMILY,
        "tape_skew": SKEW_QUERIES, "stream": list(STREAM_PROCESSORS)}

# rows each processor emits from the whole tape, by input scale
STREAM_ROWS_OUT: dict[float, dict[str, int]] = {
    0.01: {"stream_dedup": 9893, "stream_bars_1m": 9685, "stream_vpin": 247},
}
