"""The pinned serving mix: 19 registered queries, one or more per operator
family (relational, window, streaming-batch, dedup, similarity, text). Kept
here, not imported from the repository's own harness, so an edit there
cannot change this workload.

The four queries served from stored indexes (MinHash, BM25, IVF-PQ and its
refine) are left out: their index builds took 21-31 s of each run's set-up
on 4 cores, which the benchmark's time budget for all its runs cannot
carry."""

QUERY_MIX = (
    "q01_pricing_summary",
    "q03_top_unshipped",
    "q05_regional_revenue",
    "q06_forecast_revenue",
    "q10_top_customers",
    "q_window_running_revenue",
    "q_rollup_revenue",
    "q_events_sessionize",
    "q07_nation_trade_volume",
    "q09_profit_by_nation_year",
    "q17_small_quantity_revenue",
    "q18_large_volume_orders",
    "q_events_trailing_hour",
    "dedup_exact_documents",
    "dedup_embedding_cosine_pairs",
    "sim_cosine_topk_bruteforce",
    "q_asof_error_to_purchase",
    "text_repetition_ratio",
    "text_bigram_kn_perplexity",
)
