"""What each workload runs. The keys of WORKLOADS are BENCHMARK.json's
workload names; README.md gives the reason for each and why the mix is
this size."""

QUERY_LINES = [
    # TPC-H lines: the per-query floor (ROADMAP item 4)
    "q1_pricing_summary", "q3_shipping", "q6_forecast_revenue",
    "q18_large_orders",
    # an exact-quantile chain: the tail of the mix (ROADMAP item 3)
    "mad_price",
    # graft.ext lines served from trained state built during set-up:
    # k-means centroids, learned BPE merges, logit calibration
    "sim_ann_ivf", "bpe_encode", "logistic_returns",
    # PII scan and a sketch
    "pii_scan", "sketch_hll_distinct",
]

STREAM_LINES = [
    # windowed and deduplicating state with watermarks
    "stream_window_events", "stream_distinct_keys",
    # a Complete-mode aggregate over the document stream
    "stream_wordcount",
    # stream-static join; an interval join served from the memoized
    # shared streaming pass that set-up builds
    "stream_static_join", "stream_interval_join",
    # sketch state
    "stream_hll_monitor",
]

WORKLOADS = {
    "mr_wordcount": [],
    "query_mix": QUERY_LINES + STREAM_LINES,
}

# mr_wordcount corpus: Zipf vocabulary over 32 files, ~10 MB
CORPUS = {"files": 32, "tokens_per_file": 40_000, "vocab_size": 20_000}
