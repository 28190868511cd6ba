"""The benchmark's workloads: which catalog queries one pass runs, and why.

Each workload is sized so that set-up, a cold pass, the timed passes and the
oracle check fit one run of about a minute on 4 cores, so that the tens of
runs an A/B comparison needs stay affordable. The passes are therefore
subsets of the larger query families named in each ``why``.
"""

WARMUP_QUERY = "fold_global_stats"

WORKLOADS: dict[str, dict] = {
    "headline": {
        "why": "single-pass zip-index, join, hourly-rollup and window-rank plans from "
        "bench.py's headline; cost is fixed per query (Python build, Catalyst, job dispatch)",
        "queries": [
            "zip_index_orders",
            "join_inner_region_rollup",
            "telemetry_hourly_rollup",
            "window_rank_orders",
        ],
    },
    "graph_iterative": {
        "why": "fixpoint loop (checkpoint, join, observe) run eagerly in the "
        "catalog call; executor time, shuffle and checkpoints dominate",
        "queries": ["bfs_hops_from_nation"],
    },
    "stream_microbatch": {
        "why": "availableNow stream drained in two micro-batches, each paying "
        "offset/WAL commits, state-store updates and sink appends; JVM-only state",
        "queries": ["dedup_stream_watermark"],
    },
    "python_udf": {
        "why": "Arrow mapInPandas/applyInPandas queries; the Python-worker "
        "boundary does most of the work",
        "queries": [
            "image_png_roundtrip_meta",
            "image_resize_half_meta",
            "video_keyframe_dhash",
            "grouped_zscore_pandas",
        ],
    },
}
