"""The benchmark's workloads: the registry queries each one runs.

Why each workload and query is here is written in README.md and, one line
per workload, in BENCHMARK.json.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    # the control: no loops, persists, writes or stream state
    "analytics": [
        "grouped_quantiles",  # hash aggregation + exact percentiles
        "multiway_join_revenue",  # fact-to-fact join + broadcast dimensions
        "spline_trend_fits",  # grouped Arrow fit in Python workers
    ],
    # the LLM-curation half: the only workload with scratch persists and
    # streaming state
    "curation": [
        "ngram_jaccard_pairs",  # shingle self-join over a scratch persist
        "stream_curation_funnel",  # stateful stream, per-key dedup state
    ],
}
