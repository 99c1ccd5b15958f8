"""Query lists of the benchmark's workloads.

Every workload runs catalog queries on one seeded sf0.1 input directory
(``datagen.py``), one at a time, in one Spark session on ``local[nproc]``.
Why each workload exists is in ``BENCHMARK.json``; which end-to-end metric
each per-layer metric should move is in ``README.md``.  The lists are
short on purpose: 48 runs of the benchmark (set-up, cold pass, timed
window and oracle check each) must fit in under an hour, and a timed
window must hold several whole passes.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    "spine": [
        "q01_pricing_summary", "q06_revenue_forecast",
        "q10_join_inner", "q103_tpch_q3", "q104_tpch_q18",
        "q189_tpch_q13", "q31_topk", "q52_window_running",
        "q84_event_tumbling",
    ],
    "build": [
        "q404_bradley_terry", "q403_kneser_ney", "q451_delta_log",
        "q480_delta_stream_sink",
    ],
}

# Queries whose build runs availableNow streaming queries.
STREAMING = frozenset({
    "q477_delta_cdf_stream", "q478_iceberg_append_stream",
    "q479_hudi_incr_stream", "q480_delta_stream_sink",
})

# Queries that get their own build/run job counts and build time.
PER_QUERY = WORKLOADS["build"]
