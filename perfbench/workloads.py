"""The benchmark's workloads: named query lists from the public catalog.

Each workload is a closed loop of one client running one query at a time;
the seed only permutes the order of the queries within a pass.
"""

from __future__ import annotations

import random

#: Untimed warm-up query run at the end of every session set-up; it is in
#: no workload, so every timed query starts equally cold.
WARMUP_QUERY = "join_inner"

WORKLOADS: dict[str, tuple[str, ...]] = {
    "relational": (
        "tpch_q3_shipping_priority",
        "tpch_q18_large_volume_customer",
        "agg_pricing_summary",
        "join_salted_skew",
        "window_ranking",
    ),
    "iterative": (
        "graph_pagerank_bipartite",
        "stats_hill_tail_index",
    ),
    "corpus_similarity": (
        "similarity_topk_bruteforce",
        "text_aho_corasick_blocklist",
        "dedup_exact",
    ),
    "write_stream": (
        "streaming_typed_state_totals",
        "sink_python_datasource_roundtrip",
        "sink_jdbc_roundtrip",
        "pipeline_fizzbuzz_udf",
    ),
}


def pass_order(workload: str, seed: int, pass_index: int) -> list[str]:
    """The workload's queries in the order pass ``pass_index`` runs them."""
    names = list(WORKLOADS[workload])
    random.Random(f"{seed}:{pass_index}").shuffle(names)
    return names
