"""The benchmark's workloads: fixed multisets of registered queries.

One client runs them closed-loop (the next query starts when the
previous one has returned). The seed only permutes the order; every
pass runs the whole multiset, so every run measures the same work.
"""

from __future__ import annotations

import random

WORKLOADS: dict[str, dict] = {
    "graph_loops": {
        "why": (
            "iterative graph fixpoints: driver-side rounds, eager actions, "
            "checkpoint barriers and per-round shuffles dominate the wall"
        ),
        "queries": [
            "graph_connected_components",
            "graph_k_core_fixpoint",
            "graph_label_propagation",
            "graph_hits_hubs_authorities",
        ],
    },
    "curation_rw": {
        "why": (
            "LLM data pipeline: MinHash-LSH and ANN reads and an Arrow UDF "
            "interleaved with index, partition and stream writes"
        ),
        "queries": [
            "dedup_minhash_lsh",
            "ann_ivf_pruned_topk",
            "ann_lsh_pruned_topk",
            "udf_map_in_arrow_sig",
            "ann_index_incremental_upsert",
            "m9_dynamic_partition_overwrite",
            "st_stream_topk_maintain",
        ],
    },
}


def passes(workload: str, seed: int):
    """Yield one permutation of the workload's multiset per pass, from a
    generator seeded by ``seed`` alone."""
    rng = random.Random(seed)
    queries = list(WORKLOADS[workload]["queries"])
    while True:
        order = queries[:]
        rng.shuffle(order)
        yield order
