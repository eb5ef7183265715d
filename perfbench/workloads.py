"""The benchmark's workloads: which registered queries one pass runs.

Every workload is a closed loop with one client (the benchmark
process): each op is fully materialized before the next one starts,
and a pass runs every op of the workload once, in this order.
"""

from __future__ import annotations

#: Row counts of the generated input tables: the sf0.01 shape, with
#: 120 documents so that the MinHash oracle twin of the dedup op
#: finishes in about 5 s. Every workload reads the same sizes.
SIZES = {"documents": 120, "customer": 1500, "supplier": 100, "orders": 15000}

WORKLOADS: dict[str, list[str]] = {
    # classify -> extract -> evaluate: the pandas_udf text encoder and
    # kNN vote, then mapInPandas render/regex extraction and per-field
    # accuracy. Most of its time crosses the Python boundary.
    "extract_classify": [
        "text_knn_classify",
        "extraction_e2e_accuracy",
    ],
    # JVM only, no Python stage: MinHash-LSH edges, then the label-
    # propagation connected-components loop, whose eager rounds run
    # inside the plans call.
    "dedup_cluster": ["dedup_cluster_canonical"],
}

#: Untimed warm-up passes after the cold pass and the oracle check's
#: collect, per workload: the JIT keeps speeding passes up until about
#: then. In one process on a
#: 4-vCPU VM, extract_classify ran 20.2 s cold, then 5.2, 5.0, 4.9,
#: 4.0, 3.8 s, and dedup_cluster 19.6 s cold, then 5.3, 4.4, 4.2, 3.8,
#: then 3.4-3.5 s.
WARMUP_PASSES = {"extract_classify": 2, "dedup_cluster": 3}

ALL_OPS = [op for ops in WORKLOADS.values() for op in ops]
