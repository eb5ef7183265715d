"""Trained-vs-derived IVF-PQ recall A/B (SCALE.md §0b row): run the
registered ``ivfpq_trained_topk``, ``ivfpq_scaled_topk`` and ``ann_ivfpq_topk`` at the same
knobs (k=3, n_probe=2, overscan=8 — both queries' registered
constants) and score recall@3 against the exact baseline on the
1-in-50 query sample (the recall-audit convention).

    python tools/recall_ab.py [SF_DIR ...]   # default sf0.1 and .scale/sf3

Prints one line per (sf, variant) and a JSON summary. Timing is NOT
the point here (recall is load-invariant); run quiet anyway if walls
are quoted.
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, ".")

SAMPLE_MOD = 50
K = 3


def main() -> int:
    from pyspark.sql import functions as F

    from data_ingestion_task_spark.operators.knn import knn_join_exact
    from data_ingestion_task_spark.plans import registry
    from data_ingestion_task_spark.plans._vector_shared import _split
    from data_ingestion_task_spark.session import get_spark

    registry.load_all()
    dirs = sys.argv[1:] or ["/root/testdata/sf0.1", ".scale/sf3"]
    spark = get_spark(
        "recall-ab",
        shuffle_partitions=32,
        extra_conf={"spark.driver.memory": "48g", "spark.ui.showConsoleProgress": "false"},
    )
    out: dict[str, dict[str, float]] = {}
    for sf_dir in dirs:
        label = sf_dir.rstrip("/").split("/")[-1]
        q, x = _split(spark, sf_dir)
        qs = q.filter(F.col("query_id") % SAMPLE_MOD == 0).select(
            "query_id", "embedding"
        )
        nq = qs.count()
        exact = (
            knn_join_exact(x.select("neighbor_id", "embedding"), qs, k=K)
            .select("query_id", "neighbor_id")
            .persist()
        )
        exact.count()
        row: dict[str, float] = {"n_queries": nq}
        for name in (
            "ivfpq_trained_topk",
            "ivfpq_scaled_topk",
            "ivfpq_scaled_probe_topk",
            "ann_ivfpq_topk",
        ):
            res = registry.REGISTRY[name].fn(spark, sf_dir)
            hits = (
                res.select("query_id", "neighbor_id")
                .join(exact, ["query_id", "neighbor_id"])
                .count()
            )
            row[name] = round(hits / (K * nq), 3)
            for dep in getattr(res, "_cached_deps", []):
                dep.unpersist()
            print(f"{label} {name}: recall@{K} = {row[name]}", flush=True)
        exact.unpersist()
        spark.catalog.clearCache()
        out[label] = row
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
