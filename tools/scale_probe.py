"""Scale probe: run the heaviest registered queries at sf0.1 and at
the 10x sf1 dataset (tools/gen_scale_data.py) and report the wall-time
ratio per query — the empirical check behind SCALE.md's 100-TB design
claims (VERDICT r3 top ask). A ratio near 10 is linear; the probe
flags anything above the 15x budget.

    python tools/scale_probe.py [--repeats 2] [NAME ...]

Writes scale_probe.json. Timing notes (see SCALE.md): this VM stalls
10-40s at random, so each (query, sf) takes min of --repeats runs.

r9 action change: each query is FULLY materialized via the same
JVM-side xxhash64-checksum aggregate bench.py uses. The previous
``.count()`` action let Catalyst eliminate final projections, global
sorts, and left-joins of unique aggregates — vacuously flat ratios for
projection-shaped queries (caught when ``curated_corpus_audit``'s
trigram+DSIR stages probed at 1.0x/0.79s while its component queries
probe at 3-4.4x/7s). Artifacts were regenerated under the new action
the same round; expect pre-r9 SCALE.md table walls to read LOW for
projection-enders relative to the artifact.
"""

from __future__ import annotations

import gc
import json
import sys
import time

sys.path.insert(0, ".")

SF01 = "/root/testdata/sf0.1"
SF1 = ".scale/sf1"
BUDGET_PER_10X = 15.0  # ratio budget is 15x per 10x of data

DEFAULT = [
    "ann_recall_audit",
    "dedup_cluster_canonical",
    "form1008_extraction_e2e",
    "pbst_extraction_e2e",
    "w2_extraction_e2e",
    "statement_decv2_extraction_e2e",
    "embedding_near_dup",
    "knn_cosine_topk",
    "dedup_minhash_lsh",
    "text_knn_classify",
    "events_sessionization",
    "transactions_extract",
]


def main() -> int:
    args = [a for a in sys.argv[1:]]
    repeats = 2
    if "--repeats" in args:
        i = args.index("--repeats")
        repeats = int(args[i + 1])
        del args[i : i + 2]
    # --big DIR LABEL SCALE: probe sf0.1 against an alternative big
    # dataset, e.g. `--big .scale/sf3 sf3 30` for the 30x corpus
    # (results keyed sf3, budget scaled to 45x, merged into
    # scale_probe_sf3.json).
    big_dir, big_label, big_scale = SF1, "sf1", 10.0
    if "--big" in args:
        i = args.index("--big")
        big_dir, big_label, big_scale = args[i + 1], args[i + 2], float(args[i + 3])
        del args[i : i + 4]
    out_file = "scale_probe.json" if big_label == "sf1" else f"scale_probe_{big_label}.json"
    budget = BUDGET_PER_10X * big_scale / 10.0
    names = args or DEFAULT

    from data_ingestion_task_spark.plans import registry
    from data_ingestion_task_spark.session import get_spark

    registry.load_all()
    spark = get_spark(
        "scale-probe",
        shuffle_partitions=32,
        extra_conf={"spark.driver.memory": "48g", "spark.ui.showConsoleProgress": "false"},
    )
    # JVM/codegen warmup so the first measured query doesn't pay it.
    spark.range(1000).selectExpr("sum(id)").collect()

    from pyspark.sql import functions as F

    def materialize(df) -> int:
        """Force full computation of every column (bench.py's idiom);
        one scalar row back to the driver."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*[F.col(c) for c in df.columns])).alias("chk"),
        ).collect()[0]
        return row["n"]

    out: dict[str, dict] = {}
    for name in names:
        spec = registry.REGISTRY[name]
        row: dict = {}
        for key, sf_dir in (("sf0.1", SF01), (big_label, big_dir)):
            best = None
            n_rows = None
            for _ in range(repeats):
                gc.collect()
                t0 = time.monotonic()
                n_rows = materialize(spec.fn(spark, sf_dir))
                dt = time.monotonic() - t0
                best = dt if best is None else min(best, dt)
                # Queries that persist an intermediate for intra-query
                # reuse (the _cached_deps contract) would otherwise
                # hand later repeats a warm cache and turn min-of-N
                # into a warm-cache measurement — same rule bench.py
                # applies between its passes.
                spark.catalog.clearCache()
            row[key] = round(best, 2)
            row[f"{key}_rows"] = n_rows
            print(f"{name} @ {key}: {row[key]}s ({n_rows} rows)", flush=True)
        row["ratio"] = round(row[big_label] / row["sf0.1"], 1) if row["sf0.1"] else None
        row["linear"] = row["ratio"] is not None and row["ratio"] <= budget
        out[name] = row
        print(f"  -> ratio {row['ratio']}x {'OK' if row['linear'] else 'SUPER-LINEAR'}", flush=True)

    # merge over prior runs so partial re-probes keep the full table
    try:
        with open(out_file) as f:
            merged = json.load(f)
    except (OSError, json.JSONDecodeError):
        merged = {}
    merged.update(out)
    with open(out_file, "w") as f:
        json.dump(merged, f, indent=1)
        f.write("\n")
    bad = [n for n, r in out.items() if not r["linear"]]
    print(f"\n{len(out)} probed; super-linear: {bad or 'none'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
