"""Build a ~10x scale dataset (sf1) under /root/repo/.scale/sf1 from
the driver's read-only /root/testdata/sf0.1, for the SCALE.md probe:

    python tools/gen_scale_data.py [--force]

Replication is 10 key-remapped copies per fact table (dims region and
nation stay at their true cardinality — dimensions don't scale with
fact volume). Foreign keys are remapped with the SAME offset as the
referenced primary key, so every join keeps its selectivity.

Two tables get content perturbation so the 10x corpus has 10x the
WORK, not a quadratic artifact of copying:

- documents.text: replica i != 0 appends a replica tag to EVERY word
  (vectorized JVM regex). A word-level bijection preserves every
  within-replica shingle equality EXACTLY (near-dup pairs keep their
  exact Jaccard), while cross-replica shingle overlap is identically
  zero — so the 10x corpus has exactly 10x the duplicate structure.
  (A subtler every-Nth-word salt was tried first and FAILED both
  ways: cross-replica Jaccard stayed ~0.5-1.0 and shifted salt
  positions broke genuine within-replica pairs.)
- embeddings.embedding: replica i multiplies dims by a deterministic
  +-1 sign pattern. Within a replica, all pairwise dot products are
  EXACTLY preserved (s_d^2 = 1); across replicas, dots concentrate
  around 0 (std ~ 1/8 in 64 dims). NB: at embedding_near_dup's 0.35
  cosine threshold the tail still yields ~0.26% of cross pairs — but
  that is the SAME rate a fresh random corpus of this size would
  produce in 64 dims (verified: 2M pairs x 0.26% ~ the 4.1k pairs at
  sf0.1, 180M x 0.26% ~ the 430k at sf1), so pair output growing ~N^2
  is a property of near-isotropic data at that threshold, not a
  replication artifact.
"""

from __future__ import annotations

import os
import random
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SRC = "/root/testdata/sf0.1"
_SCALE_ROOT = os.path.join(_REPO, ".scale")
DST = os.path.join(_SCALE_ROOT, "sf1")
REPLICAS = 10

# table -> {column: offset_per_replica}; offsets chosen as clean powers
# of ten above each key's max so remapped ids never collide.
OFF_C = 1_000_000   # customer keys (15k rows)
OFF_S = 100_000     # supplier keys (1k)
OFF_P = 1_000_000   # part keys (20k)
OFF_O = 10_000_000  # order keys (o_orderkey max ~600k)
OFF_E = 10_000_000  # event ids (100k)
OFF_U = 1_000_000   # event user ids
OFF_D = 1_000_000   # doc ids (5k)
OFF_V = 1_000_000   # vec ids (2k)

KEYMAP: dict[str, dict[str, int]] = {
    "customer": {"c_custkey": OFF_C},
    "supplier": {"s_suppkey": OFF_S},
    "part": {"p_partkey": OFF_P},
    "orders": {"o_orderkey": OFF_O, "o_custkey": OFF_C},
    "lineitem": {"l_orderkey": OFF_O, "l_partkey": OFF_P, "l_suppkey": OFF_S},
    "events": {"event_id": OFF_E, "user_id": OFF_U},
    "documents": {"doc_id": OFF_D},
    "embeddings": {"vec_id": OFF_V},
}
COPY_ONLY = ["region", "nation"]
OUT_PARTS = {"lineitem": 32, "orders": 16, "events": 16}


def main() -> int:
    global DST, REPLICAS
    force = "--force" in sys.argv
    only = None
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1]
        force = True
    # --replicas N builds an Nx dataset at .scale/sf{N/10} (e.g.
    # --replicas 30 -> .scale/sf3, the 30x probe corpus).
    if "--replicas" in sys.argv:
        REPLICAS = int(sys.argv[sys.argv.index("--replicas") + 1])
        label = f"sf{REPLICAS // 10}" if REPLICAS % 10 == 0 else f"x{REPLICAS}"
        DST = os.path.join(_SCALE_ROOT, label)
    if os.path.exists(os.path.join(DST, "_DONE")) and not force:
        print(f"{DST} already built; --force to rebuild")
        return 0

    from pyspark.sql import functions as F

    from data_ingestion_task_spark.session import get_spark

    spark = get_spark(
        "gen-scale-data",
        shuffle_partitions=32,
        extra_conf={"spark.driver.memory": "24g", "spark.ui.showConsoleProgress": "false"},
    )
    os.makedirs(DST, exist_ok=True)

    for t in COPY_ONLY:
        if only and t != only:
            continue
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode("overwrite").parquet(
            f"{DST}/{t}.parquet"
        )
        print(f"copied dim {t}")

    for t, keymap in KEYMAP.items():
        if only and t != only:
            continue
        base = spark.read.parquet(f"{SRC}/{t}.parquet")
        reps = []
        for i in range(REPLICAS):
            r = base
            for col, off in keymap.items():
                r = r.withColumn(col, F.col(col) + F.lit(i * off))
            if t == "documents" and i > 0:
                # replica tag on every word; see module docstring
                r = r.withColumn(
                    "text",
                    F.regexp_replace(F.col("text"), r"(\S+)", f"$1zr{i}"),
                )
            if t == "embeddings" and i > 0:
                rng = random.Random(i)
                signs = [float(rng.choice((1.0, -1.0))) for _ in range(64)]
                sarr = F.array(*[F.lit(s) for s in signs])
                r = r.withColumn(
                    "embedding",
                    F.zip_with(F.col("embedding"), sarr, lambda a, b: a * b).cast(
                        "array<float>"
                    ),
                )
            reps.append(r)
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.repartition(OUT_PARTS.get(t, 8)).write.mode("overwrite").parquet(
            f"{DST}/{t}.parquet"
        )
        n = spark.read.parquet(f"{DST}/{t}.parquet").count()
        print(f"built {t}: {n} rows")

    with open(os.path.join(DST, "_DONE"), "w") as f:
        f.write("ok\n")
    print(f"{REPLICAS}x dataset ready at {DST}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
