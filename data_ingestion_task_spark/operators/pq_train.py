"""DataFrame-native PQ codebook training — the trained-artifact
counterpart of :func:`.pq.train_pq_codebooks` whose output is
bit-reproducible across partitionings AND across engines.

Why a second trainer: the numpy trainer (`pq.train_pq_codebooks`) is
the fast library path, but its mean updates ride numpy's pairwise
summation, whose float64 result no SQL engine's streaming SUM can
reproduce bit-for-bit — so a query built on it cannot sit under the
repo's DuckDB oracle gate. This trainer runs the same per-subspace
Lloyd iterations as DataFrame aggregations with the component sums
quantized round-9dp → DECIMAL(12,9) — the proven order-independent
idiom of ``knn.train_ivf_codebook`` / the registered
``ivf_kmeans_refine`` twin — so the trained codebooks are identical
whatever the cluster layout, and a static SQL twin
(``plans/ivfpq_plans.py``) reconstructs them exactly.

Reference analogue: FAISS ``ProductQuantizer.train()`` — the training
step behind ``IndexIVFPQ`` that the reference's flat index
(`code/python/Faiss_2_10.py:70-79`) never reached.

Scale: training is sample-based by construction (Jégou et al. 2011) —
callers pass a bounded sample (the pinned registered query caps it at
1024 rows), so every stage here is O(sample · m · n_codes) regardless
of corpus size: the subspace explode is sample×m narrow rows, each
assignment is one broadcast join + a map-side-combined min(struct)
aggregate (the exchange carries one row per (id, j)), and each mean
recompute is one (j, code)-keyed hash-agg carrying d_sub decimal sum
columns. Nothing scales with N.

A FIXED sample cap has a measured cost, though: the coarse quantizer
trained on it freezes nlist at ~cap/seed_mod, so IVF cells grow ~N and
the search reads 32.0× at 100× data vs 11.0× for a √N-nlist index
(SCALE.md §0c, VERDICT r9 #2). :func:`scaled_sample_cap` is the
production default that closes this: cap = seed_mod·isqrt(N), so the
id-residue seeding (ids ≡ 1 mod seed_mod) yields nlist ≈ √N and the
trained lifecycle keeps the static query's search shape (registered as
``ivfpq_scaled_topk``; the 1024-pin stays on ``ivfpq_trained_topk``
for hash stability).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import dot
from .knn import normalize_embeddings


def train_pq_codebooks_df(
    index_df: DataFrame,
    dim: int,
    index_id: str = "neighbor_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    rounds: int = 2,
) -> DataFrame:
    """Per-subspace Euclidean k-means codebooks as a DataFrame
    ``(j int, code int, cv array<double>)`` — DECIMAL-quantized and
    therefore bit-reproducible (see module docstring).

    Semantics mirror :func:`.pq.train_pq_codebooks`: vectors are
    L2-normalized first (ADC then approximates cosine), each vector's
    subspace ``j`` slice competes for the code with the smallest
    ``‖c‖² − 2·x·c`` (ties to the lowest code), a cluster's new
    centroid is the plain mean of its members (no renormalization —
    Euclidean k-means), and an empty cluster KEEPS its previous
    centroid. Init is the first ``n_codes`` rows in ``index_id``
    order. The only driver action is the bounded ≤``n_codes``-row
    init collect; each Lloyd round's centroid frame is broadcast into
    the next assignment, so every stage executes once per round."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d_sub = dim // m
    xn = normalize_embeddings(index_df, vec_col)
    subs = xn.select(
        F.col(index_id).alias("_id"),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col(vec_col), j * d_sub + 1, d_sub)
                    for j in range(m)
                ]
            )
        ).alias("j", "_sub"),
    )
    head = (
        xn.select(index_id).orderBy(index_id).limit(n_codes).collect()
    )  # bounded action: ≤ n_codes rows (the k-means init)
    if len(head) < n_codes:
        raise ValueError(f"sample of {len(head)} rows < n_codes={n_codes}")
    spark = index_df.sparkSession
    code_map = spark.createDataFrame(
        [(int(r[0]), c) for c, r in enumerate(head)], "_id long, code int"
    )
    cent = subs.join(F.broadcast(code_map), "_id").select(
        "j", "code", F.col("_sub").alias("_cv")
    )
    for _ in range(rounds):
        # Assign: min(struct(d2, code)) ≡ argmin d2, ties to the
        # lowest code — one broadcast join + map-side-combined
        # aggregate, the exchange carries one row per (id, j).
        assigned = (
            subs.join(F.broadcast(cent), "j")
            .select(
                "_id",
                "j",
                "_sub",
                F.struct(
                    (
                        dot(F.col("_cv"), F.col("_cv"))
                        - F.lit(2.0) * dot(F.col("_sub"), F.col("_cv"))
                    ).alias("d2"),
                    F.col("code"),
                ).alias("_s"),
            )
            .groupBy("_id", "j")
            .agg(F.first("_sub").alias("_sub"), F.min("_s").alias("_best"))
            .select("j", F.col("_best.code").alias("code"), "_sub")
        )
        # Recompute: component sums through round-9dp → DECIMAL(12,9)
        # (order-independent, exact — the train_ivf_codebook idiom).
        # One (j, code)-keyed aggregate with d_sub sum columns instead
        # of the posexplode → two-level shape: identical decimal sums
        # (grouping differently never reorders exact arithmetic), one
        # exchange per round instead of two, and no d_sub-fold row
        # blow-up. Clusters with no members keep their previous
        # centroid via the join coalesce; means is (m · n_codes)-row
        # bounded, so it broadcasts into the codebook update.
        means = (
            assigned.groupBy("j", "code")
            .agg(
                F.count("*").alias("c"),
                *[
                    F.sum(
                        F.round(F.col("_sub")[p], 9).cast("decimal(12,9)")
                    ).alias(f"_s{p}")
                    for p in range(d_sub)
                ],
            )
            .select(
                "j",
                "code",
                F.array(
                    *[
                        F.col(f"_s{p}").cast("double") / F.col("c")
                        for p in range(d_sub)
                    ]
                ).alias("_m"),
            )
        )
        cent = (
            cent.alias("c")
            .join(F.broadcast(means.alias("mn")), ["j", "code"], "left")
            .select(
                "j", "code", F.coalesce("mn._m", "c._cv").alias("_cv")
            )
        )
    return cent.select("j", "code", F.col("_cv").alias("cv"))


def scaled_sample_cap(
    n_rows: int, seed_mod: int = 32, floor: int = 1024
) -> int:
    """Training-sample cap that TRACKS corpus size: ``seed_mod ·
    isqrt(n_rows)`` (floored at ``floor``, the small-corpus pin), so
    id-residue coarse seeding (sample ids ≡ 1 mod ``seed_mod``) yields
    nlist ≈ isqrt(N) — the √N production shape that keeps IVF cells
    √N-sized as the corpus grows (SCALE.md §0c: fixed-cap search reads
    32.0× at 100× data; √N-nlist reads ~11×). Trainer cost grows only
    as sample·nlist ≈ seed_mod·N per Lloyd round of narrow JVM rows —
    the same order as the build's one assign pass. Exact integer
    arithmetic (``math.isqrt``) so a SQL twin reproduces the cap
    bit-for-bit (the ``cmod`` idiom of ``duckdb_ivfpq_sql``).

    Reference analogue: the FAISS index is rebuilt per corpus at setup
    (`code/python/faiss_implimentation.py:164-173`) — retraining as
    the corpus grows is the reference's lifecycle too."""
    from math import isqrt

    if n_rows < 0:
        raise ValueError(f"n_rows must be >= 0, got {n_rows}")
    return max(floor, seed_mod * isqrt(n_rows)) if n_rows else floor


def collect_codebooks(books_df: DataFrame, m: int, n_codes: int, d_sub: int):
    """Materialize a trained ``(j, code, cv)`` frame as the numpy
    ``(m, n_codes, d_sub)`` float64 array ``knn_join_ivfpq`` consumes.
    The frame is codebook-sized (m·n_codes rows) — a bounded collect."""
    import numpy as np

    rows = books_df.orderBy("j", "code").collect()
    if len(rows) != m * n_codes:
        raise ValueError(
            f"codebook frame has {len(rows)} rows, expected {m * n_codes}"
        )
    books = np.empty((m, n_codes, d_sub), dtype=np.float64)
    for r in rows:
        books[r["j"]][r["code"]] = r["cv"]
    return books
