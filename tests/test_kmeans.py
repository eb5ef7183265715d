"""ivf_kmeans_refine semantics: Lloyd monotonicity (the refined
codebook's objective beats the seed codebook's), conservation of
membership, and determinism — checked against an independent numpy
replica of the seed assignment, not the query's own plan."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from data_ingestion_task_spark.plans.vector_plans import (
    _KM_SAMPLE,
    ivf_kmeans_refine,
)


def _seed_objective(sf_dir: str) -> tuple[float, int, int]:
    """Summed max-cosine objective of the SEED codebook assignment,
    computed straight from parquet with numpy — replicating the
    query's sampled seeding independently: hash-order ≤_KM_SAMPLE
    training sample, seeds = its first isqrt(sample) rows. At the
    test SF the sample covers the whole index, so Lloyd monotonicity
    holds exactly on the reported (full-index) objective."""
    e = pd.read_parquet(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    x = e[e.vec_id % 5 != 0].reset_index(drop=True)
    v = np.stack(x.embedding.to_numpy()).astype("float64")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    h = x.vec_id.map(
        lambda i: int(hashlib.md5(f"kmsmp:{i}".encode()).hexdigest()[:15], 16)
    )
    order = np.lexsort((x.vec_id.to_numpy(), h.to_numpy()))
    sample = order[:_KM_SAMPLE]
    seed_idx = sample[: math.isqrt(len(sample))]
    sims = v @ v[seed_idx].T
    return float(sims.max(axis=1).sum()), len(x), len(seed_idx)


def test_refined_codebook_beats_seed_objective(spark, sf_dir):
    out = ivf_kmeans_refine(spark, sf_dir).toPandas()
    seed_obj, n_index, n_seeds = _seed_objective(sf_dir)
    # every index vector is assigned exactly once
    assert int(out.n_members.sum()) == n_index
    refined_obj = float((out.n_members * out.avg_sim).sum())
    # Lloyd rounds never decrease the summed-cosine objective
    # (1e-3 absorbs the query's 6-dp per-centroid rounding)
    assert refined_obj >= seed_obj - 1e-3
    assert (out.avg_sim <= 1.0 + 1e-9).all()
    # centroids only ever merge/empty, never appear from nowhere
    assert out.centroid_id.is_unique
    assert len(out) <= n_seeds


def test_kmeans_is_deterministic(spark, sf_dir):
    a = ivf_kmeans_refine(spark, sf_dir).toPandas()
    b = ivf_kmeans_refine(spark, sf_dir).toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_trained_codebook_plugs_into_ivf_search(spark, sf_dir):
    """train_ivf_codebook output drives knn_join_ivf via codebook=,
    and trained centroids don't lose recall vs the id-residue
    codebook at the same (nlist, nprobe)."""
    from pyspark.sql import functions as F

    from data_ingestion_task_spark.operators.knn import (
        knn_join_exact,
        knn_join_ivf,
        train_ivf_codebook,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    x = e.filter(F.col("vec_id") % 5 != 0).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )

    def recall(res) -> float:
        exact = knn_join_exact(x, q, k=3).select("query_id", "neighbor_id")
        hits = res.select("query_id", "neighbor_id").intersect(exact).count()
        return hits / exact.count()

    cb = train_ivf_codebook(x, seed_mod=25, rounds=2)
    trained = knn_join_ivf(x, q, k=3, n_probe=2, codebook=cb)
    # shape: ranks are 1..k per query, sims non-increasing
    pdf = trained.toPandas()
    assert (pdf.groupby("query_id")["rank"].max() <= 3).all()
    assert (pdf.groupby("query_id")["rank"].min() == 1).all()
    residue = knn_join_ivf(x, q, k=3, centroid_mod=25, n_probe=2)
    assert recall(trained) >= recall(residue) - 0.05


def test_train_ivf_codebook_partitioning_invariant(spark, sf_dir):
    """Centroid sums are DECIMAL-quantized (ADVICE r4 #5): the trained
    codebook must be bit-identical regardless of how the training set
    is partitioned — plain double hash-agg sums would drift in the
    last ulp with partition layout."""
    from pyspark.sql import functions as F

    from data_ingestion_task_spark import api
    from data_ingestion_task_spark.operators.knn import train_ivf_codebook

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    x = e.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    books = []
    for layout in (x.repartition(1), x.repartition(13)):
        cb = train_ivf_codebook(layout, seed_mod=25, rounds=2)
        books.append(cb.orderBy("centroid_id").collect())
        api.release(cb)
    assert books[0] == books[1]
