"""IVF-PQ composition: recall against exact search, true-cosine
re-rank, determinism, the adc-only band, and the narrow-lists build
(codes through the cell shuffle, not raw vectors)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_ingestion_task_spark.operators.ivfpq import knn_join_ivfpq
from data_ingestion_task_spark.operators.knn import knn_join_exact, train_ivf_codebook
from data_ingestion_task_spark.operators.pq import train_pq_codebooks


@pytest.fixture(scope="module")
def split(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    x = e.filter(F.col("vec_id") % 5 != 0).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    return q, x


def test_ivfpq_recall_and_true_cosines(spark, split):
    q, x = split
    exact = knn_join_exact(x, q, k=3)
    ex_pairs = exact.select("query_id", "neighbor_id")
    n_ex = ex_pairs.count()

    res = knn_join_ivfpq(x, q, k=3, n_probe=8, overscan=8).persist()
    hits = res.select("query_id", "neighbor_id").intersect(ex_pairs).count()
    # isotropic vectors are IVF's worst case (cells carry no cluster
    # structure): measured 0.25/0.41/0.53/0.59 at n_probe 2/4/8/12 on
    # this 400-row/20-cell split — assert safely under the 8-probe point
    assert hits / n_ex >= 0.45

    # surfaced sims are TRUE cosines (the exact re-rank): every
    # returned pair that exact search also returned must carry a
    # bit-identical sim
    both = res.join(
        exact.select("query_id", "neighbor_id", F.col("sim").alias("ex_sim")),
        ["query_id", "neighbor_id"],
    )
    assert both.filter(F.col("sim") != F.col("ex_sim")).count() == 0
    res.unpersist()


def test_ivfpq_more_probes_no_worse(spark, split):
    q, x = split
    ex_pairs = knn_join_exact(x, q, k=3).select("query_id", "neighbor_id")
    n_ex = ex_pairs.count()

    def recall(n_probe):
        r = knn_join_ivfpq(x, q, k=3, n_probe=n_probe, overscan=8)
        return r.select("query_id", "neighbor_id").intersect(ex_pairs).count() / n_ex

    assert recall(8) >= recall(2)


def test_ivfpq_deterministic_and_trained_codebooks(spark, split):
    q, x = split
    cb = train_ivf_codebook(x, seed_mod=40)
    books = train_pq_codebooks(x, m=8, n_codes=16)
    a = knn_join_ivfpq(x, q, k=3, codebook=cb, codebooks=books).orderBy(
        "query_id", "rank"
    ).collect()
    b = knn_join_ivfpq(x, q, k=3, codebook=cb, codebooks=books).orderBy(
        "query_id", "rank"
    ).collect()
    assert a == b
    assert len(a) > 0


def test_ivfpq_adc_band_skips_rerank(spark, split):
    q, x = split
    res = knn_join_ivfpq(x, q, k=3, rerank="adc")
    assert res.columns == ["query_id", "neighbor_id", "sim", "rank"]
    rows = res.groupBy("query_id").count().agg(F.max("count")).first()[0]
    assert rows <= 3
    # ADC sims are approximations of cosine on normalized vectors
    mx = res.agg(F.max(F.abs("sim"))).first()[0]
    assert mx <= 1.5
    with pytest.raises(ValueError, match="rerank"):
        knn_join_ivfpq(x, q, k=3, rerank="bogus")


def test_ivfpq_lists_shuffle_codes_not_vectors(spark, split):
    """The N-scaling shuffle (probes ⋈ lists on centroid_id) must carry
    PQ codes, never the raw index vector: no centroid_id exchange's
    child may output ``_xv`` (the probes side legitimately ships its
    Q-sized ``_qv``). Also: no cartesian/nested-loop anywhere."""
    q, x = split
    plan = knn_join_ivfpq(x, q, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    cell_exchanges = 0
    for i, line in enumerate(lines):
        if "Exchange hashpartitioning(centroid_id" not in line:
            continue
        cell_exchanges += 1
        child = lines[i + 1] if i + 1 < len(lines) else ""
        assert "_xv" not in child, f"raw index vector rides the cell shuffle: {child}"
    assert cell_exchanges >= 1  # the cell join exists and is a hash shuffle


def test_ivfpq_empty_centroid_set_raises(spark, split):
    q, x = split
    # all-even ids: no id ≡ 1 (mod 2) — the silent-zero-results trap
    x2 = x.withColumn("neighbor_id", F.col("neighbor_id") * 2)
    with pytest.raises(ValueError, match="empty centroid set"):
        knn_join_ivfpq(x2, q, k=3, centroid_mod=2)


def test_ivfpq_shuffle_rerank_matches_broadcast(spark, split):
    q, x = split
    books = train_pq_codebooks(x, m=8, n_codes=16)
    a = knn_join_ivfpq(
        x, q, k=3, codebooks=books, broadcast_rerank=True
    ).orderBy("query_id", "rank").collect()
    b = knn_join_ivfpq(
        x, q, k=3, codebooks=books, broadcast_rerank=False
    ).orderBy("query_id", "rank").collect()
    assert a == b


def test_ivfpq_recall_audit_monotone(spark, sf_dir):
    from data_ingestion_task_spark.plans.ivfpq_plans import (
        _AUDIT_OVERSCANS,
        _K,
        ivfpq_recall_audit,
    )

    rows = ivfpq_recall_audit(spark, sf_dir).collect()
    assert [r["overscan"] for r in rows] == sorted(_AUDIT_OVERSCANS)
    for r in rows:
        assert r["n_queries"] > 0
        assert 0 < r["avg_returned"] <= _K
        assert 0.0 <= r[f"recall_at_{_K}"] <= 1.0
    # a wider ADC shortlist can only help the exact re-rank
    recalls = [r[f"recall_at_{_K}"] for r in rows]
    assert all(a <= b + 1e-12 for a, b in zip(recalls, recalls[1:]))


def test_broadcast_queries_path_bit_identical(spark, sf_dir):
    """The broadcast-queries ADC layout (codes-only candidate rows,
    query matrix gathered from a broadcast) must reproduce the per-row
    layout exactly — same ids, same ranks, same sims to the bit."""
    from pyspark.sql import functions as F

    from data_ingestion_task_spark.operators.ivfpq import knn_join_ivfpq
    from data_ingestion_task_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    x = e.filter(F.col("vec_id") % 5 != 0).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    base = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in knn_join_ivfpq(x, q, k=3, broadcast_queries=False).collect()
    }
    bq = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in knn_join_ivfpq(x, q, k=3, broadcast_queries=True).collect()
    }
    assert base == bq and base


def test_broadcast_queries_keeps_id_types(spark, sf_dir):
    """With int (not long) neighbor ids, the broadcast-queries ADC
    layout must emit the same id dtypes as the per-row layout instead
    of silently widening index_id to bigint (ADVICE r7 #2)."""
    from pyspark.sql import functions as F

    from data_ingestion_task_spark.operators.ivfpq import knn_join_ivfpq
    from data_ingestion_task_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    x = e.filter(F.col("vec_id") % 5 != 0).select(
        F.col("vec_id").cast("int").alias("neighbor_id"), "embedding"
    )
    per_row = knn_join_ivfpq(x, q, k=3, broadcast_queries=False)
    bq = knn_join_ivfpq(x, q, k=3, broadcast_queries=True)
    assert dict(per_row.dtypes) == dict(bq.dtypes)
    assert dict(bq.dtypes)["neighbor_id"] == "int"
    base = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in per_row.collect()
    }
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in bq.collect()
    }
    assert base == got and base


def test_recall_audit_empty_sample_raises(spark, sf_dir, monkeypatch):
    """A corpus whose query sample comes up empty must raise a named
    error, not ZeroDivisionError (ADVICE r7 #4), from every recall
    audit. id 0 always survives `query_id % sample_mod == 0`, so
    emptiness is reached the way a real tiny corpus would reach it: a
    query side with no sampled ids (patched _split of the shared audit
    driver)."""
    import pytest
    from pyspark.sql import functions as F

    from data_ingestion_task_spark.plans import ivfpq_plans, vector_plans

    real = vector_plans._split

    def no_zero_split(spark_, sf_dir_):
        q, x = real(spark_, sf_dir_)
        return q.filter(F.col("query_id") > 0), x

    monkeypatch.setattr(vector_plans, "_split", no_zero_split)
    for audit in (
        vector_plans.ann_recall_audit,
        vector_plans.ivf_recall_audit,
        ivfpq_plans.ivfpq_recall_audit,
    ):
        with pytest.raises(ValueError, match=f"{audit.__name__}: query sample is empty"):
            audit(spark, sf_dir, sample_mod=10_000_000)
