"""DataFrame-native PQ codebook trainer (operators/pq_train.py) —
the DECIMAL-quantized twin-able counterpart of pq.train_pq_codebooks."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_ingestion_task_spark.operators.pq_train import (
    collect_codebooks,
    train_pq_codebooks_df,
)
from data_ingestion_task_spark.sources.tables import load_table


def _x(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return e.filter(F.col("vec_id") % 5 != 0).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )


def test_trained_books_shape_and_grid(spark, sf_dir):
    x = _x(spark, sf_dir)
    books_df = train_pq_codebooks_df(x, dim=64, m=8, n_codes=16, rounds=2)
    books = collect_codebooks(books_df, 8, 16, 8)
    assert books.shape == (8, 16, 8)
    assert np.isfinite(books).all()
    # trained centroids are means of unit-vector slices — bounded
    assert np.abs(books).max() <= 1.0 + 1e-9


def test_trained_books_layout_invariant(spark, sf_dir):
    """The DECIMAL-quantized sums make the codebooks bit-identical
    whatever the partitioning — the property that lets a static SQL
    oracle reconstruct them (and 'train once, reuse everywhere' hold
    on a cluster)."""
    x = _x(spark, sf_dir)
    a = collect_codebooks(
        train_pq_codebooks_df(x.repartition(1), dim=64, rounds=2), 8, 16, 8
    )
    b = collect_codebooks(
        train_pq_codebooks_df(
            x.repartition(13, "neighbor_id"), dim=64, rounds=2
        ),
        8,
        16,
        8,
    )
    assert (a == b).all()


def test_trained_books_reject_bad_dim(spark, sf_dir):
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks_df(_x(spark, sf_dir), dim=63, m=8)


def test_trained_books_reject_small_sample(spark, sf_dir):
    x = _x(spark, sf_dir).limit(5)
    with pytest.raises(ValueError, match="< n_codes"):
        train_pq_codebooks_df(x, dim=64, n_codes=16)


def test_trained_query_contract(spark, sf_dir):
    """ivfpq_trained_topk returns the knn contract: ≤k rows per query,
    rank 1..k dense, sims descending true cosines."""
    from data_ingestion_task_spark.plans.ivfpq_plans import (
        ivfpq_trained_topk,
    )

    rows = ivfpq_trained_topk(spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = [r["rnk"] for r in rs]
        assert ranks == list(range(1, len(rs) + 1))
        sims = [r["sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(-1.000001 <= s <= 1.000001 for s in sims)


def test_trained_books_empty_cluster_keeps_previous(spark):
    """Rows 0 and 1 identical ⇒ code 1's centroid equals code 0's, so
    every tie resolves to the lower code and code 1 never gets a
    member — it must KEEP its init centroid through every round (the
    COALESCE path, mirroring the numpy trainer's empty-cluster rule
    and the SQL twin's LEFT JOIN)."""
    import math

    rows = []
    for i in range(17):
        base = 0.7 if i <= 1 else float(i)  # rows 0,1 identical
        v = [math.cos(base * (d + 1) / 3.0) for d in range(16)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "neighbor_id long, embedding array<double>")
    # rounds=1: the tie (identical centroids 0 and 1) is what empties
    # code 1; after the DECIMAL-quantized mean update the two centroids
    # are no longer bit-identical, so later rounds may legitimately
    # repopulate it — the keep-previous path is a per-round property
    books = collect_codebooks(
        train_pq_codebooks_df(df, dim=16, m=2, n_codes=16, rounds=1), 2, 16, 8
    )
    # the init slice of row 1 = normalized row 1's subspace slices
    from data_ingestion_task_spark.operators.knn import normalize_embeddings

    norm = {
        r["neighbor_id"]: r["embedding"]
        for r in normalize_embeddings(df).collect()
    }
    for j in range(2):
        init_slice = norm[1][j * 8 : (j + 1) * 8]
        assert list(books[j][1]) == init_slice  # untouched init
    # code 0 DID absorb members, so its centroid moved off the init
    moved = any(
        list(books[j][0]) != norm[0][j * 8 : (j + 1) * 8] for j in range(2)
    )
    assert moved


def test_trained_query_release_contract(spark, sf_dir):
    """ivfpq_trained_topk persists its training sample and codebook;
    api.release on the result must return the session's persistent-RDD
    count to baseline (the repo caching contract)."""
    from data_ingestion_task_spark import api
    from data_ingestion_task_spark.plans.ivfpq_plans import (
        ivfpq_trained_topk,
    )

    df = ivfpq_trained_topk(spark, sf_dir)
    df.collect()
    deps = df._cached_deps
    assert len(deps) == 2  # the sample + the trained codebook
    assert all(d.storageLevel.useMemory for d in deps)
    api.release(df)
    assert not any(d.storageLevel.useMemory for d in deps)


def test_scaled_sample_cap_tracks_isqrt():
    """Cap = seed_mod·isqrt(N) floored at the pin; nlist ≈ cap/seed_mod
    therefore tracks √N — the shape the SQL twin must reproduce."""
    from math import isqrt

    import duckdb
    import pytest

    from data_ingestion_task_spark.operators.pq_train import scaled_sample_cap

    assert scaled_sample_cap(0) == 1024
    assert scaled_sample_cap(500) == 1024  # under the floor: pinned
    assert scaled_sample_cap(10_000) == 32 * 100
    assert scaled_sample_cap(200_000) == 32 * isqrt(200_000)
    with pytest.raises(ValueError, match="n_rows"):
        scaled_sample_cap(-1)
    # bit-parity with the oracle's LIMIT expression (the exact-isqrt
    # correction idiom), including around perfect squares
    for n in (0, 1, 2, 3, 4, 500, 1024, 1025, 9_999, 10_000, 10_001, 123_456):
        got = duckdb.sql(
            f"""SELECT GREATEST(1024, 32 * (s0 + CASE
                   WHEN (s0 + 1) * (s0 + 1) <= n THEN 1
                   WHEN s0 * s0 > n THEN -1
                   ELSE 0 END))
               FROM (SELECT {n}::BIGINT AS n,
                            CAST(FLOOR(SQRT(CAST({n} AS DOUBLE))) AS BIGINT) AS s0)"""
        ).fetchone()[0]
        assert got == scaled_sample_cap(n), n


def test_scaled_n_probe_rule_matches_oracle_expr():
    """The corpus-tracking probe rule (n_probe = max(pin, nlist//16))
    must bit-match the oracle's GREATEST(pin, COUNT(*)//16) scalar
    subquery for every nlist the lifecycle can produce."""
    import duckdb

    from data_ingestion_task_spark.plans.ivfpq_plans import (
        _PROBE_DIV,
        scaled_n_probe,
    )

    assert scaled_n_probe(0) == 2
    assert scaled_n_probe(32) == 2  # the sf0.1 / pinned regime: floor
    assert scaled_n_probe(126) == 7  # sf1
    assert scaled_n_probe(390) == 24  # sf10
    for nlist in (0, 1, 15, 16, 17, 31, 32, 33, 126, 390, 1000):
        got = duckdb.sql(
            f"SELECT GREATEST(2, {nlist}::BIGINT // {_PROBE_DIV})"
        ).fetchone()[0]
        assert got == scaled_n_probe(nlist), nlist


def test_sample_shuffle_partitions_scale_rule():
    """The trainer-stage shuffle width is derived from sample BYTES
    (guide §2.2) — 1 partition at the registered pins, growing with
    the corpus-tracking cap, never zero."""
    from data_ingestion_task_spark.plans.ivfpq_plans import (
        _sample_shuffle_partitions,
    )

    assert _sample_shuffle_partitions(1024, 64) == 1
    assert _sample_shuffle_partitions(1, 64) == 1
    # cap for a 10B-row corpus: 32·isqrt(1e10) = 3.2M rows → tens of
    # 64MB partitions, not 1 and not thousands
    big = _sample_shuffle_partitions(3_200_000, 64)
    assert 10 <= big <= 64
    assert _sample_shuffle_partitions(10_000_000, 64) >= big


def test_trained_lifecycle_restores_shuffle_width(spark, sf_dir):
    """The trainer-scoped shuffle width must be restored before the
    query returns (the search stages and every later query in the
    session run at the session width) — including the pre-existing
    session value, whatever it is."""
    from data_ingestion_task_spark import api
    from data_ingestion_task_spark.plans.ivfpq_plans import (
        ivfpq_trained_topk,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    df = ivfpq_trained_topk(spark, sf_dir)
    assert spark.conf.get(key) == before  # restored at plan-build time
    df.collect()
    assert spark.conf.get(key) == before
    api.release(df)
