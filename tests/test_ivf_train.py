"""The one IVF codebook trainer (knn.train_ivf_codebook): its codebook
must be BIT-identical to the DuckDB Lloyd CTEs the oracles use
(``_d_km_assign``/``_d_km_recompute`` from id-residue seeds) on the
same embeddings — the pin for the lossless-margin BLAS assignment and
the DECIMAL-quantized recompute — and its cached handles must release
cleanly."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_task_spark import api
from data_ingestion_task_spark.operators.knn import train_ivf_codebook
from data_ingestion_task_spark.plans._vector_shared import _D_VNORM
from data_ingestion_task_spark.plans.vector_plans import _d_km_assign, _d_km_recompute
from data_ingestion_task_spark.sources.tables import load_table

_SEED_MOD, _ROUNDS = 32, 2


def _duckdb_codebook(duck) -> dict[int, tuple[float, ...]]:
    rounds = ",\n".join(
        f"a{r} AS ({_d_km_assign('xs', f'c{r - 1}')}),\n"
        f"c{r} AS ({_d_km_recompute(f'a{r}')})"
        for r in range(1, _ROUNDS + 1)
    )
    sql = f"""
    WITH xs AS (SELECT vec_id AS neighbor_id, {_D_VNORM} AS v FROM embeddings),
    c0 AS (SELECT neighbor_id AS centroid_id, v AS cv FROM xs
           WHERE neighbor_id % {_SEED_MOD} = 1),
    {rounds}
    SELECT centroid_id, cv FROM c{_ROUNDS}
    """
    return {cid: tuple(cv) for cid, cv in duck.execute(sql).fetchall()}


def test_trainer_matches_duckdb_lloyd_bitwise(spark, sf_dir, duck):
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    cb = train_ivf_codebook(emb, seed_mod=_SEED_MOD, rounds=_ROUNDS)
    got = {r["centroid_id"]: tuple(r["embedding"]) for r in cb.collect()}
    assert got == _duckdb_codebook(duck)  # same ids, same float64 components
    assert len(got) >= 4
    assert len(cb._cached_deps) == 1 + _ROUNDS  # the input + one frame per round
    api.release(cb)
    assert not any(d.storageLevel.useMemory for d in cb._cached_deps)
