"""Trained-codebook IVF-PQ under the oracle gate — closes the gap
between the certified static-codebook query (``ann_ivfpq_topk``:
id-residue centroids + md5-derived PQ codebooks) and the production
recommendation (train both codebooks: ``train_ivf_codebook`` +
a PQ trainer), which until round 8 were library-only.

The FAISS analogue is the full ``IndexIVFPQ.train()`` → ``add()`` →
``search()`` lifecycle (the reference's flat index,
`code/python/Faiss_2_10.py:70-146`, never trains anything); the
pinning idiom is ``ivf_kmeans_refine``'s: every trained artifact is
DECIMAL-quantized (round-9dp component sums), so coarse centroids AND
PQ codebooks are bit-identical between the Spark plan and the static
DuckDB twin, and the whole search — probe, ADC shortlist, exact
re-rank — stays hash-comparable.

Production shape (100 TB): training reads a DETERMINISTIC ≤1024-row
hash-sample (`TakeOrderedAndProject`), so trainer cost is O(1) in N;
the only full-corpus passes are the build's one narrow
assign+encode Arrow stage and the final broadcast-shortlist re-rank —
identical scaling to the certified ``ann_ivfpq_topk``
(SCALE.md §0b), with search riding the broadcast-queries ADC layout.
The O(1) trainer buys a frozen nlist, whose search cost grows ~N
(measured 32.0× at 100×, SCALE.md §0c) — the corpus-tracking cap that
fixes this is ``plans/ivfpq_scaled_plans.py`` (VERDICT r9 #2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import hash64
from ..operators.ivfpq import duckdb_ivfpq_sql, knn_join_ivfpq
from ..operators.knn import train_ivf_codebook
from ..operators.pq_train import collect_codebooks, train_pq_codebooks_df
from ._vector_shared import DIM, _split
from .registry import query
from .vector_plans import _d_km_assign, _d_km_recompute

_K, _N_PROBE, _OVERSCAN = 3, 2, 8
_M, _N_CODES = 8, 16
_D_SUB = DIM // _M
# Coarse seeds: sample ids ≡ 1 (mod 32) — nlist ≈ 1024/32 = 32 ≈
# √sample, the ivf_kmeans_refine production guidance (VERDICT r8 #2:
# the old mod-25 seeding gave ~41 centroids, neither √sample nor the
# derived query's √N — an apples-to-nothing recall comparison).
_SEED_MOD = 32
_SAMPLE = 1024  # training-sample cap (the ivf_kmeans_refine idiom)
_ROUNDS = 2  # Lloyd rounds, both trainers


def _sample_shuffle_partitions(cap: int, dim: int) -> int:
    """Initial shuffle-partition count for the SAMPLE-bounded trainer
    stages, derived from the sample's bytes (guide §2.2: size shuffle
    partitions by data volume, never by a constant tuned to one
    deployment). The trainer's widest exchange carries ≤ cap rows of
    ~(dim·8B + overhead); target ~64 MB per partition — cap=1024 →
    1 partition, cap=32·√(10¹⁰)=3.2M → ~29. Without this, the
    trainers' ~10 KB exchanges inherit the session's corpus-sized
    shuffle width and AQE's parallelism-first coalescing still leaves
    ~cores micro-tasks per stage: measured 10.7s of the pinned
    lifecycle's 15.3s steady-state wall at sf0.1 (two trainers on a
    1024-row persisted sample — scheduling, not compute)."""
    from math import ceil

    row_bytes = dim * 8 + 64
    return max(1, ceil(cap * row_bytes / (64 << 20)))


def _d_pq_round(r: int, prev: str) -> str:
    """One PQ Lloyd round as DuckDB CTEs: assign each (id, subspace)
    slice to its argmin-``‖c‖²−2x·c`` code (ties to the lowest code),
    then recompute each code's centroid as the DECIMAL-quantized plain
    mean, keeping the previous centroid for empty clusters — the exact
    twin of one ``train_pq_codebooks_df`` iteration."""
    return f"""
    pa{r} AS (SELECT id, j, sub, code FROM (
        SELECT s.id, s.j, s.sub, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.id, s.j
                  ORDER BY list_dot_product(c.cv, c.cv)
                           - 2 * list_dot_product(s.sub, c.cv) ASC,
                           c.code ASC) AS rn
        FROM psub s JOIN {prev} c USING (j)) WHERE rn = 1),
    pm{r} AS (SELECT j, code, list(CAST(s AS DOUBLE) / c ORDER BY pos) AS m
        FROM (
          SELECT j, code, i AS pos,
                 SUM(CAST(round(sub[i], 9) AS DECIMAL(12,9))) AS s,
                 COUNT(*) AS c
          FROM pa{r} CROSS JOIN range(1, {_D_SUB + 1}) t(i)
          GROUP BY j, code, i) GROUP BY j, code),
    pc{r} AS (SELECT c.j, c.code, COALESCE(m.m, c.cv) AS cv
        FROM {prev} c LEFT JOIN pm{r} m ON m.j = c.j AND m.code = c.code)"""


def _train_ctes(smp_limit_sql: str) -> str:
    """The full trainer CTE chain (hash-ordered sample → 2-round
    coarse k-means → 2-round per-subspace PQ Lloyd), parameterized on
    the sample LIMIT expression so the pinned query (``LIMIT 1024``)
    and the corpus-tracking ``ivfpq_scaled_topk``
    (``plans/ivfpq_scaled_plans.py``, LIMIT = a scalar subquery
    reproducing ``scaled_sample_cap`` exactly) share every other
    CTE."""
    return f"""
smph AS (SELECT id, v,
           ('0x' || substr(md5('ivfpqsmp:' || CAST(id AS VARCHAR)), 1, 15))::BIGINT AS h
         FROM xn),
smp AS (SELECT id AS neighbor_id, v FROM smph ORDER BY h, id LIMIT {smp_limit_sql}),
kc0 AS (SELECT neighbor_id AS centroid_id, v AS cv FROM smp
        WHERE neighbor_id % {_SEED_MOD} = 1),
ka1 AS ({_d_km_assign("smp", "kc0")}),
kc1 AS ({_d_km_recompute("ka1")}),
ka2 AS ({_d_km_assign("smp", "kc1")}),
kc2 AS ({_d_km_recompute("ka2")}),
kcn AS (SELECT centroid_id,
          CASE WHEN list_dot_product(cv, cv) = 0 THEN cv
               ELSE list_transform(cv, e -> e / sqrt(list_dot_product(cv, cv)))
          END AS cv
        FROM kc2),
psub AS (SELECT neighbor_id AS id, j,
                v[j*{_D_SUB}+1 : j*{_D_SUB}+{_D_SUB}] AS sub
         FROM smp CROSS JOIN (SELECT unnest(generate_series(0, {_M - 1})) AS j)),
phead AS (SELECT id, ROW_NUMBER() OVER (ORDER BY id) - 1 AS code
          FROM (SELECT neighbor_id AS id FROM smp
                ORDER BY neighbor_id LIMIT {_N_CODES})),
pc0 AS (SELECT s.j, h.code, s.sub AS cv FROM psub s JOIN phead h USING (id)),
{",".join(_d_pq_round(r, f"pc{r - 1}") for r in range(1, _ROUNDS + 1))}"""


def _trained_oracle(
    smp_limit_sql: str,
    n_probe: int | str = _N_PROBE,
    extra_ctes_tail: str = "",
) -> str:
    """The full trained-lifecycle oracle for a given sample LIMIT.
    ``n_probe`` may be a scalar-subquery string (the corpus-tracking
    probe rule — it lands in the single ``rn <= {{n_probe}}`` probe
    filter); ``extra_ctes_tail`` appends CTEs after the training chain
    (they may reference ``kcn``/``pc{{rounds}}``)."""
    return f"""
    SELECT qid AS query_id, rank AS rnk, nid AS neighbor_id,
           round(sim, 9) AS sim
    FROM ({duckdb_ivfpq_sql(
        None,
        k=_K,
        n_probe=n_probe,
        overscan=_OVERSCAN,
        emb_table="embeddings",
        extra_ctes=_train_ctes(smp_limit_sql) + extra_ctes_tail,
        books_sql=f"SELECT j, code, cv FROM pc{_ROUNDS}",
        cent_sql="SELECT centroid_id AS cid, cv FROM kcn",
        pq_shape=(_M, _D_SUB),
    )})
    ORDER BY query_id, rnk
"""


def _trained_lifecycle(
    spark: SparkSession,
    sf_dir: str,
    sample_cap: int,
    coarse_trainer=train_ivf_codebook,
    probe_rule=None,
) -> DataFrame:
    """Train both codebooks on a ``sample_cap``-row deterministic
    hash-sample, then run the certified probe → ADC → exact-re-rank
    search — the Spark body shared by the pinned ``ivfpq_trained_topk``
    and the corpus-tracking ``ivfpq_scaled_topk``. ``coarse_trainer``
    is the k-means entry: the collect-free JVM trainer for the pinned
    sample, the BLAS-assignment ``train_ivf_codebook_blas`` for
    corpus-tracking caps (assignment-identical — see
    ``operators/ivf_train.py``); both are drop-in because the trained
    artifact is bit-identical. ``probe_rule``: optional
    ``nlist -> n_probe`` callable (the corpus-tracking probe scaling,
    ``ivfpq_scaled_probe_topk``); it costs one count() on the
    PERSISTED nlist-row codebook — metadata-grade, same class as the
    cap derivation."""
    q, x = _split(spark, sf_dir)
    x = x.select("neighbor_id", "embedding")
    h = hash64(F.concat(F.lit("ivfpqsmp:"), F.col("neighbor_id").cast("string")))
    smp = (
        x.orderBy(h.asc(), F.col("neighbor_id").asc())
        .limit(sample_cap)
        .persist()  # scanned by both trainers' rounds + init collect
    )
    # The trained codebook is nlist-sized (~sample/32 rows) but its
    # LINEAGE is the whole 2-round Lloyd chain, and downstream it is
    # re-evaluated by the build's centroid collect, the assignment
    # broadcast, and the probe broadcast — persist the tiny frame so
    # the chain runs once (bit-identical results, measured ~2× on the
    # registered query's wall at sf0.1).
    #
    # Both trainers' exchanges are SAMPLE-bounded (≤ cap rows of
    # dim doubles), so their many Lloyd-round stages are materialized
    # under a sample-byte-derived shuffle width instead of the
    # session's corpus-sized one (guide §2.2; see
    # ``_sample_shuffle_partitions``). The decimal-quantized trainer
    # arithmetic is partitioning-independent BY DESIGN (the module
    # docstrings' bit-reproducibility contract, pinned by
    # ``tests/test_ivf_train.py`` / the DuckDB twins), so the trained
    # artifacts — and every downstream result — are bit-identical; the
    # conf is restored before any corpus-sized search stage runs.
    #
    # Materialize the sample BEFORE narrowing: the corpus-wide
    # orderBy().limit() scan then runs at session width. At the pinned
    # 1024-row cap it plans as a shuffle-free TakeOrderedAndProject,
    # but a scaled cap above spark.sql.execution.topKSortFallbackThreshold
    # (10k by default) already plans the sort-fallback exchange, which
    # would otherwise run corpus-sized at ~1 partition. And
    # tools/profile_trained.py — which materializes the sample before
    # narrowing — mirrors the executed plan.
    smp.count()
    # NOTE: spark.conf.set mutates the SESSION — any query executing
    # concurrently on this SparkSession would plan its shuffles at the
    # narrowed width. The bench/driver/tests all run queries serially,
    # which this relies on; for concurrent use, scope the width
    # per-stage (repartition the trainer inputs) instead (ADVICE r12
    # #2).
    _sp_key = "spark.sql.shuffle.partitions"
    _sp_old = spark.conf.get(_sp_key)
    spark.conf.set(
        _sp_key, str(_sample_shuffle_partitions(sample_cap, DIM))
    )
    try:
        cb = coarse_trainer(smp, seed_mod=_SEED_MOD, rounds=_ROUNDS).persist()
        nlist = cb.count()  # forces the coarse chain under the scoped width
        books = collect_codebooks(
            train_pq_codebooks_df(
                smp, dim=DIM, m=_M, n_codes=_N_CODES, rounds=_ROUNDS
            ),
            _M,
            _N_CODES,
            _D_SUB,
        )
    finally:
        spark.conf.set(_sp_key, _sp_old)
    n_probe = _N_PROBE if probe_rule is None else probe_rule(nlist)
    res = knn_join_ivfpq(
        x,
        q.select("query_id", "embedding"),
        k=_K,
        n_probe=n_probe,
        overscan=_OVERSCAN,
        codebook=cb,
        codebooks=books,
        # Same judgment call as ann_ivfpq_topk: the 1-in-5 query split
        # is dimension-table-sized at every probed SF, so the ADC
        # stage runs codes-only candidate rows (SCALE.md §0b).
        broadcast_queries=True,
    )
    out = res.select(
        "query_id",
        F.col("rank").alias("rnk"),
        "neighbor_id",
        F.round("sim", 9).alias("sim"),
    ).orderBy("query_id", "rnk")
    # repo caching contract: the persisted training inputs ride out on
    # the result for the caller to release after collecting (plus any
    # per-round frames a BLAS trainer persisted)
    out._cached_deps = [smp, cb, *getattr(cb, "_cached_deps", [])]
    return out


@query("ivfpq_trained_topk", oracle=_trained_oracle(str(_SAMPLE)))
def ivfpq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search with BOTH codebooks trained (the production
    recommendation the static-codebook ``ann_ivfpq_topk`` stands in
    for): a deterministic ≤1024-row hash-sample (``_SAMPLE``) feeds
    ``train_ivf_codebook`` (2 spherical Lloyd rounds, seeds =
    sample ids ≡ 1 mod 32 → nlist ≈ √sample) and ``train_pq_codebooks_df``
    (2 Euclidean Lloyd rounds per subspace, init = the
    sample's first 16 ids); the trained artifacts then drive
    the same probe → ADC → exact-re-rank pipeline. Every trained sum
    is DECIMAL-quantized, so the DuckDB twin reconstructs both
    codebooks bit-exactly and the gate checks the full lifecycle, not
    just the search. The FIXED cap freezes nlist ≈ 32 as the corpus
    grows — ``ivfpq_scaled_topk`` is the corpus-tracking variant
    (VERDICT r9 #2); this query stays pinned for hash stability."""
    return _trained_lifecycle(spark, sf_dir, _SAMPLE)
