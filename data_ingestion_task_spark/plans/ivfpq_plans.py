"""The IVF-PQ family under the driver's correctness gate — the
composition that completes the ANN ladder (exact → PQ → LSH → IVF →
IVF-PQ): the static-codebook ``ann_ivfpq_topk`` and its overscan
recall audit, then the trained lifecycle (``_trained_lifecycle``)
behind the pinned ``ivfpq_trained_topk`` and the corpus-tracking
``ivfpq_scaled_topk`` / ``ivfpq_scaled_probe_topk``.

Why this index is the 100 TB shape (FAISS ``IndexIVFPQ``, the
billion-vector layout the reference's flat ``IndexFlatIP``
— `code/python/Faiss_2_10.py:70-146` — grows into): the corpus stays
distributed AND narrow — inverted lists are ``(centroid_id, id,
m uint8 codes)``, ~8× fewer bytes per shuffled row than IVF's raw
vectors — while only the (√N-sized) centroid set and the tiny PQ
codebooks broadcast. Measured 2.2× faster than IVF at 30× data
(SCALE.md §0b A/B).

Trained lifecycle: the full ``IndexIVFPQ.train()`` → ``add()`` →
``search()`` analogue. The pinning idiom is ``ivf_kmeans_refine``'s:
every trained artifact is DECIMAL-quantized (round-9dp component
sums), so coarse centroids AND PQ codebooks are bit-identical between
the Spark plan and the static DuckDB twin, and the whole search —
probe, ADC shortlist, exact re-rank — stays hash-comparable. Training
reads a DETERMINISTIC hash-sample (`TakeOrderedAndProject`); the only
full-corpus passes are the build's one narrow assign+encode Arrow
stage and the final broadcast-shortlist re-rank — identical scaling to
``ann_ivfpq_topk`` (SCALE.md §0b), with search riding the
broadcast-queries ADC layout. The pinned 1024-row cap buys a frozen
nlist, whose search cost grows ~N (measured 32.0× at 100×, SCALE.md
§0c); the corpus-tracking cap fixes this (VERDICT r9 #2).

Corpus-tracking lifecycle: ``scaled_sample_cap`` = ``seed_mod ·
isqrt(N)`` (floored at the 1024 pin), so the id-residue coarse
seeding yields nlist ≈ √N and trained cells stay √N-sized — the
production lifecycle (retrain with a corpus-derived cap; the
reference rebuilds its FAISS index per corpus,
`faiss_implimentation.py:164-173`) under the same bit-exact gate: the
DuckDB twin recomputes the cap with the exact integer-sqrt idiom
(``s0`` + correction, the ``cmod`` pattern of ``duckdb_ivfpq_sql``)
inside the sample CTE's LIMIT. The extra price over the pinned query
is trainer work, paid only at (re)train time: a sample×nlist BLAS
matmul sweep per coarse Lloyd round (the earlier JVM-expansion
assignment's 32·N interpreted dots measured 419 s of an sf10 run)
plus the sample-bounded PQ trainer. The search side inherits
``ann_ivfpq_topk``'s ~11× at 100× because cells no longer grow with
N. Extra bounded actions: the index-side ``count()`` deriving the cap
and one nlist-row centroid collect per training round.

Recall at the grown nlist (r11 A/B, ``tools/recall_ab.py``, exact
baseline on the 1-in-50 query sample, k=3 / n_probe=2 / overscan=8):
recall@3 scaled vs frozen-trained vs derived = **0.101 / 0.129 /
0.079 at sf1** and **0.058 / 0.067 / 0.047 at sf10**. At fixed
n_probe the searched fraction n_probe/√N falls as the corpus grows,
so the scaled lifecycle gives back 13–22% vs the frozen pin (which
silently pays cells ∝ N instead). ``ivfpq_scaled_probe_topk`` holds
the searched fraction at nlist/16 (``scaled_n_probe``) and measured
recall@3 **0.169 at sf1 / 0.102 at sf10** — +31% / +52% over the
frozen pin at the same candidate budget, at equal wall (same-session
sf10 A/B 840.1 s vs 868.5 s; SCALE.md §0c). ``ivfpq_scaled_topk``
keeps n_probe=2 as the fixed-knob twin that A/B compares against.
"""

from __future__ import annotations

from math import isqrt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import hash64
from ..operators.ivfpq import (
    build_ivfpq_index,
    derive_codebooks,
    duckdb_ivfpq_sql,
    knn_join_ivfpq,
)
from ..operators.knn import train_ivf_codebook
from ..operators.pq_train import (
    collect_codebooks,
    scaled_sample_cap,
    train_pq_codebooks_df,
)
from ._vector_shared import DIM, _D_VNORM, _split
from .registry import query
from .vector_plans import (
    _RECALL_SAMPLE_MOD,
    _d_km_assign,
    _d_km_recompute,
    _recall_audit,
)

_K, _N_PROBE, _OVERSCAN = 3, 2, 8

#: md5-derived deterministic codebooks (no training, no SparkSession)
#: so the oracle below is a STATIC string over the same parquet bytes.
#: Trained codebooks (``train_pq_codebooks``) have better recall and
#: are the library path — ``knn_join_ivfpq`` takes either.
_BOOKS = derive_codebooks(DIM, m=8, n_codes=16)

_ORACLE = f"""
    SELECT qid AS query_id, rank AS rnk, nid AS neighbor_id,
           round(sim, 9) AS sim
    FROM ({duckdb_ivfpq_sql(
        _BOOKS,
        k=_K,
        centroid_mod="isqrt",
        n_probe=_N_PROBE,
        overscan=_OVERSCAN,
        emb_table="embeddings",
    )})
    ORDER BY query_id, rnk
"""


@query("ann_ivfpq_topk", oracle=_ORACLE)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k with IVF coarse pruning + PQ-coded
    inverted lists (FAISS ``IndexIVFPQ`` analogue, ``by_residual=False``
    flavor): √N id-residue centroids → every index vector assigned and
    PQ-encoded in one narrow Arrow pass → each query probes its 2
    nearest cells → ADC-scored shortlist (k·overscan) → exact re-rank
    so surfaced sims are true cosines. Bit-exact against the DuckDB
    reconstruction (``tests/test_ivfpq_oracle.py``). See
    ``operators/ivfpq.knn_join_ivfpq`` for the per-stage shuffle
    analysis."""
    q, x = _split(spark, sf_dir)
    x = x.select("neighbor_id", "embedding")
    n = x.count()
    cent_mod = max(25, n // isqrt(n)) if n else 25
    res = knn_join_ivfpq(
        x,
        q.select("query_id", "embedding"),
        k=_K,
        centroid_mod=cent_mod,
        n_probe=_N_PROBE,
        overscan=_OVERSCAN,
        codebooks=_BOOKS,
        # The query side is the corpus's 1-in-5 split — dimension-table
        # sized at every probed SF (6 MB at sf3), so the ADC stage runs
        # broadcast-queries: candidate rows carry codes only (the wide
        # _qv column was the measured 30x cost center, SCALE.md §0b).
        broadcast_queries=True,
    )
    return res.select(
        "query_id",
        F.col("rank").alias("rnk"),
        "neighbor_id",
        F.round("sim", 9).alias("sim"),
    ).orderBy("query_id", "rnk")


# ---------------------------------------------------------------------------
# Overscan recall audit — the IVF-PQ member of the audit trio
# (ann_recall_audit sweeps LSH bits, ivf_recall_audit sweeps n_probe)
# ---------------------------------------------------------------------------

#: ADC-shortlist widths to sweep (k·overscan candidates re-ranked).
_AUDIT_OVERSCANS = (1, 4, 8)


def _d_ivfpq_branch(o: int) -> str:
    """One overscan setting of the audit as a DuckDB SELECT."""
    return f"""
    SELECT {o} AS overscan,
           (SELECT COUNT(*) FROM q0) AS n_queries,
           CAST((SELECT COUNT(*) FROM pq{o}) AS DOUBLE)
             / (SELECT COUNT(*) FROM q0) AS avg_returned,
           CAST((SELECT COUNT(*) FROM pq{o} p
                 JOIN ex ON ex.query_id = p.qid AND ex.neighbor_id = p.nid)
                AS DOUBLE)
             / ({_K} * (SELECT COUNT(*) FROM q0)) AS recall_at_{_K}
    """


@query(
    "ivfpq_recall_audit",
    oracle=f"""
    WITH q0 AS (
      SELECT vec_id AS query_id, {_D_VNORM} AS v FROM embeddings
      WHERE vec_id % {_RECALL_SAMPLE_MOD} = 0
    ),
    x0 AS (
      SELECT vec_id AS neighbor_id, {_D_VNORM} AS v FROM embeddings
      WHERE vec_id % 5 <> 0
    ),
    ep AS (SELECT q0.query_id, x0.neighbor_id,
                  list_dot_product(q0.v, x0.v) AS sim
           FROM q0 CROSS JOIN x0),
    ex AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rnk
        FROM ep) WHERE rnk <= {_K}
    ),
    {",".join(
        f'''pq{o} AS (SELECT qid, nid FROM ({duckdb_ivfpq_sql(
            _BOOKS, k=_K, centroid_mod="isqrt", n_probe=_N_PROBE,
            overscan=o, emb_table="embeddings",
        )}) WHERE qid % {_RECALL_SAMPLE_MOD} = 0)'''
        for o in _AUDIT_OVERSCANS
    )}
    {" UNION ALL ".join(_d_ivfpq_branch(o) for o in _AUDIT_OVERSCANS)}
    ORDER BY overscan
    """,
)
def ivfpq_recall_audit(
    spark: SparkSession, sf_dir: str, *, sample_mod: int = _RECALL_SAMPLE_MOD
) -> DataFrame:
    """The overscan tuning table for the IVF-PQ path — completes the
    audit trio (LSH sweeps n_bits, IVF sweeps n_probe; IVF-PQ's own
    knob is the ADC shortlist width): for each overscan, recall@3 of
    the re-ranked top-k against the exact broadcast search over the
    same deterministic 1-in-50 query sample, plus the average rows
    actually returned per query (thin cells can return < k).

    Overscan cuts the shortlist BEFORE the exact re-rank, so a wider
    branch's output cannot be derived by filtering a narrower one (the
    shared-prefix trick the IVF audit uses does not apply) — but the
    BUILD is knob-independent, so the inverted lists are built ONCE
    (``build_ivfpq_index``, persisted) and every branch sweeps only
    the probe/ADC/rerank stages: exactly the frozen-index production
    tuning shape. Query filtering after the fact equals querying the
    sample directly because every IVF-PQ stage past the build is
    per-query independent. The 1-in-50 query sample is the LSH/IVF
    audits' (``vector_plans._RECALL_SAMPLE_MOD``), so the three tables
    are directly comparable."""

    def branches(q: DataFrame, x: DataFrame):
        n = x.count()
        cent_mod = max(25, n // isqrt(n)) if n else 25
        idx = build_ivfpq_index(x, centroid_mod=cent_mod, codebooks=_BOOKS)
        lists = idx.lists.persist()  # the shared build runs once for all branches
        idx = idx._replace(lists=lists)
        frames = {
            o: knn_join_ivfpq(
                None, q, k=_K, n_probe=_N_PROBE, overscan=o, index=idx,
                broadcast_queries=True,
            ).select("query_id", "neighbor_id", F.col("rank").alias("rnk"))
            for o in _AUDIT_OVERSCANS
        }
        return frames, [lists]

    return _recall_audit(
        spark, sf_dir, sample_mod, "ivfpq_recall_audit", "overscan", "avg_returned", branches
    )


# ---------------------------------------------------------------------------
# Trained lifecycle: both codebooks trained on a deterministic hash-sample
# ---------------------------------------------------------------------------

_M, _N_CODES = 8, 16
_D_SUB = DIM // _M
# Coarse seeds: sample ids ≡ 1 (mod 32) — nlist ≈ 1024/32 = 32 ≈
# √sample, the ivf_kmeans_refine production guidance (VERDICT r8 #2:
# the old mod-25 seeding gave ~41 centroids, neither √sample nor the
# derived query's √N — an apples-to-nothing recall comparison).
_SEED_MOD = 32
_SAMPLE = 1024  # training-sample cap (the ivf_kmeans_refine idiom)
_ROUNDS = 2  # Lloyd rounds, coarse and PQ trainers


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
    and the corpus-tracking ``ivfpq_scaled_topk`` (LIMIT =
    ``_SCALED_LIMIT``, a scalar subquery reproducing
    ``scaled_sample_cap`` exactly) share every other
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
    probe_rule=None,
) -> DataFrame:
    """Train both codebooks on a ``sample_cap``-row deterministic
    hash-sample, then run the certified probe → ADC → exact-re-rank
    search — the Spark body shared by the pinned ``ivfpq_trained_topk``
    and the corpus-tracking ``ivfpq_scaled_topk``. ``probe_rule``: optional
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
    # Both trainers' exchanges are SAMPLE-bounded (≤ cap rows of
    # dim doubles), so their many Lloyd-round stages are materialized
    # under a sample-byte-derived shuffle width instead of the
    # session's corpus-sized one (guide §2.2; see
    # ``_sample_shuffle_partitions``). The decimal-quantized trainer
    # arithmetic is partitioning-independent BY DESIGN (the module
    # docstrings' bit-reproducibility contract, pinned by
    # ``tests/test_ivf_train.py`` and the DuckDB twins), so the trained
    # artifacts — and every downstream result — are bit-identical; the
    # conf is restored before any corpus-sized search stage runs.
    #
    # Materialize the sample BEFORE narrowing: the corpus-wide
    # orderBy().limit() scan then runs at session width. At the pinned
    # 1024-row cap it plans as a shuffle-free TakeOrderedAndProject,
    # but a scaled cap above spark.sql.execution.topKSortFallbackThreshold
    # (10k by default) already plans the sort-fallback exchange, which
    # would otherwise run corpus-sized at ~1 partition.
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
        cb = train_ivf_codebook(smp, seed_mod=_SEED_MOD, rounds=_ROUNDS)
        # Materializes the persisted last-round centroids under the
        # scoped width; the build's centroid collect, the assignment
        # broadcast and the probe broadcast all read that cache.
        nlist = cb.count()
        # The PQ trainer normalizes the same sample, and Spark serves
        # that from the coarse trainer's persisted input.
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
    # Both codebooks exist, so the coarse trainer's input and earlier
    # rounds are spent. Not sooner: freeing the input before PQ training
    # took that step from 3.2 s to 6.4 s (sf0.1, 4 vCPU).
    *spent, codebook_cache = cb._cached_deps
    for dep in spent:
        dep.unpersist()
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
    # repo caching contract: the sample and the codebook ride out on
    # the result for the caller to release after collecting
    out._cached_deps = [smp, codebook_cache]
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


# ---------------------------------------------------------------------------
# Corpus-tracking lifecycle: the sample cap (and optionally n_probe) grows
# with the index
# ---------------------------------------------------------------------------

#: The oracle's LIMIT expression: ``GREATEST(floor, seed_mod·isqrt(n))``
#: over the index side, with isqrt as floor(sqrt(double)) plus the
#: exact ±1 correction — bit-identical to ``scaled_sample_cap`` for
#: every n below 2^52 (the double-precision exactness bound; corpus
#: row counts live far below it).
_SCALED_LIMIT = f"""(
    SELECT GREATEST({_SAMPLE}, {_SEED_MOD} * (s0 + CASE
               WHEN (s0 + 1) * (s0 + 1) <= n THEN 1
               WHEN s0 * s0 > n THEN -1
               ELSE 0 END))
    FROM (SELECT COUNT(*) AS n,
                 CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS s0
          FROM xn))"""


@query("ivfpq_scaled_topk", oracle=_trained_oracle(_SCALED_LIMIT))
def ivfpq_scaled_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full trained IVF-PQ lifecycle with the sample cap tracking
    corpus size (nlist ≈ √N): count the index side, derive
    ``scaled_sample_cap``, train both codebooks on that hash-sample,
    search with the certified probe → ADC → exact-re-rank pipeline.
    The lifecycle body is shared with the pinned
    ``ivfpq_trained_topk`` (``_trained_lifecycle``); the one delta is
    the cap derivation."""
    _, x = _split(spark, sf_dir)
    cap = scaled_sample_cap(x.count(), seed_mod=_SEED_MOD, floor=_SAMPLE)
    return _trained_lifecycle(spark, sf_dir, cap)


#: Searched-fraction divisor for the corpus-tracking probe rule:
#: n_probe = max(_N_PROBE, nlist // 16) holds the searched cell
#: fraction at ~1/16 as nlist ≈ √N grows — the §module-docstring
#: recall give-back (13–22% at fixed n_probe=2) is what this buys
#: back, at candidate cost still √N-bounded per extra probe.
_PROBE_DIV = 16

#: The oracle's probe count as a scalar subquery over the TRAINED
#: centroid CTE (kcn) — the same GREATEST(floor, nlist // div) the
#: Spark side computes from the persisted codebook's row count, so
#: both engines probe the identical cell set.
_NPV_TAIL = f""",
npv AS (SELECT GREATEST({_N_PROBE}, COUNT(*) // {_PROBE_DIV}) AS np
        FROM kcn)"""


def scaled_n_probe(nlist: int) -> int:
    """The corpus-tracking probe rule: hold the searched fraction at
    ~1/``_PROBE_DIV`` of the (√N-sized) cell count, floored at the
    registered pin."""
    return max(_N_PROBE, nlist // _PROBE_DIV)


@query(
    "ivfpq_scaled_probe_topk",
    oracle=_trained_oracle(
        _SCALED_LIMIT, n_probe="(SELECT np FROM npv)", extra_ctes_tail=_NPV_TAIL
    ),
)
def ivfpq_scaled_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ivfpq_scaled_topk`` with the PROBE side also corpus-tracking:
    n_probe = max(2, nlist // 16) (``scaled_n_probe``), turning the
    module docstring's production guidance — scale n_probe as nlist
    grows or give back recall — into a certified query instead of
    prose. At the driver's sf0.01 both rules floor to n_probe=2 (tiny
    nlist), so the gate certifies the DERIVATION machinery; the recall
    effect lives at sf1/sf10 (`tools/recall_ab.py`, SCALE.md §0c).
    Oracle parity: the probe count is a scalar subquery over the
    trained-centroid CTE, bit-equal to the Spark side's
    ``codebook.count() // 16`` because the codebook itself is
    parity-pinned (``tests/test_ivf_train.py``)."""
    _, x = _split(spark, sf_dir)
    cap = scaled_sample_cap(x.count(), seed_mod=_SEED_MOD, floor=_SAMPLE)
    return _trained_lifecycle(spark, sf_dir, cap, probe_rule=scaled_n_probe)
