"""kNN / similarity-search operators over ``array<float>`` embedding
columns — the engine's signature feature (SURVEY §2.6).

Reference behavior: FAISS ``IndexFlatIP`` after L2-normalize (cosine)
with ``index.search(queries, k)`` (`code/python/Faiss_2_10.py:70-146`,
`code/python/Neww_Fai.py:339-340`). Spark-first re-expression:

- **Exact path** (index side fits in a broadcast, ≲1M rows): broadcast
  the index, cross-join, window top-k. One shuffle (the window's
  partition by query id); the join itself is shuffle-free.
- **Scale path** (100 TB): deterministic random-hyperplane LSH —
  signature computed per row (narrow), equi-join on bucket (hash
  shuffle on a short key instead of an all-pairs product), exact
  re-rank within buckets. Hyperplanes are derived from md5 so any
  engine (and the DuckDB oracle) regenerates them bit-identically.

All arithmetic promotes float→double elementwise and reduces
sequentially, making scores bitwise-reproducible across engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import dot, l2_normalize

#: Default ceiling on index-side rows for the broadcast/exact path.
#: Memory math: 1M rows x 384-dim float64 ≈ 3 GB materialized on the
#: driver and each executor — the practical broadcast ceiling. Beyond
#: this the exact path is the classic driver-OOM scale killer; callers
#: hit :class:`BroadcastIndexTooLarge` instead and route to
#: :func:`knn_join_lsh`/:func:`knn_join_ivf` (or use :func:`knn_topk`,
#: which routes automatically).
DEFAULT_MAX_INDEX_ROWS = 1_000_000


class BroadcastIndexTooLarge(RuntimeError):
    """Index side exceeds the broadcast cap for exact kNN."""

    def __init__(self, n_seen: int, cap: int):
        super().__init__(
            f"exact-kNN index side exceeds the broadcast cap ({n_seen} > {cap} rows): "
            "a driver collect at this size is the 100-TB scale killer. Use "
            "knn_join_lsh/knn_join_ivf, or knn_topk(...) which routes by size, "
            "or raise max_index_rows explicitly if the cluster can hold it."
        )
        self.n_seen = n_seen
        self.cap = cap


def require_integral_ids(op_name: str, *pairs: tuple[DataFrame, str]) -> None:
    """Raise TypeError unless each (df, col) id column is an integral
    type — the numpy-side contract of every broadcast-index path (a
    float/decimal id would be silently truncated to int64)."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    for df_, col_ in pairs:
        dt = df_.schema[col_].dataType
        if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
            raise TypeError(
                f"{op_name} requires integral id columns; "
                f"{col_} is {dt.simpleString()} — hash or index string ids first"
            )


def hyperplane(bit: int, dim: int, salt: str = "lsh") -> list[float]:
    """Deterministic ±1 hyperplane: component i is +1 iff the md5-hash
    of ``{salt}:{bit}:{i}`` is even — reproducible in any engine."""
    return [
        1.0 if int(hashlib.md5(f"{salt}:{bit}:{i}".encode()).hexdigest()[:15], 16) % 2 == 0
        else -1.0
        for i in range(dim)
    ]


def lsh_signature(vec: Column, n_bits: int, dim: int, salt: str = "lsh") -> Column:
    """Bit-string bucket id: bit j = (vec · hyperplane_j) > 0."""
    bits = []
    for j in range(n_bits):
        hp = F.array(*[F.lit(v) for v in hyperplane(j, dim, salt)])
        bits.append(F.when(dot(vec, hp) > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def normalize_embeddings(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Pre-normalize once so cosine reduces to a dot product in the
    join (the reference normalizes before indexing, not per query)."""
    return df.withColumn(vec_col, l2_normalize(F.col(vec_col)))


def candidate_pairs_vectorized(
    index_df: DataFrame,
    query_df: DataFrame,
    query_id: str,
    index_id: str,
    vec_col: str = "embedding",
    k: int | None = None,
    threshold: float | None = None,
    margin: float = 1e-6,
    upper_triangle: bool = False,
    metric: str = "cosine",
    max_index_rows: int = DEFAULT_MAX_INDEX_ROWS,
) -> DataFrame:
    """Numpy-prefiltered candidate generation for brute-force cosine
    search: the (broadcast-sized) index becomes one float64 matrix on
    every executor; each Arrow batch of queries does ONE BLAS matmul
    against it and emits only pairs that can possibly reach the final
    answer (top-k with a safety margin, or above threshold−margin).

    The caller re-scores candidates with the exact JVM-side sequential
    dot product, so results stay bit-identical to the pure-SQL plan —
    numpy only decides WHICH pairs get scored, never the score. The
    margin (1e-6 ≫ the ~1e-14 float64 reduction-order wobble) makes
    the prefilter provably lossless.

    Scale: this is the classic broadcast-index pattern (the reference
    holds the whole FAISS index per GPU the same way,
    faiss_implimentation.py:164-173); beyond broadcast size use
    :func:`knn_join_lsh`.
    """
    import numpy as np
    # Contract: ids ride through numpy as int64 and the output schema is
    # `long, long` — non-integral id columns would be silently corrupted.
    require_integral_ids(
        "candidate_pairs_vectorized", (index_df, index_id), (query_df, query_id)
    )

    # Size gate: materialize through a limit of cap+1 so overflow is
    # detected in the SAME job (no extra count() pass); below the cap
    # the limit is a no-op and results are unchanged. toArrow() keeps
    # the driver transfer in Arrow batches — at the 1M-row band cap the
    # row-pickle collect() path took 15.5s vs 3.0s for this one (the
    # float32→float64 widening is the identical IEEE promotion either
    # way, so the broadcast matrix is bit-identical).
    tbl = index_df.select(index_id, vec_col).limit(max_index_rows + 1).toArrow()
    n_seen = tbl.num_rows
    if n_seen > max_index_rows:
        raise BroadcastIndexTooLarge(n_seen, max_index_rows)
    if n_seen == 0:
        # An empty index legitimately has zero candidates; without this
        # the broadcast matrix is 0-d and the executor-side prefilter
        # dies on a cryptic numpy AxisError (the exact-band twin of the
        # knn_join_pq empty-index guard).
        return (
            query_df.sparkSession.createDataFrame(
                [], f"{query_id} long, {index_id} long"
            )
        )
    id_col = tbl.column(0).combine_chunks()
    vec_arr = tbl.column(1).combine_chunks()
    flat = vec_arr.flatten()  # in-window values only (unlike .values on slices)
    if id_col.null_count or vec_arr.null_count or flat.null_count:
        raise ValueError(
            "candidate_pairs_vectorized: null ids, null embeddings, or null "
            "embedding components in the index side — filter or impute first"
        )
    widths = np.diff(vec_arr.offsets.to_numpy())
    if widths.size and (widths != widths[0]).any():
        raise ValueError(
            "candidate_pairs_vectorized: ragged embedding widths in the index "
            f"side (saw lengths {sorted(set(widths.tolist()))[:4]}...) — all "
            "vectors must share one dimension"
        )
    if widths.size and widths[0] == 0:
        raise ValueError(
            "candidate_pairs_vectorized: zero-dimension embeddings in the "
            "index side — nothing to score"
        )
    ids = id_col.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    mat = (
        flat.to_numpy(zero_copy_only=False)
        .astype(np.float64, copy=False)
        .reshape(n_seen, -1)
    )
    bc = query_df.sparkSession.sparkContext.broadcast((ids, mat))

    def gen(batches):
        import numpy as np
        import pandas as pd

        bids, bmat = bc.value
        xsq = (bmat * bmat).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qm = np.array(list(pdf[vec_col]), dtype=np.float64)
            if metric == "l2":
                # rank by squared distance: ||x||² − 2·q·x (+‖q‖² const);
                # negate so "larger is better" like cosine
                sims = -(xsq[None, :] - 2.0 * (qm @ bmat.T))
            else:
                sims = qm @ bmat.T
            qids = pdf[query_id].to_numpy()
            out_q, out_n = [], []
            for i in range(sims.shape[0]):
                row = sims[i]
                mask = np.ones(row.size, dtype=bool)
                if threshold is not None:
                    mask &= row > (threshold - margin)
                if k is not None and row.size > k:
                    kth = np.partition(row, row.size - k)[row.size - k]
                    mask &= row >= (kth - margin)
                idx = np.nonzero(mask)[0]
                if upper_triangle:
                    idx = idx[bids[idx] > qids[i]]
                out_q.append(np.full(idx.size, qids[i], dtype=np.int64))
                out_n.append(bids[idx])
            yield pd.DataFrame(
                {
                    query_id: np.concatenate(out_q) if out_q else np.array([], dtype=np.int64),
                    index_id: np.concatenate(out_n) if out_n else np.array([], dtype=np.int64),
                }
            )

    return query_df.select(query_id, vec_col).mapInPandas(
        gen, schema=f"{query_id} long, {index_id} long"
    )


def knn_join_exact(
    index_df: DataFrame,
    query_df: DataFrame,
    k: int,
    query_id: str = "query_id",
    index_id: str = "neighbor_id",
    vec_col: str = "embedding",
    prenormalized: bool = False,
    vectorized: bool = True,
    max_index_rows: int = DEFAULT_MAX_INDEX_ROWS,
) -> DataFrame:
    """Brute-force cosine top-k.

    Output: (query_id, rank, neighbor_id, sim). Ties broken by
    neighbor id → fully deterministic. The index side is broadcast —
    at cluster scale this is exact-kNN for dimension-table-sized
    corpora; beyond ``max_index_rows`` it raises
    :class:`BroadcastIndexTooLarge` instead of OOMing the driver —
    route to :func:`knn_join_lsh` or use :func:`knn_topk`.

    ``vectorized=True`` (default) prefilters candidates with one BLAS
    matmul per Arrow batch (see :func:`candidate_pairs_vectorized`),
    then re-scores the ~k survivors per query with the exact JVM dot
    product — same results, O(N·k) instead of O(N·M) rows through the
    window. ``vectorized=False`` keeps the pure-SQL all-pairs plan.
    """
    q = query_df if prenormalized else normalize_embeddings(query_df, vec_col)
    x = index_df if prenormalized else normalize_embeddings(index_df, vec_col)
    q = q.select(F.col(query_id), F.col(vec_col).alias("_qv"))
    x = x.select(F.col(index_id), F.col(vec_col).alias("_xv"))
    if vectorized:
        cand = candidate_pairs_vectorized(
            x.withColumnRenamed("_xv", vec_col),
            q.withColumnRenamed("_qv", vec_col),
            query_id=query_id,
            index_id=index_id,
            vec_col=vec_col,
            k=k,
            max_index_rows=max_index_rows,
        )
        pairs = cand.join(q, query_id).join(F.broadcast(x), index_id)
    else:
        # Same size gate as the vectorized path (the pure-SQL branch
        # JVM-broadcasts x): one bounded count refuses past the cap
        # instead of OOMing the broadcast build.
        n_seen = x.limit(max_index_rows + 1).count()
        if n_seen > max_index_rows:
            raise BroadcastIndexTooLarge(n_seen, max_index_rows)
        pairs = q.join(F.broadcast(x), F.lit(True))
    sim = dot(F.col("_qv"), F.col("_xv"))
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(index_id))
    return (
        pairs.select(query_id, index_id, sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def knn_topk(
    index_df: DataFrame,
    query_df: DataFrame,
    k: int,
    dim: int,
    query_id: str = "query_id",
    index_id: str = "neighbor_id",
    vec_col: str = "embedding",
    max_index_rows: int = DEFAULT_MAX_INDEX_ROWS,
    n_bits: int = 8,
    pq_overscan: int | None = 16,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Size-routed top-k: exact broadcast brute force while the index
    side fits the broadcast cap, PQ-compressed broadcast (codes are
    ~32× smaller, exact re-rank of the overscanned candidates) up to
    32× the cap, deterministic-LSH approximate search above that.
    This is the operator callers should default to — it makes the
    scale decision explicit instead of trusting every call site to
    know the index cardinality (VERDICT r2 perf finding).

    Semantics: below the cap, results are identical to
    :func:`knn_join_exact`; in the PQ band, sims are true cosines but
    candidate choice is approximate (recall tuned by ``pq_overscan``;
    pass ``pq_overscan=None`` to skip the band); above that,
    identical to :func:`knn_join_lsh` (approximate — recall tuned by
    ``n_bits``). Above the exact cap, callers with a TRAINED coarse
    codebook (a frozen corpus searched repeatedly) pass it as
    ``codebook=`` (``(centroid_id, vec)``, e.g.
    ``train_ivf_codebook``) and the search routes to
    :func:`.ivfpq.knn_join_ivfpq` instead — its inverted lists ship
    PQ codes (m smallints) through the cell shuffle instead of LSH's
    raw dim-double vectors (~8× narrower at 64-dim), the win that
    prices at cluster byte-volume rather than local wall (measured
    sf3 A/B in SCALE.md §"Queued for round 8": 2.5× LSH-default
    recall at the facade's own defaults; recall-matched LSH is
    wall-competitive only on local[32]). An explicit codebook takes
    precedence over the PQ band (an explicitly supplied trained
    artifact is never silently dropped — ADVICE r8 #2); BELOW the
    exact cap it is deliberately unused, because exact results
    dominate any ANN route and demoting an under-cap index would be
    the surprise. The facade keeps LSH as its codebook-free default,
    and falls through to LSH when ``dim % 8 != 0`` (the PQ encoder's
    subspace constraint). Routing is on caller intent — supplying a
    codebook says "frozen corpus, train-once/search-many" — not on a
    local wall-clock win.

    The routing count would re-execute a DERIVED index pipeline that
    the chosen path then executes again (for an expensive encode stage
    that doubling dominates), so the index side is persisted around the
    decision and the cache handle is exposed on the result as
    ``_cached_deps`` for the caller to release after collecting (the
    repo-wide caching contract) — both the exact path's broadcast join
    and the LSH path's bucket join re-read the index at action time.
    """
    idx = index_df.persist()
    deps = [idx]
    try:
        n = idx.count()
        out = _knn_topk_dispatch(
            idx, query_df, k, n, dim, deps,
            query_id=query_id, index_id=index_id, vec_col=vec_col,
            max_index_rows=max_index_rows, n_bits=n_bits,
            pq_overscan=pq_overscan, codebook=codebook,
        )
    except Exception:
        # Nothing escapes with the cache handles on failure — release
        # them here or repeated failing calls pin chunk-embedding
        # frames in executor storage until eviction (code-review r9).
        for d in deps:
            d.unpersist()
        raise
    out._cached_deps = deps
    return out


def _knn_topk_dispatch(
    idx: DataFrame,
    query_df: DataFrame,
    k: int,
    n: int,
    dim: int,
    deps: list,
    *,
    query_id: str,
    index_id: str,
    vec_col: str,
    max_index_rows: int,
    n_bits: int,
    pq_overscan: int | None,
    codebook: DataFrame | None,
) -> DataFrame:
    """The size-routed band dispatch for :func:`knn_topk`; any frame it
    persists must be appended to ``deps`` (the caller releases them on
    failure and exposes them as ``_cached_deps`` on success)."""
    if n <= max_index_rows:
        out = knn_join_exact(
            idx, query_df, k,
            query_id=query_id, index_id=index_id, vec_col=vec_col,
            max_index_rows=max_index_rows,
        )
    # Codebook route FIRST: an explicitly supplied trained artifact is
    # never silently dropped in favor of the PQ band (ADVICE r8 #2).
    # n >= 16: knn_join_ivfpq trains PQ codebooks internally, and the
    # smallest codebook is 16 codes — a sub-16-row index must keep
    # falling through to LSH instead of crashing in training, the same
    # guard the PQ band carries (code-review r8 catch).
    elif codebook is not None and dim % 8 == 0 and n >= 16:
        from .ivfpq import knn_join_ivfpq  # deferred: ivfpq imports this module

        # The routing count below would re-execute a derived QUERY
        # pipeline that the chosen path executes again (twice more
        # under broadcast_queries, whose toArrow collect is its own
        # action) — persist the query side around the decision and
        # expose the handle, the same double-execution guard the index
        # side gets above (ADVICE r8 #1).
        qdf = query_df.persist()
        deps.append(qdf)
        # Query-matrix broadcast is the measured 30× win for the ADC
        # stage (candidate rows carry codes only — SCALE.md §0b), but
        # it collects the query side to the driver, so it is gated on
        # the query matrix staying dimension-table-sized: ≤ 64 MiB of
        # float64 (the one extra count rides the smaller side; both
        # layouts are bit-identical, test-asserted, so the gate is a
        # pure performance decision).
        nq = qdf.count()
        out = knn_join_ivfpq(
            idx, qdf, k, codebook=codebook,
            broadcast_queries=nq * dim * 8 <= (64 << 20),
            query_id=query_id, index_id=index_id, vec_col=vec_col,
        )
    elif (
        pq_overscan is not None
        and n <= max_index_rows * 32
        and dim % 8 == 0
        # The band's smallest codebook is 16 codes/subspace; PQ
        # training raises on a sample smaller than its codebook, so a
        # sub-16-row index (reachable only with a custom
        # max_index_rows ≤ 14) must fall through to LSH instead of
        # crashing where the pre-PQ facade succeeded.
        and n >= 16
    ):
        # dim must split into the default m=8 subspaces; otherwise the
        # band is skipped and the facade falls through to LSH exactly
        # as it did before the band existed
        from .pq import knn_join_pq  # deferred: pq imports this module

        # FAISS-standard 256 codes/subspace once the index can feed
        # the training sample (measured at sf1: n_codes 16→256 lifts
        # worst-case recall@3 0.27→0.70); tiny indexes keep 16 so the
        # k-means sample never underfills the codebook.
        out = knn_join_pq(
            idx, query_df, k, overscan=pq_overscan,
            n_codes=256 if n >= 1024 else 16,
            query_id=query_id, index_id=index_id, vec_col=vec_col,
            max_index_rows=max_index_rows * 32,
        )
    else:
        out = knn_join_lsh(
            idx, query_df, k, n_bits=n_bits, dim=dim,
            query_id=query_id, index_id=index_id, vec_col=vec_col,
        )
    return out


def _collect_centroids(cent: DataFrame):
    """Materialize ``(centroid_id, _cv)`` as ``(ids int64[], mat
    float64[nlist, dim])``, sorted by centroid_id ASC so numpy's
    first-occurrence argmax/argmin resolves ties to the lowest id —
    the same tie-break as the exact JVM re-score."""
    import numpy as np

    crows = sorted(cent.select("centroid_id", "_cv").collect(), key=lambda r: r[0])
    ids = np.array([r[0] for r in crows], dtype=np.int64)
    mat = (
        np.array([list(r[1]) for r in crows], dtype=np.float64)
        if crows
        else np.empty((0, 0), dtype=np.float64)
    )
    return ids, mat


def _nearest_centroid(
    xn: DataFrame, cent: DataFrame, id_col: str, cent_mat=None
) -> DataFrame:
    """``(id, _xv)`` × broadcast ``(centroid_id, _cv)`` →
    ``(id, _xv, centroid_id, sim)``: argmax-cosine assignment with
    centroid_id ASC tie-break (``sim`` is the winning cosine), the one
    assignment of :func:`knn_join_ivf`'s inverted lists, the IVF-PQ
    build and every spherical k-means round (:func:`_lloyd`).

    Shape rationale, two generations:

    1. (r4) The broadcast-join expansion is N×nlist rows; a row_number
       window would shuffle ALL of them (each dragging the dim-double
       vector along). The max(struct) aggregate reduces to one row per
       id map-side, so the exchange carries N compact rows — measured
       5.8× faster than the window at sf0.1.
    2. (r6) The expansion's N×nlist JVM-side sequential dots became the
       IVF family's cost center once nlist grows (48k×1900 ≈ 91M
       interpreted dots at sf3). A BLAS prefilter now computes all
       sims in one matmul per Arrow batch and emits only centroids
       within 1e-6 of the row's max (the same provably-lossless margin
       as :func:`candidate_pairs_vectorized` — ≫ the ~1e-14 float64
       reduction-order wobble); the exact JVM dot re-scores those ~1
       survivors per row, and the same max(struct) reduce picks the
       winner. numpy decides WHICH pairs get scored, never the score,
       so assignments are bit-identical to the full expansion.

       Precondition (ADVICE r6): the 1e-6 margin's losslessness proof
       assumes unit-norm rows and centroids (|sim| ≤ 1, so the BLAS/
       JVM discrepancy is bounded by ~1e-14 · 1 ≪ margin). Every
       caller in this package L2-normalizes both sides first
       (``functions.vectors.l2_normalize``); feeding raw vectors with
       |x|·|c| ≫ 1e8 could let the float64 reduction-order wobble
       exceed the margin and drop the true argmax from the candidate
       set. Normalize first, or scale the margin by the row's max
       |sim| if un-normalized inputs are ever required.

    ``_xv`` rides through the Arrow stage (float64 round-trips
    exactly) and the reduce's F.first, deterministic because every row
    in an id group carries the identical vector. An empty centroid set
    returns an empty frame (as the old broadcast join did) — callers
    guard/raise where silence would mislead.

    ``cent_mat`` (from :func:`_collect_centroids`) shares one eager
    centroid collect across this helper and :func:`_probe_cells` —
    each materialization is a driver job, and per-branch callers like
    the recall audits pay it once per branch otherwise."""
    import numpy as np

    spark = xn.sparkSession
    if cent_mat is None:
        cent_mat = _collect_centroids(cent)
    cids, cm = cent_mat
    schema = f"{id_col} long, _xv array<double>, centroid_id long"
    if cids.size == 0:
        return spark.createDataFrame([], schema + ", sim double")
    bc = spark.sparkContext.broadcast((cids, cm))
    margin = 1e-6

    def gen(batches):
        import numpy as np
        import pandas as pd

        bcids, bcm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xm = np.array(list(pdf["_xv"]), dtype=np.float64)
            sims = xm @ bcm.T
            keep = sims >= (sims.max(axis=1) - margin)[:, None]
            rows, cols = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[rows],
                    "_xv": pdf["_xv"].take(rows).tolist(),
                    "centroid_id": bcids[cols],
                }
            )

    cand = xn.select(id_col, "_xv").mapInPandas(gen, schema)
    return (
        cand.join(F.broadcast(cent), "centroid_id")
        .select(
            id_col,
            "_xv",
            F.struct(
                dot(F.col("_xv"), F.col("_cv")).alias("sim"),
                (-F.col("centroid_id")).alias("neg_centroid"),
            ).alias("_s"),
        )
        .groupBy(id_col)
        .agg(F.first("_xv").alias("_xv"), F.max("_s").alias("_best"))
        .select(
            id_col,
            "_xv",
            (-F.col("_best.neg_centroid")).alias("centroid_id"),
            F.col("_best.sim").alias("sim"),
        )
    )


def _probe_cells(
    q: DataFrame,
    cent: DataFrame,
    query_id: str,
    n_probe: int,
    cent_mat=None,
    emit_rank: bool = False,
) -> DataFrame:
    """``(query_id, _qv)`` × broadcast ``(centroid_id, _cv)`` →
    ``(query_id, _qv, centroid_id)``, one row per probed cell: each
    query's top-``n_probe`` centroids by (sim DESC, centroid_id ASC).
    Shared by :func:`knn_join_ivf` and ``knn_join_ivfpq``.

    Same two-generation shape as :func:`_nearest_centroid`: a BLAS
    prefilter (one matmul per Arrow batch) emits only centroids whose
    sim can reach the exact top-``n_probe`` (≥ the n_probe-th largest
    minus the 1e-6 lossless margin); the exact JVM dot re-scores the
    survivors and the per-query selection runs via an array sort over
    the collected (neg_sim, centroid_id) pairs — one shuffle on
    query_id shipping one compact ~n_probe-length struct array + one
    _qv per QUERY (previously an nlist-length array; before that, a
    window over nlist copies of the dim-double query vector).
    sort_array ascending on (neg_sim, centroid_id) ≡ sim DESC,
    centroid_id ASC — numpy picks WHICH centroids get scored, never
    the score, so probes are bit-identical to the full expansion.
    Same unit-norm precondition on the 1e-6 margin as
    :func:`_nearest_centroid` (|sim| ≤ 1 bounds the BLAS/JVM
    discrepancy ≪ margin) — all in-package callers normalize first.

    ``emit_rank=True`` adds a ``prn`` column (1-based probe rank) via
    posexplode — recall audits sweep one max-probe ranking and filter
    ``prn <= p`` per branch instead of re-probing."""
    import numpy as np

    spark = q.sparkSession
    if cent_mat is None:
        cent_mat = _collect_centroids(cent)
    cids, cm = cent_mat
    schema = f"{query_id} long, _qv array<double>, centroid_id long"
    if cids.size == 0:
        return spark.createDataFrame([], schema)
    bc = spark.sparkContext.broadcast((cids, cm))
    margin = 1e-6

    def gen(batches):
        import numpy as np
        import pandas as pd

        bcids, bcm = bc.value
        kth = min(n_probe, bcm.shape[0])
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qm = np.array(list(pdf["_qv"]), dtype=np.float64)
            sims = qm @ bcm.T
            cut = np.partition(sims, sims.shape[1] - kth, axis=1)[
                :, sims.shape[1] - kth
            ]
            keep = sims >= (cut - margin)[:, None]
            rows, cols = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    query_id: pdf[query_id].to_numpy()[rows],
                    "_qv": pdf["_qv"].take(rows).tolist(),
                    "centroid_id": bcids[cols],
                }
            )

    cand = q.select(query_id, "_qv").mapInPandas(gen, schema)
    top = (
        cand.join(F.broadcast(cent), "centroid_id")
        .select(
            query_id,
            "_qv",
            F.struct(
                (-dot(F.col("_qv"), F.col("_cv"))).alias("neg_sim"),
                F.col("centroid_id").alias("centroid_id"),
            ).alias("_p"),
        )
        .groupBy(query_id)
        .agg(
            F.first("_qv").alias("_qv"),
            F.slice(F.sort_array(F.collect_list("_p")), 1, n_probe).alias("_top"),
        )
    )
    if emit_rank:
        return top.select(
            query_id,
            "_qv",
            F.posexplode(F.col("_top.centroid_id")).alias("pos", "centroid_id"),
        ).select(
            query_id, "_qv", "centroid_id", (F.col("pos") + 1).alias("prn")
        )
    return top.select(
        query_id, "_qv", F.explode(F.col("_top.centroid_id")).alias("centroid_id")
    )


def _spherical_means(assigned: DataFrame) -> DataFrame:
    """Lloyd recompute: ``(centroid_id, _xv)`` members →
    ``(centroid_id, _cv)``, each centroid the renormalized mean of its
    members. Component sums go through round-9dp → DECIMAL(12,9), so
    the result is bit-reproducible across partitionings and equal to
    the DuckDB twin (``vector_plans._d_km_recompute``): plain double
    sums in a hash aggregate are order-dependent in the last ulp. A
    centroid with no members does not appear."""
    means = (
        assigned.select("centroid_id", F.posexplode("_xv").alias("pos", "val"))
        .groupBy("centroid_id", "pos")
        .agg(
            F.sum(F.round(F.col("val"), 9).cast("decimal(12,9)")).alias("s"),
            F.count("*").alias("c"),
        )
        .groupBy("centroid_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "pos",
                        (F.col("s").cast("double") / F.col("c")).alias("m"),
                    )
                )
            ).alias("_pm")
        )
        .select("centroid_id", F.col("_pm").getField("m").alias("_m"))
    )
    norm = F.sqrt(F.aggregate(F.col("_m"), F.lit(0.0), lambda a, v: a + v * v))
    return means.select("centroid_id", "_m", norm.alias("_n")).select(
        "centroid_id",
        F.transform(F.col("_m"), lambda v: v / F.col("_n")).alias("_cv"),
    )


def _lloyd(
    xn: DataFrame, cent: DataFrame, id_col: str, rounds: int
) -> tuple[DataFrame, list[DataFrame]]:
    """Spherical k-means from seed centroids ``(centroid_id, _cv)``
    over unit rows ``(id, _xv)``: ``rounds`` Lloyd iterations of
    :func:`_nearest_centroid` then :func:`_spherical_means`. Returns
    the final centroids and the per-round centroid frames, persisted
    because each round's assignment collects its centroids (without
    the persist every collect would re-run all earlier rounds); the
    caller unpersists them."""
    deps: list[DataFrame] = []
    for _ in range(rounds):
        cent = _spherical_means(_nearest_centroid(xn, cent, id_col)).persist()
        deps.append(cent)
    return cent, deps


def train_ivf_codebook(
    index_df: DataFrame,
    index_id: str = "neighbor_id",
    vec_col: str = "embedding",
    seed_mod: int = 25,
    rounds: int = 2,
) -> DataFrame:
    """Spherical k-means training for :func:`knn_join_ivf`'s codebook —
    the ``IndexIVFFlat.train()`` step: seeds = index ids ≡ 1 mod
    ``seed_mod``, then ``rounds`` Lloyd iterations (:func:`_lloyd`:
    assign each vector to its argmax-cosine centroid, ties to the
    lowest centroid_id; recompute each centroid as the DECIMAL-quantized
    renormalized mean of its members). Returns ``(centroid_id,
    <vec_col>)`` ready for ``knn_join_ivf(codebook=...)``. A centroid
    whose cluster goes empty in a round DROPS OUT (the returned nlist
    can be smaller than the seed count — same convention as the
    registered ``ivf_kmeans_refine`` query, where both engines drop
    empties identically); seed more centroids if an exact nlist
    matters.

    Scale: per round, one BLAS matmul sweep of the training set against
    the nlist centroids, an exact re-score of the ~1 surviving
    candidate per row, and a (centroid, dim)-ary decimal recompute —
    all linear in the training set. Run on a SAMPLE with ``nlist ≈ √N``
    seeds in production. The persisted frames ride out on
    ``_cached_deps`` as ``[normalized input, round 1, …, round
    rounds]`` — the last is the codebook's own cache; release via
    ``api.release`` after materializing the result."""
    xn = (
        normalize_embeddings(index_df, vec_col)
        .select(F.col(index_id).alias("_id"), F.col(vec_col).alias("_xv"))
        .persist()  # swept once per round
    )
    seeds = xn.filter(F.col("_id") % seed_mod == 1).select(
        F.col("_id").alias("centroid_id"), F.col("_xv").alias("_cv")
    )
    cent, deps = _lloyd(xn, seeds, "_id", rounds)
    out = cent.select("centroid_id", F.col("_cv").alias(vec_col))
    out._cached_deps = [xn, *deps]
    return out


def knn_join_ivf(
    index_df: DataFrame,
    query_df: DataFrame,
    k: int,
    centroid_mod: int = 25,
    n_probe: int = 2,
    query_id: str = "query_id",
    index_id: str = "neighbor_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k, IVF-style (inverted file): a deterministic
    subset of the index (``index_id % centroid_mod == 1``) acts as the
    centroid codebook — or pass ``codebook`` (``(centroid_id,
    <vec_col>)``, e.g. from :func:`train_ivf_codebook`) to search
    against trained centroids; every index vector is assigned to its
    nearest centroid (one inverted list per centroid), and each query
    probes only its ``n_probe`` nearest centroids' lists, with exact
    cosine re-rank inside.

    Scale story (the FAISS ``IndexIVFFlat`` analogue, vs. the flat
    index of :func:`knn_join_exact`): the codebook is broadcast-sized,
    assignment is a broadcast join (no shuffle of the big side beyond
    the final per-centroid equi-join), and the query×candidate product
    shrinks from O(N·M) to O(N·M/centroids·n_probe). Recall/cost is
    tuned by (centroid_mod, n_probe) exactly like IVF's
    (nlist, nprobe). Everything is deterministic — centroid choice,
    tie-breaks, sequential double dot products — so the DuckDB oracle
    reproduces results bit-for-bit.
    """
    q = normalize_embeddings(query_df, vec_col)
    x = normalize_embeddings(index_df, vec_col)
    q = q.select(F.col(query_id), F.col(vec_col).alias("_qv"))
    x = x.select(F.col(index_id), F.col(vec_col).alias("_xv"))
    if codebook is not None:
        cent = normalize_embeddings(codebook, vec_col).select(
            "centroid_id", F.col(vec_col).alias("_cv")
        )
    else:
        cent = x.filter(F.col(index_id) % centroid_mod == 1).select(
            F.col(index_id).alias("centroid_id"), F.col("_xv").alias("_cv")
        )

    cent_mat = _collect_centroids(cent)  # one driver job, shared below
    inverted = _nearest_centroid(x, cent, index_id, cent_mat=cent_mat)
    probes = _probe_cells(q, cent, query_id, n_probe, cent_mat=cent_mat)

    pairs = probes.join(inverted, "centroid_id")
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(index_id))
    return (
        pairs.select(query_id, index_id, dot(F.col("_qv"), F.col("_xv")).alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def knn_join_lsh(
    index_df: DataFrame,
    query_df: DataFrame,
    k: int,
    n_bits: int,
    dim: int,
    query_id: str = "query_id",
    index_id: str = "neighbor_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: bucket by hyperplane signature, exact cosine
    re-rank within buckets. The all-pairs product becomes an equi-join
    on a 2^n_bits-ary key — shuffle cost O(N) instead of O(N·M).
    Recall is tunable via n_bits (fewer bits → bigger buckets → higher
    recall); multi-probe/banding variants build on the same signature.
    """
    q = normalize_embeddings(query_df, vec_col)
    x = normalize_embeddings(index_df, vec_col)
    sig_q = q.select(
        F.col(query_id),
        F.col(vec_col).alias("_qv"),
        lsh_signature(F.col(vec_col), n_bits, dim).alias("bucket"),
    )
    sig_x = x.select(
        F.col(index_id),
        F.col(vec_col).alias("_xv"),
        lsh_signature(F.col(vec_col), n_bits, dim).alias("bucket"),
    )
    pairs = sig_q.join(sig_x, "bucket")
    sim = dot(F.col("_qv"), F.col("_xv"))
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(index_id))
    return (
        pairs.select(query_id, index_id, sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )
