"""Vector / similarity-search plans (SURVEY §2.6) over the
``embeddings`` table (64-dim float vectors + integer labels).

Query/index split is deterministic (vec_id % 5): 20% queries, 80%
index — mirroring the reference's train/test split ahead of FAISS
indexing. Exact path broadcasts the index side; the LSH plan shows
the 100 TB scale path (equi-join on signature buckets instead of the
all-pairs product).

Cross-engine parity: float→double promotion + sequential reduction
makes dot products bitwise-identical in Spark and DuckDB (verified);
scores are rounded to 9 dp at the output edge only.
"""

from __future__ import annotations

from collections.abc import Callable
from math import isqrt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import hash64
from ..functions.vectors import dot, ip_to_unit, l2_distance
from ..operators.knn import (
    _collect_centroids,
    _lloyd,
    _nearest_centroid,
    _probe_cells,
    hyperplane,
    knn_join_exact,
    knn_join_lsh,
    knn_topk,
    lsh_signature,
    normalize_embeddings,
)
from ..sources.tables import load_table
from .registry import query

# Shared with refine_plans via the _vector_shared leaf module (keeps
# this module OUT of the refine family's certification dep closure).
from ._vector_shared import DIM, _D_SPLIT, _D_VNORM, _split  # noqa: E402,F401


@query(
    "knn_cosine_topk",
    oracle=_D_SPLIT
    + """
    SELECT query_id, rnk, neighbor_id, round(sim, 9) AS sim
    FROM r WHERE rnk <= 3 ORDER BY query_id, rnk
    """,
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS IndexFlatIP search(q, k=3) (Faiss_2_10.py:141) as
    broadcast brute-force cosine + window top-k. L2-normalize once per
    side (Neww_Fai.py:339-340), then cosine = dot."""
    q, x = _split(spark, sf_dir)
    res = knn_join_exact(x, q, k=3)
    return res.select(
        "query_id", F.col("rank").alias("rnk"), "neighbor_id", F.round("sim", 9).alias("sim")
    ).orderBy("query_id", "rnk")


@query(
    "knn_topk_routed",
    oracle=_D_SPLIT
    + """
    SELECT query_id, rnk, neighbor_id, round(sim, 9) AS sim
    FROM r WHERE rnk <= 3 ORDER BY query_id, rnk
    """,
)
def knn_topk_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The size-routed ``knn_topk`` FACADE (operators/knn.py:243)
    under the oracle gate: at any sf the driver checks, the index side
    is under the broadcast cap, so the facade must route to the exact
    band and reproduce :func:`knn_join_exact` bit-for-bit — which the
    exact-kNN oracle pins, certifying the routing gate itself (count →
    band choice → identical result) rather than only the underlying
    join. The PQ/LSH bands stay recall-pinned in tests/test_pq.py and
    tests/test_knn_gate.py per SURVEY §5 (approximate results have no
    SQL twin)."""
    q, x = _split(spark, sf_dir)
    res = knn_topk(
        x.select("neighbor_id", "embedding"),
        q.select("query_id", "embedding"),
        k=3,
        dim=DIM,
    )
    out = res.select(
        "query_id", F.col("rank").alias("rnk"), "neighbor_id", F.round("sim", 9).alias("sim")
    ).orderBy("query_id", "rnk")
    # forward the facade's cache handle per the repo caching contract
    out._cached_deps = getattr(res, "_cached_deps", [])  # type: ignore[attr-defined]
    return out


@query(
    "knn_label_vote",
    oracle=_D_SPLIT
    + """
    SELECT query_label,
           COUNT(*) AS n_queries,
           CAST(SUM(CASE WHEN neighbor_label = query_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(CAST(SUM(CASE WHEN neighbor_label = query_label THEN 1 ELSE 0 END) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS accuracy
    FROM r WHERE rnk = 1
    GROUP BY query_label ORDER BY query_label
    """,
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 neighbor metadata vote (Fai_new.py:204-211,
    Faiss_2_10.py:494-501) + per-class accuracy aggregation
    (Neww_Fai.py:1058-1110)."""
    q, x = _split(spark, sf_dir)
    top1 = knn_join_exact(
        x.select("neighbor_id", "embedding"), q.select("query_id", "embedding"), k=1
    )
    voted = (
        top1.join(q.select("query_id", "query_label"), "query_id")
        .join(x.select("neighbor_id", "neighbor_label"), "neighbor_id")
    )
    correct = (F.col("neighbor_label") == F.col("query_label")).cast("bigint")
    return (
        voted.groupBy("query_label")
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(correct).alias("n_correct"),
            (F.sum(correct).cast("double") / F.count("*")).alias("accuracy"),
        )
        .orderBy("query_label")
    )


@query(
    "label_probability_mean_sim",
    oracle=_D_SPLIT
    + """
    , k5 AS (SELECT * FROM r WHERE rnk <= 5),
    bylabel AS (
      SELECT query_id, neighbor_label AS label,
             CAST(SUM((1 + sim) / 2) AS DOUBLE) / COUNT(*) AS mean_unit_sim
      FROM k5 GROUP BY query_id, neighbor_label
    ),
    normed AS (
      SELECT query_id, label, mean_unit_sim,
             mean_unit_sim / SUM(mean_unit_sim) OVER (PARTITION BY query_id) AS prob
      FROM bylabel
    )
    SELECT query_id, label, round(mean_unit_sim, 9) AS mean_unit_sim, round(prob, 9) AS prob
    FROM normed ORDER BY query_id, label
    """,
)
def label_probability_mean_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label probability v2 (faiss_implimentation.py:425-463,
    faiss_new_.py:543-571): per-label mean of unit-interval similarity
    (1+cos)/2 over the k=5 neighborhood, normalized to sum 1 per
    query. groupBy + window-normalize — no Python."""
    q, x = _split(spark, sf_dir)
    from pyspark.sql.window import Window

    k5 = knn_join_exact(
        x.select("neighbor_id", "embedding"), q.select("query_id", "embedding"), k=5
    ).join(x.select("neighbor_id", "neighbor_label"), "neighbor_id")
    bylabel = (
        k5.groupBy("query_id", F.col("neighbor_label").alias("label"))
        .agg((F.sum(ip_to_unit(F.col("sim"))).cast("double") / F.count("*")).alias("mean_unit_sim"))
    )
    total = F.sum("mean_unit_sim").over(Window.partitionBy("query_id"))
    return (
        bylabel.withColumn("prob", F.col("mean_unit_sim") / total)
        .select(
            "query_id",
            "label",
            F.round("mean_unit_sim", 9).alias("mean_unit_sim"),
            F.round("prob", 9).alias("prob"),
        )
        .orderBy("query_id", "label")
    )


@query(
    "label_probability_softmax",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), q AS (SELECT vec_id AS query_id, v FROM n WHERE vec_id % 5 = 0),
       x AS (SELECT vec_id AS neighbor_id, label AS neighbor_label, v FROM n WHERE vec_id % 5 <> 0),
       p AS (SELECT q.query_id, x.neighbor_id, x.neighbor_label,
                    sqrt(list_sum(list_transform(list_zip(q.v, x.v), z -> (z[1]-z[2])*(z[1]-z[2])))) AS dist
             FROM q CROSS JOIN x),
       r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
             FROM p),
       k5 AS (SELECT * FROM r WHERE rnk <= 5),
       wts AS (SELECT query_id, neighbor_label, exp(-dist) AS w,
                      SUM(exp(-dist)) OVER (PARTITION BY query_id) AS z
               FROM k5)
    SELECT query_id, neighbor_label AS label,
           round(SUM(w / z), 6) AS prob_softmax
    FROM wts GROUP BY query_id, neighbor_label
    ORDER BY query_id, label
    """,
)
def label_probability_softmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label probability v1 (faiss_implimentation.py:403-423): softmax
    over negative L2 distances of the k=5 neighborhood (IndexFlatL2
    semantics), summed per label. 6-dp rounding absorbs libm exp ulp
    differences across engines."""
    from pyspark.sql.window import Window

    from ..operators.knn import candidate_pairs_vectorized

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    x = e.filter(F.col("vec_id") % 5 != 0).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("_xv"),
    )
    # BLAS prefilter picks the ~k L2-nearest candidates per query; the
    # exact JVM l2_distance then re-scores only those (bit-identical
    # to the all-pairs plan — numpy never produces a score).
    cand = candidate_pairs_vectorized(
        x.select("neighbor_id", F.col("_xv").alias("embedding")),
        q.select("query_id", F.col("_qv").alias("embedding")),
        query_id="query_id",
        index_id="neighbor_id",
        k=5,
        metric="l2",
    )
    pairs = cand.join(q, "query_id").join(F.broadcast(x), "neighbor_id").select(
        "query_id", "neighbor_id", "neighbor_label",
        l2_distance(F.col("_qv"), F.col("_xv")).alias("dist"),
    )
    wk = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    k5 = pairs.withColumn("rnk", F.row_number().over(wk)).filter(F.col("rnk") <= 5)
    z = F.sum(F.exp(-F.col("dist"))).over(Window.partitionBy("query_id"))
    wts = k5.select(
        "query_id", "neighbor_label", (F.exp(-F.col("dist")) / z).alias("wz")
    )
    return (
        wts.groupBy("query_id", F.col("neighbor_label").alias("label"))
        .agg(F.round(F.sum("wz"), 6).alias("prob_softmax"))
        .orderBy("query_id", "label")
    )


def _duck_lsh_bucket(vec_expr: str, n_bits: int) -> str:
    """DuckDB bucket expression with hyperplanes inlined as literals
    generated from the SAME md5 derivation the Spark operator uses."""
    bits = []
    for j in range(n_bits):
        hp = hyperplane(j, DIM)
        lit = "[" + ",".join(str(v) for v in hp) + "]"
        bits.append(
            f"CASE WHEN list_dot_product({vec_expr}, {lit}) > 0 THEN '1' ELSE '0' END"
        )
    return " || ".join(bits)


@query(
    "ann_lsh_topk",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, {_D_VNORM} AS v FROM embeddings
    ), sigs AS (
      SELECT vec_id, v, {_duck_lsh_bucket('v', 4)} AS bucket FROM n
    ), q AS (SELECT vec_id AS query_id, v, bucket FROM sigs WHERE vec_id % 5 = 0),
       x AS (SELECT vec_id AS neighbor_id, v, bucket FROM sigs WHERE vec_id % 5 <> 0),
       p AS (SELECT q.query_id, x.neighbor_id, list_dot_product(q.v, x.v) AS sim
             FROM q JOIN x USING (bucket)),
       r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk,
                    COUNT(*) OVER (PARTITION BY query_id) AS n_candidates
             FROM p)
    SELECT query_id, neighbor_id, round(sim, 9) AS sim, n_candidates
    FROM r WHERE rnk = 1 ORDER BY query_id
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN — the 100 TB scale path: 4-bit deterministic
    random-hyperplane LSH → equi-join on bucket → exact cosine re-rank
    within bucket. Replaces the O(N·M) product with an O(N) shuffle on
    a 16-ary key; recall tunes via bit count / multi-probe."""
    from ..functions.vectors import dot
    from ..operators.knn import lsh_signature

    q, x = _split(spark, sf_dir)
    # One signature computation per side, one bucket join; top-1 and
    # the examined-candidate count come from ONE aggregate with
    # map-side partial combine — no sort-based window over the
    # candidate pairs (the same window→agg rewrite knn_join_ivf got;
    # signatures are 4 HOF dot products per row, so they are computed
    # once per side).
    sig_q = normalize_embeddings(q.select("query_id", "embedding")).select(
        "query_id",
        F.col("embedding").alias("_qv"),
        lsh_signature(F.col("embedding"), 4, DIM).alias("bucket"),
    )
    sig_x = normalize_embeddings(x.select("neighbor_id", "embedding")).select(
        "neighbor_id",
        F.col("embedding").alias("_xv"),
        lsh_signature(F.col("embedding"), 4, DIM).alias("bucket"),
    )
    pairs = sig_q.join(sig_x, "bucket").select(
        "query_id", "neighbor_id", dot(F.col("_qv"), F.col("_xv")).alias("sim")
    )
    # One aggregate with partial (map-side) combine: each partition
    # reduces its pairs to one row per query BEFORE the shuffle, so
    # the exchange carries |queries| rows, not |pairs| — that is the
    # scale property the old two-window plan lacked. (The struct
    # ordering key makes Spark pick SortAggregate over HashAggregate;
    # the partition-local sort is on the already-reduced rows and is
    # not the cost driver.)
    best = pairs.groupBy("query_id").agg(
        F.max_by(
            "neighbor_id",
            F.struct(F.col("sim"), (-F.col("neighbor_id")).alias("neg_id")),
        ).alias("neighbor_id"),
        F.max("sim").alias("sim"),
        F.count("*").alias("n_candidates"),
    )
    return best.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("sim"), 9).alias("sim"),
        "n_candidates",
    ).orderBy("query_id")


@query(
    "ann_ivf_topk",
    oracle=_D_SPLIT
    + """
    , cmod AS (
      -- exact integer sqrt: correct the float-sqrt candidate by +/-1
      -- (its only possible error for BIGINT n), so this matches
      -- Python isqrt for ALL n, not just below the ~2^52 double
      -- precision bound (ADVICE r5 #4)
      SELECT GREATEST(25, n // (s0 + CASE WHEN (s0+1)*(s0+1) <= n THEN 1
                                          WHEN s0*s0 > n THEN -1
                                          ELSE 0 END)) AS m
      FROM (SELECT COUNT(*) AS n,
                   CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS s0
            FROM x)
    ), cent AS (
      SELECT neighbor_id AS centroid_id, v AS cv FROM x
      WHERE neighbor_id % (SELECT m FROM cmod) = 1
    ), assign AS (
      SELECT x.neighbor_id, x.v, cent.centroid_id,
             ROW_NUMBER() OVER (PARTITION BY x.neighbor_id
                                ORDER BY list_dot_product(x.v, cent.cv) DESC, cent.centroid_id) AS crn
      FROM x CROSS JOIN cent
    ), inverted AS (
      SELECT neighbor_id, v, centroid_id FROM assign WHERE crn = 1
    ), probe AS (
      SELECT q.query_id, q.v AS qv, cent.centroid_id,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
                                ORDER BY list_dot_product(q.v, cent.cv) DESC, cent.centroid_id) AS prn
      FROM q CROSS JOIN cent
    ), cand AS (
      SELECT p.query_id, i.neighbor_id, list_dot_product(p.qv, i.v) AS sim
      FROM (SELECT query_id, qv, centroid_id FROM probe WHERE prn <= 2) p
      JOIN inverted i USING (centroid_id)
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
      FROM cand
    )
    SELECT query_id, rnk, neighbor_id, round(sim, 9) AS sim
    FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN, IVF-style (FAISS IndexIVFFlat analogue,
    complementing the flat index of Faiss_2_10.py:70-79): deterministic
    centroid codebook (index ids ≡ 1 mod ``cent_mod``) → inverted
    lists by nearest centroid → each query probes its 2 nearest lists
    → exact cosine re-rank within. Candidate product shrinks by
    ~centroids/n_probe; recall tunes via (nlist, nprobe) exactly as in
    IVF. See operators/knn.py:knn_join_ivf for the scale analysis.

    ``cent_mod`` scales with the index so nlist ≈ √N: a fixed mod
    grows nlist ∝ N, making assignment and probe selection (both
    N×nlist broadcast expansions) quadratic — measured 62× at 30×
    data before this rule, ~linear after (SCALE.md §0b). The one
    up-front count is a columnar scan, amortized across the run."""
    from math import isqrt

    from ..operators.knn import knn_join_ivf

    q, x = _split(spark, sf_dir)
    x = x.select("neighbor_id", "embedding")
    n = x.count()
    cent_mod = max(25, n // isqrt(n)) if n else 25
    res = knn_join_ivf(
        x,
        q.select("query_id", "embedding"),
        k=3,
        centroid_mod=cent_mod,
        n_probe=2,
    )
    return res.select(
        "query_id", F.col("rank").alias("rnk"), "neighbor_id", F.round("sim", 9).alias("sim")
    ).orderBy("query_id", "rnk")


_RECALL_BITS = (2, 4)
_RECALL_K = 3
#: The audits' exact-baseline cost knob, now IN the signature (VERDICT
#: r5 task 4): the brute-force baseline scores 1-in-`sample_mod`
#: queries, so audit cost scales ~1/sample_mod while the recall
#: estimate's stderr grows ~sqrt(sample_mod). The registered queries
#: and their oracles pin the default; library callers pass sample_mod
#: to trade precision for cost (oracle parity is defined at the
#: default only). Sensitivity measured at sf1 in SCALE.md §0.
_RECALL_SAMPLE_MOD = 50


def _rank_by_sim(pairs: DataFrame) -> DataFrame:
    """``(query_id, neighbor_id, sim)`` candidates → ``(query_id,
    neighbor_id, rnk)``, ranked per query by sim DESC, neighbor_id ASC."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return pairs.select("query_id", "neighbor_id", F.row_number().over(w).alias("rnk"))


def _recall_audit(
    spark: SparkSession,
    sf_dir: str,
    sample_mod: int,
    audit: str,
    knob: str,
    count_col: str,
    branches: Callable[
        [DataFrame, DataFrame], tuple[dict[int, DataFrame], list[DataFrame]]
    ],
) -> DataFrame:
    """The recall/cost table of every recall audit: one row per knob
    value with ``n_queries``, the branch's rows per sampled query
    (``count_col``) and recall@{_RECALL_K} against the exact broadcast
    search, over the deterministic 1-in-``sample_mod`` query sample.

    ``branches(q, x)`` receives the sampled queries ``(query_id,
    embedding)`` and the index ``(neighbor_id, embedding)`` and
    returns each knob value's ``(query_id, neighbor_id, rnk)`` frame,
    plus the frames it persisted (released here). Every branch is
    tagged with its knob value and unioned, so ONE aggregate action
    evaluates the whole sweep and the branch stages schedule
    concurrently inside it (r4: ~30% faster than an action per
    branch). The denominator is every sampled query, so a query no
    branch row reaches counts as recall 0 and silent misses stay
    visible."""
    q, x = _split(spark, sf_dir)
    q = q.filter(F.col("query_id") % sample_mod == 0).select("query_id", "embedding")
    x = x.select("neighbor_id", "embedding")
    n_queries = q.count()
    if n_queries == 0:
        # Raised before anything is persisted or the exact search runs,
        # so the error path neither leaks a cached frame nor pays for it.
        raise ValueError(
            f"{audit}: query sample is empty (sample_mod={sample_mod} "
            "selected 0 of the query ids); lower sample_mod for corpora "
            "this small"
        )
    exact = (
        knn_join_exact(x, q, k=_RECALL_K)
        .select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
        .persist()  # joined by every branch of the one aggregate job
    )
    exact.count()
    frames, cached = branches(q, x)
    try:
        union = None
        for value, frame in frames.items():
            tagged = (
                frame.select("query_id", "neighbor_id", "rnk")
                .join(exact, ["query_id", "neighbor_id"], "left")
                .withColumn(knob, F.lit(value))
            )
            union = tagged if union is None else union.unionByName(tagged)
        hit = (F.col("rnk") <= _RECALL_K) & F.col("_hit").isNotNull()
        stats = {
            r[knob]: r
            for r in union.groupBy(knob)
            .agg(
                F.count("*").alias("n"),
                F.sum(F.when(hit, 1).otherwise(0)).alias("hits"),
            )
            .collect()
        }
    finally:
        for df in (exact, *cached):
            df.unpersist()
    rows = []
    for value in frames:
        r = stats.get(value)
        n, hits = (r["n"], r["hits"]) if r is not None else (0, 0)
        rows.append((value, n_queries, n / n_queries, hits / (_RECALL_K * n_queries)))
    return spark.createDataFrame(
        rows,
        f"{knob} bigint, n_queries bigint, {count_col} double, "
        f"recall_at_{_RECALL_K} double",
    ).orderBy(knob)


def _d_recall_branch(bits: int) -> str:
    """One n_bits setting of the recall audit as a DuckDB SELECT."""
    return f"""
    SELECT {bits} AS n_bits,
           (SELECT COUNT(*) FROM q0) AS n_queries,
           CAST(CAST((SELECT COALESCE(SUM(c), 0) FROM (
              SELECT COUNT(*) AS c FROM lp{bits} GROUP BY query_id)) AS DOUBLE)
              / (SELECT COUNT(*) FROM q0) AS DOUBLE) AS avg_candidates,
           CAST(CAST((SELECT COUNT(*) FROM lr{bits} l
                      JOIN er e ON e.query_id = l.query_id
                                AND e.neighbor_id = l.neighbor_id
                      WHERE l.rnk <= {_RECALL_K} AND e.rnk <= {_RECALL_K}) AS DOUBLE)
              / ({_RECALL_K} * (SELECT COUNT(*) FROM q0)) AS DOUBLE) AS recall_at_{_RECALL_K}
    """


@query(
    "ann_recall_audit",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, {_D_VNORM} AS v FROM embeddings
    ),
    q0 AS (SELECT vec_id AS query_id, v FROM n WHERE vec_id % 50 = 0),
    x0 AS (SELECT vec_id AS neighbor_id, v FROM n WHERE vec_id % 5 <> 0),
    ep AS (SELECT q0.query_id, x0.neighbor_id, list_dot_product(q0.v, x0.v) AS sim
           FROM q0 CROSS JOIN x0),
    er AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id) AS rnk FROM ep),
    {", ".join(
        f'''qs{b} AS (SELECT query_id, v, {_duck_lsh_bucket('v', b)} AS bucket FROM q0),
    xs{b} AS (SELECT neighbor_id, v, {_duck_lsh_bucket('v', b)} AS bucket FROM x0),
    lp{b} AS (SELECT qs{b}.query_id, xs{b}.neighbor_id,
                     list_dot_product(qs{b}.v, xs{b}.v) AS sim
              FROM qs{b} JOIN xs{b} USING (bucket)),
    lr{b} AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY sim DESC, neighbor_id) AS rnk
              FROM lp{b})'''
        for b in _RECALL_BITS
    )}
    {" UNION ALL ".join(_d_recall_branch(b) for b in _RECALL_BITS)}
    ORDER BY n_bits
    """,
)
def ann_recall_audit(
    spark: SparkSession, sf_dir: str, *, sample_mod: int = _RECALL_SAMPLE_MOD
) -> DataFrame:
    """Recall/cost audit of the approximate path — the measurement that
    turns 'recall is tunable via n_bits' (ann_lsh_topk docstring) into
    a number: for each LSH width, recall@{_RECALL_K} of the bucketed
    search against the exact broadcast search, and the average number
    of candidates each query actually examined (the cost knob). Fewer
    bits → bigger buckets → higher recall and more candidates; this is
    the nlist/nprobe-style tuning table an operator reads before
    picking production parameters.

    Queries whose bucket contains no index vector count as recall 0
    (denominator is ALL queries) — silent-miss rates stay visible.
    One exact pass is shared by every LSH branch.

    NB on absolute values: the synthetic embeddings are near-isotropic
    random vectors — the hardest case for hyperplane LSH — so recall
    here reads low (~0.2-0.5). Real text embeddings cluster, which is
    what bucketing exploits; the point of this query is the MECHANISM
    (the recall/candidates tradeoff measured per setting), which is
    data-independent."""

    def branches(q: DataFrame, x: DataFrame):
        frames = {}
        for bits in _RECALL_BITS:
            sig_q = normalize_embeddings(q).select(
                "query_id",
                F.col("embedding").alias("_qv"),
                lsh_signature(F.col("embedding"), bits, DIM).alias("bucket"),
            )
            sig_x = normalize_embeddings(x).select(
                "neighbor_id",
                F.col("embedding").alias("_xv"),
                lsh_signature(F.col("embedding"), bits, DIM).alias("bucket"),
            )
            frames[bits] = _rank_by_sim(
                sig_q.join(sig_x, "bucket").select(
                    "query_id", "neighbor_id", dot(F.col("_qv"), F.col("_xv")).alias("sim")
                )
            )
        return frames, []

    # Deterministic 1-in-sample_mod query sample (vec_id % 50): a recall
    # estimate needs a sample, not the census — the full-corpus exact
    # pass is exactly the cost ANN exists to avoid.
    return _recall_audit(
        spark, sf_dir, sample_mod, "ann_recall_audit", "n_bits", "avg_candidates", branches
    )


# ---------------------------------------------------------------------------
# Semantic decontamination (embedding-space twin of
# pretrain_plans.benchmark_contamination)
# ---------------------------------------------------------------------------

_DECON_TAU = 0.35  # same near-isotropic-calibrated threshold as embedding_near_dup


@query(
    "semantic_decontamination",
    oracle=f"""
    WITH n AS (SELECT vec_id, {_D_VNORM} AS v FROM embeddings),
    bench AS (SELECT vec_id AS bench_id, v FROM n WHERE vec_id % 29 = 0),
    hits AS (
      SELECT c.vec_id, b.bench_id,
             list_dot_product(c.v, b.v) AS sim,
             ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                ORDER BY list_dot_product(c.v, b.v) DESC, b.bench_id) AS rn
      FROM n c JOIN bench b ON list_dot_product(c.v, b.v) >= {_DECON_TAU}
    )
    SELECT vec_id, bench_id, round(sim, 9) AS sim
    FROM hits WHERE rn = 1 ORDER BY vec_id
    """,
)
def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination screen — the semantic twin of
    ``benchmark_contamination`` (pretrain_plans), catching paraphrased
    benchmark leakage that n-gram shingles miss: flag every corpus
    vector whose cosine to ANY benchmark vector reaches {_DECON_TAU},
    reporting its closest benchmark item (ties broken by min bench_id).
    The benchmark set is synthesized from the corpus itself (every
    29th vector), so each bench member flags itself at sim 1.0 —
    exact copies are the worst contamination — and organic
    near-threshold neighbors exercise the boundary.

    Scale shape (the reason this beats the all-pairs SQL twin at
    100 TB): benchmark sets are tiny relative to a training corpus, so
    the bench side broadcasts — ``candidate_pairs_vectorized`` holds
    it as one float64 matrix per executor (gated by
    BroadcastIndexTooLarge), each corpus Arrow batch does a single
    BLAS matmul, and only pairs that can reach the threshold are
    emitted for exact JVM re-scoring. Zero shuffles before the 1-row
    per-doc window; output is bit-identical to the naive cross join.
    """
    from ..operators.knn import candidate_pairs_vectorized

    e = normalize_embeddings(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    bench = e.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("bench_id"), "embedding"
    )
    cand = candidate_pairs_vectorized(
        bench,
        e.select("vec_id", "embedding"),
        query_id="vec_id",
        index_id="bench_id",
        threshold=_DECON_TAU,
    )
    rescored = (
        cand.join(e, "vec_id")
        .join(
            F.broadcast(bench.select("bench_id", F.col("embedding").alias("_bv"))),
            "bench_id",
        )
        .select("vec_id", "bench_id", dot(F.col("embedding"), F.col("_bv")).alias("sim"))
        .filter(F.col("sim") >= _DECON_TAU)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("bench_id"))
    return (
        rescored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "bench_id", F.round("sim", 9).alias("sim"))
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# IVF recall/cost audit — the (nlist, nprobe) twin of ann_recall_audit
# ---------------------------------------------------------------------------

_IVF_AUDIT_PROBES = (1, 2, 4)
_IVF_AUDIT_MOD = 25


def _d_ivf_branch(p: int) -> str:
    """One n_probe setting of the IVF audit as a DuckDB SELECT."""
    return f"""
    SELECT {p} AS n_probe,
           (SELECT COUNT(*) FROM q0) AS n_queries,
           CAST(CAST((SELECT COALESCE(SUM(c), 0) FROM (
              SELECT COUNT(*) AS c FROM cp{p} GROUP BY query_id)) AS DOUBLE)
              / (SELECT COUNT(*) FROM q0) AS DOUBLE) AS avg_candidates,
           CAST(CAST((SELECT COUNT(*) FROM cr{p} l
                      JOIN er e ON e.query_id = l.query_id
                                AND e.neighbor_id = l.neighbor_id
                      WHERE l.rnk <= {_RECALL_K} AND e.rnk <= {_RECALL_K}) AS DOUBLE)
              / ({_RECALL_K} * (SELECT COUNT(*) FROM q0)) AS DOUBLE) AS recall_at_{_RECALL_K}
    """


@query(
    "ivf_recall_audit",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, {_D_VNORM} AS v FROM embeddings
    ),
    q0 AS (SELECT vec_id AS query_id, v FROM n WHERE vec_id % 50 = 0),
    x0 AS (SELECT vec_id AS neighbor_id, v FROM n WHERE vec_id % 5 <> 0),
    ep AS (SELECT q0.query_id, x0.neighbor_id, list_dot_product(q0.v, x0.v) AS sim
           FROM q0 CROSS JOIN x0),
    er AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id) AS rnk FROM ep),
    cmod AS (
      -- nlist ≈ √N, same exact-integer-sqrt idiom as ann_ivf_topk
      SELECT GREATEST({_IVF_AUDIT_MOD},
                      n // (s0 + CASE WHEN (s0+1)*(s0+1) <= n THEN 1
                                      WHEN s0*s0 > n THEN -1
                                      ELSE 0 END)) AS m
      FROM (SELECT COUNT(*) AS n,
                   CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS s0
            FROM x0)
    ),
    cent AS (SELECT neighbor_id AS centroid_id, v AS cv FROM x0
             WHERE neighbor_id % (SELECT m FROM cmod) = 1),
    assign AS (
      SELECT x0.neighbor_id, x0.v, cent.centroid_id,
             ROW_NUMBER() OVER (PARTITION BY x0.neighbor_id
                                ORDER BY list_dot_product(x0.v, cent.cv) DESC, cent.centroid_id) AS crn
      FROM x0 CROSS JOIN cent
    ),
    inverted AS (SELECT neighbor_id, v, centroid_id FROM assign WHERE crn = 1),
    probe AS (
      SELECT q0.query_id, q0.v AS qv, cent.centroid_id,
             ROW_NUMBER() OVER (PARTITION BY q0.query_id
                                ORDER BY list_dot_product(q0.v, cent.cv) DESC, cent.centroid_id) AS prn
      FROM q0 CROSS JOIN cent
    ),
    {", ".join(
        f'''cp{p} AS (SELECT pr.query_id, i.neighbor_id,
                     list_dot_product(pr.qv, i.v) AS sim
              FROM (SELECT query_id, qv, centroid_id FROM probe WHERE prn <= {p}) pr
              JOIN inverted i USING (centroid_id)),
    cr{p} AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY sim DESC, neighbor_id) AS rnk
              FROM cp{p})'''
        for p in _IVF_AUDIT_PROBES
    )}
    {" UNION ALL ".join(_d_ivf_branch(p) for p in _IVF_AUDIT_PROBES)}
    ORDER BY n_probe
    """,
)
def ivf_recall_audit(
    spark: SparkSession, sf_dir: str, *, sample_mod: int = _RECALL_SAMPLE_MOD
) -> DataFrame:
    """The (nlist, nprobe) tuning table for the IVF path — the exact
    counterpart of :func:`ann_recall_audit` for :func:`knn_join_ivf`:
    for each n_probe, recall@{_RECALL_K} against the exact broadcast
    search and the average number of candidates examined per query.
    More probes → more inverted lists scanned → higher recall at
    linearly higher cost; this is the FAISS nprobe sweep an operator
    runs before fixing production parameters.

    Same 1-in-50 deterministic query sample as the LSH audit, so the
    two tables are directly comparable. Shared-once stages: the exact
    pass, the centroid codebook, the inverted-list assignment, and the
    full probe ranking (each branch only filters prn <= n_probe) —
    then :func:`_recall_audit` evaluates every branch in ONE aggregate
    action, as for the other two audits.

    ``cent_mod`` scales with the index so nlist ≈ √N — the same rule
    (and the same DuckDB exact-isqrt oracle idiom) as
    :func:`ann_ivf_topk`, which adopted it in r5 after a fixed mod
    measured 62× at 30× data. This audit kept the fixed
    ``_IVF_AUDIT_MOD`` and the round-6 full-registry 30× probe caught
    it at 55.4× (278 s) — assignment and probe selection are N×nlist
    expansions, so nlist ∝ N makes them quadratic. Re-probed 5.2×
    (33.4 s) with the √N rule; the floor stays ``_IVF_AUDIT_MOD``."""

    def branches(q: DataFrame, x: DataFrame):
        n_index = x.count()
        cent_mod = (
            max(_IVF_AUDIT_MOD, n_index // isqrt(n_index)) if n_index else _IVF_AUDIT_MOD
        )
        qn = normalize_embeddings(q).select("query_id", F.col("embedding").alias("_qv"))
        xn = normalize_embeddings(x).select("neighbor_id", F.col("embedding").alias("_xv"))
        cent = xn.filter(F.col("neighbor_id") % cent_mod == 1).select(
            F.col("neighbor_id").alias("centroid_id"), F.col("_xv").alias("_cv")
        )
        # One centroid collect feeds the shared BLAS-prefiltered
        # assignment and probe ranking (operators/knn.py).
        cent_mat = _collect_centroids(cent)
        # Referenced by every n_probe branch of the union — persist so the
        # assignment runs once, not once per branch.
        inverted = _nearest_centroid(xn, cent, "neighbor_id", cent_mat=cent_mat).persist()
        probes = _probe_cells(
            qn, cent, "query_id", max(_IVF_AUDIT_PROBES), cent_mat=cent_mat, emit_rank=True
        )
        frames = {
            p: _rank_by_sim(
                probes.filter(F.col("prn") <= p)
                .select("query_id", "_qv", "centroid_id")
                .join(inverted, "centroid_id")
                .select(
                    "query_id", "neighbor_id", dot(F.col("_qv"), F.col("_xv")).alias("sim")
                )
            )
            for p in _IVF_AUDIT_PROBES
        }
        return frames, [inverted]

    return _recall_audit(
        spark, sf_dir, sample_mod, "ivf_recall_audit", "n_probe", "avg_candidates", branches
    )


# ---------------------------------------------------------------------------
# IVF codebook training: spherical k-means (the missing production step
# between "deterministic codebook" and a real 100 TB IVF deployment)
# ---------------------------------------------------------------------------

_KM_SAMPLE = 1024  # training-sample cap: nlist = isqrt(sample) stays O(1) in N
_KM_ROUNDS = 2


def _d_km_assign(x_cte: str, c_cte: str, keep_sim: bool = False) -> str:
    """One DuckDB Lloyd assignment: argmax-cosine with centroid_id
    tie-break (the window mirrors Spark's max(struct(sim, -id)))."""
    sim_col = ", sim" if keep_sim else ""
    return f"""
      SELECT neighbor_id, v, centroid_id{sim_col} FROM (
        SELECT x.neighbor_id, x.v, c.centroid_id,
               list_dot_product(x.v, c.cv) AS sim,
               ROW_NUMBER() OVER (PARTITION BY x.neighbor_id
                                  ORDER BY list_dot_product(x.v, c.cv) DESC,
                                           c.centroid_id) AS rn
        FROM {x_cte} x CROSS JOIN {c_cte} c
      ) WHERE rn = 1
    """


def _d_km_recompute(a_cte: str) -> str:
    """DuckDB spherical-mean recompute. Component sums are DECIMAL
    (order-independent, exact); the mean vector is rebuilt in pos
    order and renormalized with a SEQUENTIAL list_dot_product, so the
    refined codebook is bit-identical to the Spark side."""
    return f"""
      SELECT centroid_id,
             list_transform(m, y -> y / sqrt(list_dot_product(m, m))) AS cv
      FROM (
        SELECT centroid_id, list(CAST(s AS DOUBLE) / c ORDER BY pos) AS m
        FROM (
          SELECT centroid_id, i AS pos,
                 SUM(CAST(round(v[i], 9) AS DECIMAL(12,9))) AS s,
                 COUNT(*) AS c
          FROM {a_cte} CROSS JOIN range(1, {DIM + 1}) t(i)
          GROUP BY centroid_id, i
        ) GROUP BY centroid_id
      )
    """


@query(
    "ivf_kmeans_refine",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, {_D_VNORM} AS v FROM embeddings
    ),
    x0 AS (SELECT vec_id AS neighbor_id, v FROM n WHERE vec_id % 5 <> 0),
    smp AS (
      SELECT neighbor_id, v,
             ('0x' || substr(md5('kmsmp:' || CAST(neighbor_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM x0 ORDER BY h, neighbor_id LIMIT {_KM_SAMPLE}
    ),
    c0 AS (
      SELECT centroid_id, cv FROM (
        SELECT neighbor_id AS centroid_id, v AS cv,
               row_number() OVER (ORDER BY h, neighbor_id) AS rn,
               COUNT(*) OVER () AS n_s
        FROM smp
      ) WHERE rn <= CAST(floor(sqrt(n_s)) AS BIGINT)
    ),
    xs AS (SELECT neighbor_id, v FROM smp),
    a1 AS ({_d_km_assign('xs', 'c0')}),
    c1 AS ({_d_km_recompute('a1')}),
    a2 AS ({_d_km_assign('xs', 'c1')}),
    c2 AS ({_d_km_recompute('a2')}),
    a3 AS ({_d_km_assign('x0', 'c2', keep_sim=True)})
    SELECT centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           round(CAST(SUM(CAST(round(sim, 9) AS DECIMAL(12,9))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_sim
    FROM a3 GROUP BY centroid_id ORDER BY centroid_id
    """,
)
def ivf_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means codebook training for the IVF path — the
    FAISS ``IndexIVFFlat.train()`` analogue the deterministic codebook
    of ``ann_ivf_topk`` / ``ivf_recall_audit`` stands in for, and since
    round 5 the registered plan follows its own production rule: train
    on a DETERMINISTIC ≤{_KM_SAMPLE}-row sample (seeded-hash order +
    limit — `TakeOrderedAndProject`, the `random_sample_n` idiom) with
    nlist = ⌊√(sample rows)⌋ seeds (the sample's first rows in hash
    order), {_KM_ROUNDS} unrolled Lloyd rounds on the sample (assign to
    argmax-cosine centroid, recompute the spherical mean), then ONE
    full-index assignment reporting per-centroid membership and mean
    member-to-centroid cosine.

    Scale: the r4 probe caught the old id-residue seeding growing
    nlist ∝ N (assignment work ~N², 7.8× at 10× data); now training
    cost is O(sample · nlist) = O(1) in N and the only full-data pass
    is the final broadcast-codebook assignment — linear in N with a
    fixed ≤√{_KM_SAMPLE}·dim codebook. Training and the final pass
    share the engine's one spherical k-means (``operators/knn._lloyd``
    over ``_nearest_centroid``: a BLAS prefilter, an exact JVM
    re-score and one map-side-combined max(struct) aggregate, no
    shuffle of the product); each recompute is a posexplode →
    (centroid, dim)-ary hash-agg over sample rows only. The driver
    actions are bounded (SCALE.md §6): a count() of the persisted
    ≤{_KM_SAMPLE}-row sample and one ≤nlist-row centroid collect per
    assignment. Cross-engine parity: component sums and sim sums go through
    DECIMAL(12,9) (order-independent), and the renormalization is a
    sequential HOF reduction in both engines, so the refined codebook —
    and therefore every assignment — is bit-identical to the DuckDB
    twin."""
    import math

    e = load_table(spark, sf_dir, "embeddings")
    xn = (
        normalize_embeddings(
            e.filter(F.col("vec_id") % 5 != 0).select(
                F.col("vec_id").alias("neighbor_id"), "embedding"
            )
        )
        .select("neighbor_id", F.col("embedding").alias("_xv"))
        .persist()  # scanned by the sample pass and the final assignment
    )
    h = hash64(F.concat(F.lit("kmsmp:"), F.col("neighbor_id").cast("string")))
    smp = (
        xn.orderBy(h.asc(), F.col("neighbor_id").asc())
        .limit(_KM_SAMPLE)
        .persist()  # scanned once per Lloyd round
    )
    nlist = math.isqrt(smp.count())  # bounded action: ≤ _KM_SAMPLE rows
    seeds = (
        smp.orderBy(h.asc(), F.col("neighbor_id").asc())
        .limit(nlist)
        .select(F.col("neighbor_id").alias("centroid_id"), F.col("_xv").alias("_cv"))
    )
    cent, rounds = _lloyd(smp, seeds, "neighbor_id", _KM_ROUNDS)
    final = _nearest_centroid(xn, cent, "neighbor_id")
    result = (
        final.groupBy("centroid_id")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum(F.round(F.col("sim"), 9).cast("decimal(12,9)")).alias("_ssim"),
        )
        .select(
            "centroid_id",
            "n_members",
            F.round(F.col("_ssim").cast("double") / F.col("n_members"), 6).alias(
                "avg_sim"
            ),
        )
        .orderBy("centroid_id")
    )
    result._cached_deps = [xn, smp, *rounds]  # library callers: unpersist when done
    return result
