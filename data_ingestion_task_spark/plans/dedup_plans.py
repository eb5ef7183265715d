"""Deduplication plans — first-class training-data pipeline operators:
exact (hash-groupBy), MinHash+LSH banding, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

The testdata documents are synthetic word-soup (max pairwise Jaccard
≈ 0.02), so the exact/MinHash plans PLANT deterministic duplicates
inside the query (identical copies at doc_id+200000; near-dup copies
with the first 5 words dropped at doc_id+100000) and verify the
pipeline recovers exactly those pairs — a self-contained recall test
the DuckDB oracle reproduces bit-for-bit.

Scale notes (100 TB):
- exact dedup = one shuffle on the 128-bit fingerprint; map-side
  partial counts make the agg skew-tolerant.
- MinHash: signatures are a narrow map stage (explode→min-agg is
  per-doc); the LSH band join shuffles on short band keys, candidate
  verification touches only colliding pairs — O(N·bands) not O(N²).
- SimHash: one pass, 24 aggregate bit-sums per doc, then radix-split
  by signature prefix for hamming search.
- embedding near-dup: the brute pair scan here is the oracle-exact
  baseline; the scale path reuses the LSH bucket join of
  ``operators.knn.knn_join_lsh``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.cache import ReleaseHandle, release_frame
from ..functions.text import fingerprint_md5, hash64, word_len, word_shingles, words
from ..sources.tables import load_table
from .registry import query

N_MINHASH = 8
N_BANDS = 4  # 2 minhash values per band

# ---------------------------------------------------------------------------
# Shared DuckDB fragments
# ---------------------------------------------------------------------------

_D_NORM_TEXT = (
    "regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9\\s]', '', 'g'), "
    "'\\s+', ' ', 'g')"
)
_D_WS = "str_split_regex(trim(text), '\\s+')"

# 3-word shingles over the normalized text (matches functions.text.word_shingles)
_D_SHINGLES = (
    f"list_distinct(list_transform("
    f"generate_series(1, greatest(len(str_split({_D_NORM_TEXT}, ' ')) - 2, 1)), "
    f"i -> array_to_string(str_split({_D_NORM_TEXT}, ' ')[i : i+2], ' ')))"
)


def _d_hash64(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


# MinHash signatures over ``sh(doc_id, h)`` (one row per hashed
# shingle) and their band keys over ``sigs``, as DuckDB CTE bodies.
_D_SIGS = "SELECT doc_id, " + ", ".join(
    "MIN(" + _d_hash64(f"'{i}:' || CAST(h AS VARCHAR)") + f") AS sig{i}"
    for i in range(N_MINHASH)
) + " FROM sh GROUP BY doc_id"
_D_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, 'b{b}:' || CAST(sig{2*b} AS VARCHAR) || ':' || "
    f"CAST(sig{2*b+1} AS VARCHAR) AS band_key FROM sigs"
    for b in range(N_BANDS)
)

# Corpus with planted duplicates, as a DuckDB CTE body.
_D_CORPUS = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id,
             array_to_string({_D_WS}[6 : len({_D_WS})], ' ') AS text
      FROM documents WHERE doc_id < 100
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id < 30
"""


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents + planted near-dups (first 5 words dropped, +100000)
    + planted exact dups (+200000)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ws = words(F.col("text"))
    near = (
        d.filter(F.col("doc_id") < 100)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat_ws(" ", F.slice(ws, 6, F.size(ws) - 5)).alias("text"),
        )
    )
    exact = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return d.unionByName(near).unionByName(exact)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle=f"""
    WITH corpus AS ({_D_CORPUS}),
    fp AS (
      SELECT doc_id, md5({_D_NORM_TEXT}) AS fingerprint FROM corpus
    )
    SELECT fingerprint, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies
    FROM fp GROUP BY fingerprint HAVING COUNT(*) >= 2
    ORDER BY canonical_doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 fingerprint of normalized text → hash-groupBy
    → keep min doc_id as canonical. Emits only duplicate groups (the
    30 planted identical copies must all be recovered)."""
    c = _corpus(spark, sf_dir)
    return (
        c.select("doc_id", fingerprint_md5(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") >= 2)
        .orderBy("canonical_doc_id")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


# The MinHash kernel as SQL text, parsed on the JVM in one call per
# projection. A Column-built expression costs one py4j round trip per
# node and ~20 ms per ``transform`` lambda: the 8 salted signatures
# took ~0.2 s of driver time per call that way, paid again on every
# streaming micro-batch. The text is the Column form node for node
# (``functions.text.hash64`` over a salted shingle hash; Jaccard as a
# DOUBLE ratio of sizes), so the DuckDB oracles above pin it. Columns
# are built from it only inside the functions below, never at import.
_SIG_SQL = tuple(
    f"array_min(transform(hs, h -> CAST(conv(substring(md5("
    f"concat('{i}:', CAST(h AS STRING))), 1, 15), 16, 10) AS BIGINT))) AS sig{i}"
    for i in range(N_MINHASH)
)
_BAND_KEYS_SQL = "array(" + ", ".join(
    f"concat('b{b}:', CAST(sig{2*b} AS STRING), ':', CAST(sig{2*b+1} AS STRING))"
    for b in range(N_BANDS)
) + ")"
_JACCARD_SQL = "CAST(size(array_intersect({a}, {b})) AS DOUBLE) / size(array_union({a}, {b}))"


def hashed_shingles(text: F.Column, k: int = 3) -> F.Column:
    """Distinct int64-hashed word ``k``-shingles of ``text`` — the
    shared signature base of the certified ``dedup_minhash_lsh``, the
    near-dup band registry and the streaming near-dup gates (all feed
    it through :func:`minhash_sigs` to :func:`band_rows`, so batch and
    stream cannot drift apart on what "near-identical" means; this
    query's DuckDB oracle pins the expression)."""
    return F.array_distinct(F.transform(word_shingles(text, k), lambda s: hash64(s)))


def minhash_sigs(hsl: DataFrame, keep_cols: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """(keep_cols…, hs: array<bigint> hashed shingles) → 8 minhash
    values: min over re-salted hashes of each shingle hash. Computed as
    ``array_min(transform(...))`` over the array — a NARROW map stage
    (the explode→groupBy formulation costs a full shuffle of every
    shingle; this costs none) — in one ``selectExpr`` of
    :data:`_SIG_SQL`."""
    return hsl.selectExpr(*(f"`{c}`" for c in keep_cols), *_SIG_SQL)


def band_rows(sigs: DataFrame) -> DataFrame:
    """:func:`minhash_sigs` output → exploded ``(carried cols…,
    band_key)``, 4 band keys per doc (``b{b}:sig:sig`` strings, 4
    bands of 2 signatures). The ONE band signature of the
    dedup family — the batch pair query, the near-dup band registry and
    the streaming gates all call it. It starts from the signatures, not
    the shingles, so the batch query can band the signatures it has
    persisted. Pure column work, so it runs identically on batch and
    streaming frames.

    A doc shorter than one shingle has NULL minhashes → NULL band
    keys; a batch equi-join never matches NULL, but a streaming
    groupBy WOULD group them — the rows are dropped so shingle-less
    docs are never near-dup candidates on either engine."""
    sig_cols = {f"sig{i}" for i in range(N_MINHASH)}
    carried = [f"`{c}`" for c in sigs.columns if c not in sig_cols]
    return sigs.selectExpr(*carried, f"explode({_BAND_KEYS_SQL}) AS band_key").filter(
        "band_key IS NOT NULL"
    )


def _jaccard(a: str, b: str) -> F.Column:
    """Exact Jaccard similarity of the array columns named ``a`` and ``b``."""
    return F.expr(_JACCARD_SQL.format(a=a, b=b))


def verified_pairs(bands: DataFrame, hsl: DataFrame, threshold: float) -> DataFrame:
    """LSH candidates verified by exact Jaccard: ``(doc_a < doc_b,
    jaccard)`` for every pair sharing a band key (``bands``: doc_id,
    band_key) whose hashed-shingle sets (``hsl``: doc_id, hs) reach
    ``threshold``. Ids are joined and deduplicated first, and the
    shingle arrays joined back at pair grain — collision alone never
    convicts."""
    bk = bands.select("doc_id", "band_key")
    cand = (
        bk.alias("a")
        .join(bk.alias("b"), "band_key")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    joined = (
        cand.join(hsl.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("sh_a")), "doc_a")
        .join(hsl.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("sh_b")), "doc_b")
    )
    return (
        joined.select("doc_a", "doc_b", _jaccard("sh_a", "sh_b").alias("j"))
        .filter(F.col("j") >= threshold)
        .select("doc_a", "doc_b", F.round("j", 9).alias("jaccard"))
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH corpus AS ({_D_CORPUS}),
    hsl AS (
      SELECT doc_id,
             list_distinct(list_transform({_D_SHINGLES},
               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs
      FROM corpus
    ),
    sh AS (SELECT doc_id, unnest(hs) AS h FROM hsl),
    sigs AS ({_D_SIGS}),
    bands AS ({_D_BANDS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b USING (band_key)
      WHERE a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
                 / len(list_distinct(x.hs || y.hs)), 9) AS jaccard
    FROM cand c JOIN hsl x ON x.doc_id = c.doc_a JOIN hsl y ON y.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
          / len(list_distinct(x.hs || y.hs)) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline: shingle → 60-bit hash per
    shingle → 8 salted min-hashes → 4 bands of 2 → band-key equi-join
    → exact Jaccard verification of candidates only, threshold 0.5.
    Recovers the planted first-5-words-dropped copies (Jaccard ≈ 0.9)
    plus the exact copies, without any all-pairs comparison.

    Shingles are hashed to int64 BEFORE the persisted stage: caching
    long arrays is ~10× cheaper than caching string arrays (columnar
    cache builds dominate otherwise), Jaccard verification compares
    longs not strings, and both engines hash identically so parity is
    unaffected. The hashed-shingle array and its 8 signatures are
    computed in one projection, persisted once, and reused by the band
    keys and by verification.

    Caching contract: the returned (lazy) DataFrame references ONE
    persisted intermediate, ``(doc_id, hs, sig0..sig7)``, exposed as
    ``result._cached_deps`` — library callers that keep the session
    alive after collecting should release it (``api.release``; the
    bench harness clears all caches per query, so this only matters
    for long-lived embedding sessions)."""
    pairs, deps = _minhash_pairs(spark, _corpus(spark, sf_dir))
    result = pairs.orderBy("doc_a", "doc_b")
    result._cached_deps = deps  # see docstring caching contract
    return result


def _minhash_pairs(spark: SparkSession, corpus: DataFrame) -> tuple[DataFrame, list]:
    """:func:`dedup_minhash_lsh`'s verified pairs over ``corpus``
    (doc_id, text), unsorted, plus the one persisted intermediate (its
    caching contract) to release.

    The cache is filled by the caller's first action, not by an eager
    ``count()``: AQE materializes it as a query stage of its own before
    the stages that scan it (both band self-join sides, both
    verification joins) run, so a ``count()`` would only add a job.
    Without the cache every scan would redo the shingle hashing
    (measured 44% slower at sf0.1 on 4 vCPU)."""
    # repartition BEFORE the md5-heavy shingle map: the 3-way union
    # otherwise yields one partition per branch, serializing the
    # hashing; hash-partitioning by doc_id also pre-shuffles for the
    # verification joins and parallelizes the columnar cache build.
    hsl = corpus.repartition(spark.sparkContext.defaultParallelism, "doc_id").select(
        "doc_id", hashed_shingles(F.col("text"), 3).alias("hs")
    )
    sigs = minhash_sigs(hsl, ("doc_id", "hs")).persist()
    return verified_pairs(band_rows(sigs), sigs, 0.5), [sigs]


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

N_SIMHASH_BITS = 24


@query(
    "dedup_simhash",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_d_hash64("unnest(" + _D_SHINGLES + ")")} AS h FROM documents
    ),
    bits AS (
      SELECT doc_id,
             {", ".join(
               f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
               for b in range(N_SIMHASH_BITS)
             )}
      FROM sh GROUP BY doc_id
    )
    SELECT doc_id,
           {" + ".join(f"(CASE WHEN s{b} > 0 THEN 1 ELSE 0 END) * {1 << b}" for b in range(N_SIMHASH_BITS))} AS simhash
    FROM bits ORDER BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (24-bit): per-shingle salted hash, per-bit ±1 majority
    vote, bits reassembled into one integer signature. Near-dups then
    reduce to hamming-distance ≤ t on the signature (radix-split by
    prefix at scale).

    Computed as a NARROW map: hash the shingle array once per doc,
    then 24 ``size(filter(...))`` bit-counts over that array — the
    majority vote ``sum(±1) > 0`` is equivalent to ``2·popcount >
    n``. No explode, no shuffle (the explode→groupBy form shuffles
    every (doc, shingle) row)."""
    d = load_table(spark, sf_dir, "documents", split=True)
    hs = d.select(
        "doc_id",
        F.transform(
            F.array_distinct(word_shingles(F.col("text"), 3)), lambda s: hash64(s)
        ).alias("hs"),
    )
    n = F.size("hs")
    simhash = None
    for b in range(N_SIMHASH_BITS):
        # single-parameter lambda (see minhash_sigs note); the loop
        # variable is bound immediately — filter() builds the
        # expression synchronously.
        cnt = F.size(
            F.filter(F.col("hs"), lambda h: F.shiftright(h, b).bitwiseAND(1) == 1)
        )
        term = F.when(cnt * 2 > n, F.lit(1 << b)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return hs.select("doc_id", simhash.cast("bigint").alias("simhash")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Brute-force n-gram Jaccard (oracle-exact baseline)
# ---------------------------------------------------------------------------


@query(
    "ngram_jaccard_topk",
    oracle=f"""
    WITH shl AS (
      SELECT doc_id, {_D_SHINGLES} AS sh FROM documents WHERE doc_id < 60
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(a.sh || b.sh)), 9) AS jaccard
    FROM shl a JOIN shl b ON a.doc_id < b.doc_id
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise 3-gram Jaccard, top-20 most-similar pairs — the
    brute-force baseline the MinHash path approximates (bounded to a
    60-doc prefix: quadratic by design, for verification only)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    shl = d.select("doc_id", F.array_distinct(word_shingles(F.col("text"), 3)).alias("sh"))
    a = shl.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = shl.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    pairs = a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b"))
    jac = _jaccard("sh_a", "sh_b")
    return (
        pairs.select("doc_a", "doc_b", F.round(jac, 9).alias("jaccard"))
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

_D_VNORM = (
    "list_transform(CAST(embedding AS DOUBLE[]), "
    "x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))))"
)


def embedding_near_dup_pairs(
    e: DataFrame,
    threshold: float,
    dim: int,
    method: str = "exact",
    n_bits: int = 4,
    max_index_rows: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine near-duplicate pairs ``(vec_a < vec_b, sim > threshold)``
    with an EXPLICIT scale route (``e`` must be pre-L2-normalized):

    - ``method="exact"`` — BLAS-prefiltered broadcast candidates
      (``candidate_pairs_vectorized``, lossless threshold−1e-6 margin)
      + exact JVM re-score: bit-identical to the naive all-pairs plan.
      Gated: above ``max_index_rows`` (default 1M) it raises
      :class:`~..operators.knn.BroadcastIndexTooLarge` rather than OOM
      the driver.
    - ``method="lsh"`` — the above-cap branch: candidates are the
      hyperplane-LSH bucket self-join (equi-join on a 2^n_bits key, no
      broadcast, shuffle O(N)); each candidate gets the SAME exact JVM
      dot + threshold predicate, so precision is 1.0 and only recall
      is approximate (cross-bucket pairs are missed; fewer bits →
      bigger buckets → higher recall at more candidate cost).

    The route is a caller decision, never a silent data-size fallback:
    the two methods return different answer SETS, so flipping between
    them must be visible at the call site."""
    from ..functions.vectors import dot
    from ..operators.knn import candidate_pairs_vectorized, lsh_signature

    if method == "exact":
        kwargs = {} if max_index_rows is None else {"max_index_rows": max_index_rows}
        cand = candidate_pairs_vectorized(
            e.select(F.col(id_col).alias("vec_b"), vec_col),
            e.select(F.col(id_col).alias("vec_a"), vec_col),
            query_id="vec_a",
            index_id="vec_b",
            threshold=threshold,
            upper_triangle=True,
            **kwargs,
        )
    elif method == "lsh":
        sig = e.select(
            F.col(id_col),
            lsh_signature(F.col(vec_col), n_bits, dim).alias("bucket"),
        )
        cand = (
            sig.select(F.col(id_col).alias("vec_a"), "bucket")
            .join(sig.select(F.col(id_col).alias("vec_b"), "bucket"), "bucket")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b")
        )
    else:
        raise ValueError(f"method must be 'exact' or 'lsh', got {method!r}")

    a = e.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"))
    b = e.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"))
    sim = dot(F.col("va"), F.col("vb"))
    joined = cand.join(a, "vec_a")
    # Exact mode's candidate set is ~|answer|-sized, so broadcasting the
    # b side keeps the re-score shuffle-free; the LSH branch joins two
    # distributed sides on ids instead (nothing is broadcast-sized).
    joined = joined.join(F.broadcast(b) if method == "exact" else b, "vec_b")
    return (
        joined.select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") > threshold)
        .select("vec_a", "vec_b", F.round("sim", 9).alias("sim"))
        .orderBy("vec_a", "vec_b")
    )


@query(
    "embedding_near_dup",
    oracle=f"""
    WITH n AS (SELECT vec_id, {_D_VNORM} AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.v, b.v), 9) AS sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) > 0.35
    ORDER BY vec_a, vec_b
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim > 0.35), exact.
    Candidate pairs come from one BLAS matmul per Arrow batch against
    the broadcast matrix (threshold − 1e-6 margin → provably lossless
    prefilter); each candidate is then re-scored with the JVM-side
    sequential dot product, so output is bit-identical to the naive
    all-pairs plan while scoring only ~|answer| pairs. Above the 1M-row
    broadcast cap this EXACT route raises ``BroadcastIndexTooLarge``
    (fail-loud, never silent degradation); callers past the cap choose
    :func:`embedding_near_dup_pairs` with ``method="lsh"`` — same
    exact predicate over LSH bucket candidates, recall documented < 1
    (tests/test_dedup.py exercises the >cap path both ways)."""
    from ..operators.knn import normalize_embeddings

    e = normalize_embeddings(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    return embedding_near_dup_pairs(e, threshold=0.35, dim=64, method="exact")


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components + canonical election
# ---------------------------------------------------------------------------


def _d_minhash_pairs_cte() -> str:
    """The verified MinHash-LSH pair pipeline as a reusable CTE body
    (same construction as the dedup_minhash_lsh oracle)."""
    return f"""
    corpus AS ({_D_CORPUS}),
    hsl AS (
      SELECT doc_id,
             list_distinct(list_transform({_D_SHINGLES},
               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs
      FROM corpus
    ),
    sh AS (SELECT doc_id, unnest(hs) AS h FROM hsl),
    sigs AS ({_D_SIGS}),
    bands AS ({_D_BANDS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b USING (band_key)
      WHERE a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c JOIN hsl x ON x.doc_id = c.doc_a JOIN hsl y ON y.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
            / len(list_distinct(x.hs || y.hs)) >= 0.5
    )"""


# Verified-pair count up to which connected components are labelled on
# the driver: 2M pairs are 32 MB of int64 ids, so the whole graph makes
# one Arrow round-trip instead of a shuffle per round. Larger graphs
# take star contraction, which holds at any size.
_DRIVER_CC_MAX_PAIRS = 2_000_000

_D_CLUSTER_ORACLE = f"""
    WITH RECURSIVE
    {_d_minhash_pairs_cte()},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT doc_id AS src, doc_id AS node FROM corpus
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    ),
    comp AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src)
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
           (doc_id = cluster_id) AS is_canonical
    FROM comp ORDER BY doc_id
    """


def _driver_components(a: np.ndarray, b: np.ndarray) -> pd.DataFrame:
    """Connected components of the undirected edges ``(a[i], b[i])``
    by hook-and-shortcut over numpy arrays. Returns one row per
    edge-touching node: ``doc_id``, ``cluster_id`` (the component's
    min id) and ``cluster_size``.

    Nodes are relabelled to indices into their sorted unique ids, so
    the min index of a component is its min doc id. Parents only ever
    point at smaller indices in the same component: each round hooks
    both endpoints' parents to the smaller of the two, then
    shortcuts (``lab = lab[lab]``) until every node points at a root.
    A round that changes nothing leaves one root per component."""
    nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = idx[: len(a)], idx[len(a) :]
    lab = np.arange(len(nodes))
    while True:
        prev = lab.copy()
        np.minimum.at(lab, prev[u], prev[v])
        np.minimum.at(lab, prev[v], prev[u])
        nxt = lab[lab]
        while not np.array_equal(nxt, lab):
            lab, nxt = nxt, nxt[nxt]
        if np.array_equal(lab, prev):
            break
    return pd.DataFrame(
        {"doc_id": nodes, "cluster_id": nodes[lab], "cluster_size": np.bincount(lab)[lab]}
    )


def _star_components(edges: DataFrame, max_rounds: int = 50) -> tuple[DataFrame, list]:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log n) rounds on ANY graph shape, with no driver
    memory bound: the route :func:`_cluster` takes for graphs above
    :data:`_DRIVER_CC_MAX_PAIRS`. Per round: one groupBy-min + one
    join per star op.

    ``edges``: symmetric directed pairs (a, b) — both directions
    present, no self-loops. Returns ``(labels, cached)``: a
    (doc_id, cluster_id) frame over every edge-touching node with
    cluster_id = MIN node id of its component, plus the list of
    persisted intermediates for the caller to release (via
    ``functions.cache.release_frame`` — checkpointed frames don't free
    through plain ``unpersist``). Each of the ``max_rounds`` loop
    iterations checkpoints ONE large/small star pair: composing two
    per checkpoint was measured 4× slower at sf0.1 (56.0 s vs 13.3 s,
    same session and load) — AQE already makes one driver round-trip
    per shuffle stage, so composing saves no coordination, while the
    doubled plan defeats exchange reuse around star()'s ~4
    self-references."""

    def star(e: DataFrame, large: bool) -> DataFrame:
        neigh = e if large else e.filter(F.col("b") < F.col("a"))
        mins = (
            neigh.groupBy("a")
            .agg(F.min("b").alias("_mn"))
            .select("a", F.least(F.col("_mn"), F.col("a")).alias("m"))
        )
        src = e.filter(F.col("b") > F.col("a")) if large else neigh
        pointed = src.join(mins, "a").select(F.col("b").alias("x"), F.col("m"))
        if not large:
            pointed = pointed.unionByName(
                mins.select(F.col("a").alias("x"), F.col("m"))
            )
        und = pointed.filter(F.col("x") != F.col("m")).select(
            F.col("x").alias("a"), F.col("m").alias("b")
        )
        return (
            und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .distinct()
        )

    cached: list = []
    cur = edges
    prev_sig = None
    # Partition budget for the per-round checkpoints: inherit the
    # (AQE-coalesced) width of the input edge set rather than letting
    # union+distinct double it every round — on a small corpus the
    # loop otherwise materializes 64/128-task micro-stages whose
    # scheduling overhead dominates (measured ~2x of the loop cost at
    # sf0.1); at scale the input width carries the right parallelism.
    parts = max(edges.rdd.getNumPartitions(), 1)
    for _round in range(max_rounds):
        # localCheckpoint (not persist): TRUNCATES the logical plan.
        # With persist alone, each round's plan nests the previous
        # round's full lineage — Catalyst re-analyzes a tree that
        # grows ~6 operators/round and per-round wall time balloons
        # (measured: 6→10s→minutes by round 2 on a 59-edge chain).
        # Checkpointing keeps analysis cost constant; same reason
        # GraphFrames' connectedComponents checkpoints.
        nxt = (
            star(star(cur, large=True), large=False)
            .coalesce(parts)
            .localCheckpoint(eager=True)
        )
        # Convergence probe: canonical (a<b) edge multiset fingerprint.
        sig = (
            nxt.filter(F.col("a") < F.col("b"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                # decimal sum: a bigint sum of hashes overflows, which
                # ANSI mode turns into a hard error (this helper also
                # runs outside the registry wrapper's ANSI-off pin)
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
            )
            .collect()[0]
        )
        sig = (sig["n"], sig["h"])
        if cur in cached:
            release_frame(cur)  # checkpoint blocks live on the RDD
            cached.remove(cur)
        cur = nxt
        cached.append(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"star contraction unconverged after {max_rounds} rounds — "
            "not reachable for any graph with < 2^50 nodes; indicates a bug"
        )
    # Converged: components are stars rooted at their min id. Leaves
    # point at the root (leaf > root); roots label themselves.
    leaves = (
        cur.filter(F.col("a") > F.col("b"))
        .groupBy(F.col("a").alias("doc_id"))
        .agg(F.min("b").alias("cluster_id"))
    )
    roots = (
        cur.select(F.col("b").alias("doc_id"))
        .distinct()
        .join(leaves.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    return leaves.unionByName(roots), cached


def _cluster(spark: SparkSession, corpus: DataFrame, star: bool = False) -> DataFrame:
    """Near-dup pairs → connected components → canonical election:
    every corpus doc with its cluster id (the component's min doc id),
    cluster size, and whether it is the cluster's canonical
    representative.

    Routes on the verified pair count, read by collecting at most
    :data:`_DRIVER_CC_MAX_PAIRS` + 1 pairs unsorted through Arrow:

    * at or under the cap, :func:`_driver_components` labels the graph
      in numpy and the labels return through one
      ``createDataFrame(pandas)`` (with Arrow on, as ``get_spark``
      sets it, decoded JVM-side: no Python worker);
    * above it, or with ``star=True``, the pairs are symmetrized into a
      persisted edge set and contracted by :func:`_star_components`.

    Docs touching no pair never enter either kernel: the corpus
    left-joins the labels and unmatched docs are their own size-1
    cluster. ``corpus`` (``doc_id``, ``text``) is the caller's one
    build, used as both the MinHash input and the left side of that
    join.

    Caching contract: ``_cached_deps`` holds the one MinHash cache
    (filled by the route's first action: the driver route's
    ``toPandas``, or the star route's edge-cache count), plus the star
    route's edge cache and checkpointed loop survivor as ReleaseHandles
    (their blocks live on the RDD, so plain ``unpersist`` would not
    free them)."""
    pairs, deps = _minhash_pairs(spark, corpus)
    pairs = pairs.select("doc_a", "doc_b")
    local = None if star else pairs.limit(_DRIVER_CC_MAX_PAIRS + 1).toPandas()
    if local is not None and len(local) <= _DRIVER_CC_MAX_PAIRS:
        # at most 2 rows per pair (4M at the cap): broadcast, so the
        # corpus side of the join never shuffles
        labels = F.broadcast(
            spark.createDataFrame(
                _driver_components(
                    local["doc_a"].to_numpy("int64"), local["doc_b"].to_numpy("int64")
                ),
                "doc_id long, cluster_id long, cluster_size long",
            )
        )
    else:
        # Symmetrize in ONE pass over the verified pairs: a union of
        # pairs with its own swap would run the LSH candidate+verify
        # join TWICE into the edge cache.
        edges = (
            pairs.select(
                F.explode(
                    F.array(
                        F.struct(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")),
                        F.struct(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")),
                    )
                ).alias("e")
            )
            .select("e.a", "e.b")
            .persist()
        )
        edges.count()  # materialize before the loop fans out over it
        stars, cached = _star_components(edges)
        labels = stars.withColumn(
            "cluster_size",
            F.count("*").over(Window.partitionBy("cluster_id")).cast("bigint"),
        )
        deps = [edges] + [ReleaseHandle(c) for c in cached] + deps
    cluster_id = F.coalesce("cluster_id", "doc_id")
    result = (
        corpus.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            cluster_id.alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1).cast("bigint")).alias("cluster_size"),
            (F.col("doc_id") == cluster_id).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )
    result._cached_deps = deps
    return result


@query("dedup_cluster_canonical", oracle=_D_CLUSTER_ORACLE)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's last step: near-dup pairs → connected
    components → canonical-document election (keep min id per
    cluster) — what a training-data pipeline actually deletes by.

    :func:`_cluster` routed on the pair count: graphs up to
    :data:`_DRIVER_CC_MAX_PAIRS` verified pairs are labelled on the
    driver in one Arrow round-trip, larger ones by star contraction.
    Below the cap per-round driver coordination would be the whole
    cost of a distributed loop, so that route runs no per-round jobs."""
    return _cluster(spark, _corpus(spark, sf_dir))


@query("dedup_cluster_star", oracle=_D_CLUSTER_ORACLE)
def dedup_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_cluster_canonical's contract pinned to the above-cap
    route, large-star / small-star contraction
    (:func:`_star_components`): identical output (same oracle), so the
    route that only large graphs take stays under the oracle gate at
    test size. O(log n) rounds regardless of component diameter
    (pinned by the 60-node chain in tests/test_plan_properties.py)."""
    return _cluster(spark, _corpus(spark, sf_dir), star=True)


# ---------------------------------------------------------------------------
# Dedup-aware sampling weights: soft dedup as a mixture input
# ---------------------------------------------------------------------------


@query(
    "dedup_sampling_weights",
    oracle=f"""
    WITH RECURSIVE
    {_d_minhash_pairs_cte()},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT doc_id AS src, doc_id AS node FROM corpus
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    ),
    comp AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src),
    sized AS (
      SELECT doc_id, COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM comp
    ),
    toks AS (
      SELECT doc_id,
             CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                  ELSE len(str_split_regex(trim(text), '\\s+')) END AS tok
      FROM corpus
    ),
    joined AS (
      SELECT s.doc_id, s.cluster_size, t.tok, d.source
      FROM sized s JOIN toks t USING (doc_id)
      JOIN documents d ON d.doc_id = s.doc_id % 100000
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_duped_docs,
           CAST(SUM(tok) AS BIGINT) AS raw_tokens,
           round(CAST(SUM((tok * 1000000) // cluster_size) AS DOUBLE) / 1000000, 6)
             AS weighted_tokens
    FROM joined GROUP BY source ORDER BY source
    """,
)
def dedup_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup as a mixture input: instead of hard-deleting near
    duplicates, weight every document 1/cluster_size (each duplicate
    cluster contributes one document's worth of probability mass —
    the count-based downweighting used when exact deletion would bias
    a corpus), then roll the dedup-adjusted token mass up per source.
    ``weighted_tokens`` is what the mixture sampler
    (pretrain_plans.mixture_weighted_sample / mixture_temperature)
    should budget against instead of ``raw_tokens``; the gap between
    the two columns is each source's duplication inflation.

    Cross-engine exactness: per-doc weighted tokens are computed as
    the integer floor of tok·10⁶/cluster_size (both engines use
    bigint floor-division), so the per-source sum is order-independent
    and exact — no float accumulation; the single final division is
    deterministic.

    Plan shape: the verified cluster assignment is
    :func:`dedup_cluster_canonical`'s :func:`_cluster` (labelled on the
    driver in one Arrow round-trip up to its pair cap, by star
    contraction above it), over the same corpus build that gives the
    token counts; on top of it this adds one broadcast join to the documents
    dim (planted copies resolve their source via base_id = doc_id %
    100000) and one source-cardinality hash agg — map-side partial
    aggregation absorbs the corpus volume."""
    corpus = _corpus(spark, sf_dir)
    clusters = _cluster(spark, corpus)
    toks = corpus.select("doc_id", word_len(F.col("text")).alias("tok"))
    src = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("base_id"), "source"
    )
    joined = (
        clusters.select("doc_id", "cluster_size")
        .join(toks, "doc_id")
        .withColumn("base_id", F.col("doc_id") % 100000)
        .join(F.broadcast(src), "base_id")
    )
    out = (
        joined.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("cluster_size") > 1).cast("bigint")).alias("n_duped_docs"),
            F.sum("tok").cast("bigint").alias("raw_tokens"),
            F.round(
                F.sum(F.expr("(tok * CAST(1000000 AS BIGINT)) div cluster_size")).cast(
                    "double"
                )
                / 1000000,
                6,
            ).alias("weighted_tokens"),
        )
        .orderBy("source")
    )
    out._cached_deps = clusters._cached_deps
    return out


# ---------------------------------------------------------------------------
# Incremental (delta) ingest dedup: today's batch vs the standing corpus
# ---------------------------------------------------------------------------


# The planted corpus plus 10 same-batch exact copies at +300000
# (sources 30..57 ≡ 0 mod 3, which the +200000 corpus plants don't
# cover), fingerprinted: the two delta-dedup queries' shared input.
_D_DELTA_FP = f"""
    corpus AS (
      {_D_CORPUS}
      UNION ALL
      SELECT doc_id + 300000 AS doc_id, text FROM documents
      WHERE doc_id >= 30 AND doc_id < 60 AND doc_id % 3 = 0
    ),
    fp AS (SELECT doc_id, md5({_D_NORM_TEXT}) AS fingerprint FROM corpus)"""


def _delta_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, fingerprint)`` over :data:`_D_DELTA_FP`'s corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch_plants = docs.filter(
        (F.col("doc_id") >= 30) & (F.col("doc_id") < 60) & (F.col("doc_id") % 3 == 0)
    ).select((F.col("doc_id") + 300000).alias("doc_id"), "text")
    return (
        _corpus(spark, sf_dir)
        .unionByName(batch_plants)
        .select("doc_id", fingerprint_md5(F.col("text")).alias("fingerprint"))
    )


def exact_verdicts(batch_fp: DataFrame, store: DataFrame | None) -> DataFrame:
    """The exact-dedup verdict rule: judge ``(doc_id, fingerprint)``
    batch rows against ``store`` rows ``(fingerprint, corpus_doc_id)``
    — or against nothing (``None``: the first-ingest case). Returns
    ``(doc_id, fingerprint, verdict, canonical_doc_id)`` with
    ``dup_of_corpus`` (canonical = the store's doc) > ``dup_in_batch``
    (earliest batch doc_id is canonical) > ``new``."""
    b = batch_fp.withColumn(
        "first_in_batch", F.min("doc_id").over(Window.partitionBy("fingerprint"))
    )
    if store is None:
        joined = b.withColumn("corpus_doc_id", F.lit(None).cast("long"))
    else:
        joined = b.join(store, "fingerprint", "left")
    return joined.select(
        "doc_id",
        "fingerprint",
        F.when(F.col("corpus_doc_id").isNotNull(), F.lit("dup_of_corpus"))
        .when(F.col("doc_id") != F.col("first_in_batch"), F.lit("dup_in_batch"))
        .otherwise(F.lit("new"))
        .alias("verdict"),
        F.coalesce("corpus_doc_id", "first_in_batch").alias("canonical_doc_id"),
    )


@query(
    "incremental_ingest_dedup",
    oracle=f"""
    WITH {_D_DELTA_FP},
    batch AS (SELECT doc_id, fingerprint FROM fp WHERE doc_id % 3 = 0),
    store AS (SELECT fingerprint, MIN(doc_id) AS corpus_doc_id
              FROM fp WHERE doc_id % 3 <> 0 GROUP BY fingerprint),
    b AS (SELECT doc_id, fingerprint,
                 MIN(doc_id) OVER (PARTITION BY fingerprint) AS first_in_batch
          FROM batch)
    SELECT b.doc_id,
           CASE WHEN s.corpus_doc_id IS NOT NULL THEN 'dup_of_corpus'
                WHEN b.doc_id <> b.first_in_batch THEN 'dup_in_batch'
                ELSE 'new' END AS verdict,
           COALESCE(s.corpus_doc_id, b.first_in_batch) AS canonical_doc_id
    FROM b LEFT JOIN store s USING (fingerprint)
    ORDER BY doc_id
    """,
)
def incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-ingest dedup — the batch operator a daily 100 TB pipeline
    actually runs between full-corpus passes: an arriving batch is
    checked against the standing corpus's fingerprint store (exact
    md5-of-normalized-text, the ``dedup_exact`` fingerprint) and
    against itself, and every batch doc gets a three-way verdict:
    ``dup_of_corpus`` (fingerprint already in the store — canonical is
    the store's doc), ``dup_in_batch`` (first occurrence inside this
    batch wins — earliest doc_id is canonical), or ``new``.

    Completes the ingest-dedup triptych: full-corpus batch
    (:func:`dedup_exact`), continuous within-watermark streaming
    (``streaming/dedup.py``), and this bounded delta join. The
    reference's ingest loop re-checks arriving OCR outputs against
    previously processed checksums the same way
    (`code/python/ocr_agent_8_29.py:21-33`).

    Split: batch = ``doc_id % 3 == 0`` of :func:`_delta_fingerprints`
    (the planted corpus plus the +300000 same-batch copies) — mod 3
    splits each planted exact pair (i, i+200000) across the boundary
    for i ≢ 2, so all three verdicts are exercised and oracle-checked.

    100 TB shape: the store side is a *fingerprint table*, not the
    corpus — 16 bytes/doc, maintained incrementally (this query derives
    it with one hash agg only because the gate needs a self-contained
    plan). Production keeps it bucketed by fingerprint
    (``sources/bucketing.py``), so the batch→store left join is a
    shuffle-on-batch-only bucket join: the daily delta (≪ corpus)
    shuffles, the store never rewrites, and the within-batch window is
    per-fingerprint grain bounded by the batch itself."""
    fp = _delta_fingerprints(spark, sf_dir)
    store = (
        fp.filter(F.col("doc_id") % 3 != 0)
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("corpus_doc_id"))
    )
    return (
        exact_verdicts(fp.filter(F.col("doc_id") % 3 == 0), store)
        .select("doc_id", "verdict", "canonical_doc_id")
        .orderBy("doc_id")
    )
