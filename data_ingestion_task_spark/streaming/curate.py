"""At-ingest corpus curation (SURVEY §2.10 extension): the streaming
twin of the oracle-checked curation FACADE — ``api.curate_corpus``'s
core conjunction ``quality_keep & ~exact_dup`` applied to documents as
they arrive, before they ever reach the corpus store.

The component twins already exist (``streaming/dedup.py`` mirrors
``dedup_exact`` and ``dedup_minhash_lsh``); this module certifies the
COMPOSITION the way ``plans/curate_plans.curated_corpus_audit``
certifies the batch facade: one admission pipeline built from the SAME
library expressions the registered queries pin —
``plans/quality_plans.gopher_flags`` (pure column projections, so the
expressions run identically under batch and streaming execution) and
the watermark-bounded fingerprint dedup of :func:`..dedup.dedup_stream`.

Stage order (quality BEFORE dedup) is a deliberate inversion of the
batch facade's independent-flags layout, and it is parity-preserving:
exact duplicates have identical text, so every copy gets the identical
Gopher verdict — the surviving fingerprint SET is the same whether
quality is judged before or after dedup. Judging first is strictly
cheaper at 100 TB/day: rejected docs never hash into the dedup state
store, so state is (admitted rate × horizon), not (arrival rate ×
horizon). The batch facade cannot reorder (its contract is one
auditable flag per stage over the FULL input); the ingest gate's
contract is admission, where only the conjunction matters.

Near-dup admission chains as a SECOND query over the admitted store
(:func:`..dedup.start_neardup_ingest` pointed at ``admitted_dir``) —
two stateful operators of different grains (doc-grain dedup state,
band-grain claim state) stay in separate queries so each checkpoint
recovers independently, the same split production pipelines run.
:func:`final_corpus` is the batch-side read that subtracts the
near-dup verdict log from the admitted store.

Reference grounding: the reference's ingest agent admits a file only
after its checksum and content checks pass
(``code/python/ocr_agent_8_29.py:21-33`` — identity checks at the
watched-folder boundary); this module is that admission gate with the
engine's certified quality and duplicate semantics.

Scale: Gopher flags add zero exchanges (column projections on the
micro-batch); the only shuffles are the fingerprint hash-partition to
the dedup state shards and, in the chained query, the band-grain
partition — both bounded by admitted volume, never corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..functions.text import fingerprint_md5, hash64, normalized_for_fingerprint
from .dedup import dedup_stream
from .ingest import document_stream, ingest_transform, run_stream

#: Audit columns :func:`curate_stream` adds to every admitted row —
#: the per-rule Gopher booleans the batch facade exposes, so an
#: admitted store is auditable the same way a curated batch frame is.
GOPHER_AUDIT_COLS = (
    "n_words",
    "word_count_ok",
    "mean_word_len_ok",
    "symbol_ok",
    "stopwords_ok",
    "alpha_ok",
)


def gopher_quality_stream(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """All input columns + the Gopher rule flags + ``quality_keep``
    (never NULL: a NULL/empty text fails quality, it doesn't escape
    the filter — the api.curate_corpus contract). Pure projections,
    valid on batch and streaming frames alike; the expressions are the
    registered ``gopher_quality_filter``'s, via the shared library
    function its oracle pins."""
    from ..plans.quality_plans import gopher_flags

    # "__gopher_txt" is gopher_flags' collision-proof internal alias —
    # keep_cols=all input columns would still collide with it (ADVICE r9 #4)
    clash = set(GOPHER_AUDIT_COLS + ("keep", "__gopher_txt")) & set(stream.columns)
    if clash:
        raise ValueError(
            f"input already carries Gopher output columns {sorted(clash)}; "
            "rename them upstream — silently overwriting audit columns "
            "would corrupt the admission log"
        )
    flagged = gopher_flags(stream, text_col=text_col, keep_cols=tuple(stream.columns))
    return flagged.withColumn(
        "quality_keep", F.coalesce(F.col("keep"), F.lit(False))
    ).drop("keep")


_JOIN_KEY = "__model_join_key"


def _model_map_join(df: DataFrame, model: DataFrame, key: str, val: str, map_col: str) -> DataFrame:
    """Attach a frozen ``(key, val)`` model to every row as ONE map
    column via a single-row broadcast stream-static equi-join (on a
    dummy key — a stream-static CROSS join is not universally allowed,
    the equi form always is). The map row is model-bounded (≤ 37³
    trigram entries / 256 DSIR buckets), broadcast once per executor.
    The dummy key is collision-checked like ``map_col`` — a caller
    column with the internal name would be silently destroyed
    otherwise (ADVICE r10 #3)."""
    clash = {map_col, _JOIN_KEY} & set(df.columns)
    if clash:
        raise ValueError(
            f"input already carries internal column(s) {sorted(clash)}"
        )
    m = model.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col(key), F.col(val)))
        ).alias(map_col)
    ).withColumn(_JOIN_KEY, F.lit(1))
    return (
        df.withColumn(_JOIN_KEY, F.lit(1))
        .join(F.broadcast(m), _JOIN_KEY)
        .drop(_JOIN_KEY)
    )


def _dec_mean(matched, out_col: str) -> list:
    """round(cast(exact-DECIMAL sum AS double) / n, 6) over an array of
    DECIMAL(18,6) scores — the same one-IEEE-division parity armor as
    the batch scorers (decimal addition is exact and order-free, so
    this fold equals the batch SUM bit-for-bit); NULL when nothing
    matched (an unscorable doc fails its band, the batch contract)."""
    n = F.size(matched)
    dsum = F.aggregate(
        matched,
        F.lit(0).cast("decimal(28,6)"),
        lambda acc, x: (acc + x).cast("decimal(28,6)"),
    )
    return [
        F.when(n > 0, F.round(dsum.cast("double") / n, 6)).alias(out_col),
    ]


def trigram_nll_score(
    df: DataFrame, ppx_model: DataFrame, text_col: str = "text"
) -> DataFrame:
    """All input columns + ``avg_nll`` scored against a FROZEN
    character-trigram model (``functions.corpus_scores.
    trigram_rate_model`` output) — a pure projection after the 1-row
    broadcast model join, so it runs identically on batch and
    streaming frames. Bit-matches the certified ``trigram_nll``
    wherever the model's support covers the doc (each occurrence
    contributes its DECIMAL(18,6) nll; unseen trigrams contribute
    nothing — with a model trained on a superset corpus they cannot
    occur). Docs with no scorable trigram get NULL."""
    out = _model_map_join(df, ppx_model, "tri", "nll", "_tri_nll")
    tris = F.regexp_extract_all(
        normalized_for_fingerprint(F.col(text_col)), F.lit("(?=(.{3}))."), 1
    )
    scored = F.filter(
        F.transform(tris, lambda t: F.element_at(F.col("_tri_nll"), t)),
        lambda x: x.isNotNull(),
    )
    return out.select(*df.columns, *_dec_mean(scored, "avg_nll"))


def dsir_logweight_score(
    df: DataFrame,
    dsir_model: DataFrame,
    text_col: str = "text",
    n_buckets: int | None = None,
) -> DataFrame:
    """All input columns + ``dsir_logweight`` scored against a FROZEN
    DSIR rate table (``functions.corpus_scores.dsir_rate_model``
    output) — same projection shape and parity armor as
    :func:`trigram_nll_score`; the bucket expression is the certified
    ``hash64(word) % n_buckets``.

    The modulus is DERIVED from the model's ``n_buckets`` column
    (one driver action on the ≤256-row static table at wiring time) —
    two independently-defaulted parameters would let a model trained
    at 128 buckets be scored mod 256 with plausible-but-wrong rates
    and no error (ADVICE r10 #2). An explicit ``n_buckets`` is
    cross-checked against the model, and is REQUIRED only for a
    legacy table lacking the column."""
    if "n_buckets" in dsir_model.columns:
        nb = dsir_model.select(
            F.min("n_buckets").alias("lo"), F.max("n_buckets").alias("hi")
        ).first()
        if nb["lo"] != nb["hi"]:
            raise ValueError(
                f"dsir_model carries conflicting n_buckets values "
                f"({nb['lo']} vs {nb['hi']}) — mixed-modulus model rows"
            )
        if n_buckets is not None and n_buckets != nb["hi"]:
            raise ValueError(
                f"n_buckets={n_buckets} contradicts the model's own "
                f"modulus {nb['hi']} — the model wins; drop the argument"
            )
        n_buckets = nb["hi"]
    elif n_buckets is None:
        raise ValueError(
            "dsir_model has no n_buckets column (legacy table) — pass "
            "the training-time n_buckets explicitly; guessing a modulus "
            "silently mis-bucket every lookup"
        )
    out = _model_map_join(df, dsir_model, "bucket", "lr", "_dsir_lr")
    words = F.split(normalized_for_fingerprint(F.col(text_col)), " ")
    scored = F.filter(
        F.transform(
            words, lambda w: F.element_at(F.col("_dsir_lr"), hash64(w) % n_buckets)
        ),
        lambda x: x.isNotNull(),
    )
    return out.select(*df.columns, *_dec_mean(scored, "dsir_logweight"))


def curate_stream(
    stream: DataFrame,
    watermark: str = "10 minutes",
    ts_col: str = "_arrival_ts",
    text_col: str = "text",
    fingerprint_col: str = "fingerprint",
    ppx_model: DataFrame | None = None,
    ppx_band: tuple[float, float] | None = None,
    dsir_model: DataFrame | None = None,
    dsir_floor: float | None = None,
) -> DataFrame:
    """Admission pipeline on an arriving document stream: Gopher
    quality gate, optional FROZEN-model scored admission (the
    streaming analogue of the batch facade's ``ppx_band`` /
    ``dsir_floor`` stages — VERDICT r9 #4), then watermark-bounded
    exact dedup on the content fingerprint. Emits only ADMITTED rows,
    carrying the per-rule audit flags (plus ``avg_nll`` /
    ``dsir_logweight`` when the score stages run). If
    ``fingerprint_col`` is absent it is computed here with the same
    ``fingerprint_md5`` expression the batch facade and
    ``dedup_exact`` use; if ``ts_col`` is absent an arrival-time
    column is stamped (processing-time semantics, the inbox regime).

    Score semantics mirror ``api.curate_corpus`` exactly: ``avg_nll``
    inside the inclusive band, ``dsir_logweight >= floor``, and an
    unscorable doc (NULL score) is rejected. Scores are judged BEFORE
    dedup for the same state-size reason quality is (module
    docstring): both are content-determined, so every copy of a
    fingerprint gets the identical verdict and the surviving
    fingerprint SET is order-independent. The models are trained by
    the certified library (``trigram_rate_model`` /
    ``dsir_rate_model``) on a reference corpus and broadcast frozen —
    the stream never trains on itself (it cannot see its future)."""
    if (ppx_model is None) != (ppx_band is None):
        raise ValueError("ppx_model and ppx_band must be passed together")
    if (dsir_model is None) != (dsir_floor is None):
        raise ValueError("dsir_model and dsir_floor must be passed together")
    out = gopher_quality_stream(stream, text_col=text_col).filter("quality_keep")
    if ppx_model is not None:
        clash = {"avg_nll", "_tri_nll"} & set(out.columns)
        if clash:
            raise ValueError(f"input already carries score columns {sorted(clash)}")
        out = trigram_nll_score(out, ppx_model, text_col=text_col).filter(
            F.col("avg_nll").between(*ppx_band)
        )
    if dsir_floor is not None:
        clash = {"dsir_logweight", "_dsir_lr"} & set(out.columns)
        if clash:
            raise ValueError(f"input already carries score columns {sorted(clash)}")
        out = dsir_logweight_score(out, dsir_model, text_col=text_col).filter(
            F.col("dsir_logweight") >= F.lit(dsir_floor)
        )
    if fingerprint_col not in out.columns:
        out = out.withColumn(fingerprint_col, fingerprint_md5(F.col(text_col)))
    return dedup_stream(out, [fingerprint_col], watermark=watermark, ts_col=ts_col)


def start_curated_ingest(
    spark: SparkSession,
    inbox: str,
    checkpoint: str,
    schema: StructType,
    admitted_dir: str,
    watermark: str = "10 minutes",
    query_name: str = "curated_ingest",
    ppx_model: DataFrame | None = None,
    ppx_band: tuple[float, float] | None = None,
    dsir_model: DataFrame | None = None,
    dsir_floor: float | None = None,
) -> StreamingQuery:
    """inbox → consolidate (``ingest_transform``) → quality gate →
    optional frozen-model scored admission (``ppx_model``/``ppx_band``,
    ``dsir_model``/``dsir_floor`` — see :func:`curate_stream`) →
    watermark-bounded exact dedup → parquet admitted store.
    ``availableNow`` drains the backlog and stops (the test run mode);
    production drops the trigger and lets it run. Chain the near-dup
    gate by pointing :func:`..dedup.start_neardup_ingest` at
    ``admitted_dir`` with ``consolidate=False`` (admitted rows are
    already consolidated — re-deriving md5/lang/quality would be pure
    waste, and the gate then orders on the preserved admission-time
    ``_arrival_ts`` instead of re-stamping), then read the surviving
    corpus with :func:`final_corpus`."""
    stream = ingest_transform(document_stream(spark, inbox, schema))
    admitted = curate_stream(
        stream,
        watermark=watermark,
        ppx_model=ppx_model,
        ppx_band=ppx_band,
        dsir_model=dsir_model,
        dsir_floor=dsir_floor,
    )
    return run_stream(admitted, checkpoint, admitted_dir, query_name)


def final_corpus(
    spark: SparkSession, admitted_dir: str, neardup_dir: str | None = None
) -> DataFrame:
    """The surviving corpus: the admitted store minus docs the chained
    near-dup gate flagged (``near_dup`` in the verdict log at
    ``neardup_dir``; see ``..dedup.start_neardup_ingest``). A
    broadcast-friendly anti-join on ``doc_id`` — the verdict log holds
    one row per admitted doc, and only the flagged subset matters."""
    admitted = spark.read.parquet(admitted_dir)
    if neardup_dir is None:
        return admitted
    flagged = (
        spark.read.parquet(neardup_dir)
        .filter(F.col("near_dup"))
        .select("doc_id")
        .distinct()
    )
    return admitted.join(flagged, "doc_id", "left_anti")


def batch_curation_survivor_fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", **facade_kwargs
) -> DataFrame:
    """The batch facade's verdict, reduced to the grain the stream can
    be compared on: distinct content fingerprints of docs
    ``api.curate_corpus`` keeps under the same stages (Gopher + exact
    dedup, plus any score stages passed through ``facade_kwargs`` —
    ``ppx_band``/``dsir_floor``/``dsir_target``…). The parity target
    for :func:`curate_stream` tests — survivor SETS must agree; which
    copy survives differs by design (first-arrival vs lowest-id).
    Every flag the facade ANDs into ``keep`` is content-determined
    under these stages, so the fingerprint set is well-defined."""
    from ..api import curate_corpus

    kept = curate_corpus(docs, text_col=text_col, id_col=id_col, **facade_kwargs).filter(
        "keep"
    )
    return (
        docs.join(kept.select(id_col), id_col)
        .select(fingerprint_md5(F.col(text_col)).alias("fingerprint"))
        .distinct()
    )
