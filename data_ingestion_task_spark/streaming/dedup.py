"""Ingest-time exact dedup (SURVEY §2.10 extension): the streaming
twin of the oracle-checked ``dedup_exact`` query — documents arriving
on the watched-folder inbox are dropped when a document with the same
content fingerprint was already admitted within the watermark horizon.

Spark-first shape: ``dropDuplicatesWithinWatermark`` (the purpose-built
operator, Spark 3.5+) over the md5 content fingerprint the batch
pipeline already computes (``functions/text.fingerprint_md5`` — the
SAME expression as ``dedup_exact``'s, so batch and stream agree on
what "identical content" means).

Why watermark-bounded and not plain ``dropDuplicates`` (which also
works on streams): plain dedup keeps EVERY fingerprint ever seen in
the state store — unbounded growth, the classic streaming-dedup OOM at
100 TB/day. The watermarked form expires state past the horizon, so
state size is (arrival rate × horizon), a knob — the standard
at-ingest dedup contract (re-posts of old content past the horizon are
re-admitted; the store gate, ``store_dedup.store_gate``, and the
periodic BATCH ``dedup_exact`` pass over the accumulated corpus catch
those, which is exactly how production pipelines split the two).
:func:`dedup_stream` is the package's one exact streaming-dedup
mechanism: the document and event ingests here, the curation pipeline
and the store gate's RAM stage all call it.

Scale: the only exchange is the stream side hashing on fingerprint to
co-locate duplicates with their state shard; state rows are one
fingerprint + timestamp each. No Python boundary anywhere.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..functions.text import fingerprint_md5
from .ingest import (
    _ntz_to_ltz,
    document_stream,
    idempotent_batch_sink,
    ingest_transform,
    run_stream,
)


def dedup_stream(
    stream: DataFrame,
    keys: Sequence[str] = ("fingerprint",),
    watermark: str = "10 minutes",
    ts_col: str = "_arrival_ts",
) -> DataFrame:
    """The package's one exact streaming dedup: drop rows whose
    ``keys`` were already seen within the watermark horizon. If
    ``ts_col`` is absent an arrival-time column is stamped
    (processing-time semantics — the inbox regime, where files carry
    no event time); an existing event-time column is used as is, with
    TIMESTAMP_NTZ coerced to LTZ (``ingest._ntz_to_ltz``: watermarks
    reject NTZ). Which duplicate survives is first-arrival (per
    micro-batch execution order) — the streaming analogue of
    ``dedup_exact``'s lowest-id rule, where "first" is arrival order
    rather than key order. Re-deliveries later than the horizon pass
    through: the store gate (``store_dedup.store_gate``) is the
    unbounded-horizon exact path."""
    if ts_col in stream.columns:
        stream = stream.withColumn(ts_col, _ntz_to_ltz(stream, ts_col))
    else:
        stream = stream.withColumn(ts_col, F.current_timestamp())
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def start_dedup_ingest(
    spark: SparkSession,
    inbox: str,
    out_dir: str,
    checkpoint: str,
    schema: StructType,
    dedup_cols: Sequence[str] = ("fingerprint",),
    watermark: str = "10 minutes",
) -> StreamingQuery:
    """inbox → consolidate (fingerprint et al.) → :func:`dedup_stream`
    on ``dedup_cols`` (default: the content fingerprint) →
    ``idempotent_batch_sink`` at ``out_dir``. Re-delivered or
    re-scanned documents (the at-least-once file source, or upstream
    OCR retries — ocr_agent_8_29.py checksummed-transfer concern) are
    dropped before they reach the sink; state is (arrival rate ×
    ``watermark``), one key row each."""
    stream = ingest_transform(document_stream(spark, inbox, schema))
    deduped = dedup_stream(stream, dedup_cols, watermark)
    return run_stream(deduped, checkpoint, idempotent_batch_sink(out_dir))


def start_bounded_deduped_ingest(
    spark: SparkSession,
    inbox: str,
    out_dir: str,
    checkpoint: str,
    schema: StructType,
    dedup_cols: list[str],
    ts_col: str = "ts",
    horizon: str = "2 hours",
) -> StreamingQuery:
    """Raw event rows → :func:`dedup_stream` on ``dedup_cols`` in
    EVENT time (``ts_col``) → ``idempotent_batch_sink`` at
    ``out_dir``. Duplicate records arriving within ``horizon`` of each
    other are dropped; state entries expire as the watermark passes
    them, so the store holds one key per DISTINCT record inside the
    horizon instead of per record ever seen."""
    stream = document_stream(spark, inbox, schema)
    deduped = dedup_stream(stream, dedup_cols, watermark=horizon, ts_col=ts_col)
    return run_stream(deduped, checkpoint, idempotent_batch_sink(out_dir))


def first_occurrence_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The batch twin the test compares against: one row per distinct
    content fingerprint (the survivor SET of any exact dedup,
    whatever the survivor rule)."""
    return docs.select(fingerprint_md5(F.col(text_col)).alias("fingerprint")).distinct()


# ---------------------------------------------------------------------------
# Ingest-time NEAR-dup gate (MinHash bands within the watermark horizon)
# ---------------------------------------------------------------------------
#
# The near-dup twin of the exact gate above, completing the
# batch/stream symmetry: the certified batch query
# ``dedup_minhash_lsh`` (plans/dedup_plans.py) finds near-dup
# PAIRS over the accumulated corpus; this gate drops an ARRIVING doc
# when any of its LSH band keys was already claimed by a doc admitted
# within the horizon — the at-ingest judgment call a 100 TB/day
# pipeline makes before a doc ever reaches the corpus. Same signature
# as the batch query (word 3-shingles → 64-bit shingle hash → 8
# re-salted minhashes → 4 bands of 2), so batch and stream agree on
# what "near-identical" means. Candidate-grain only, by design: the
# batch query's exact-Jaccard verification needs both docs' shingle
# sets, which bounded per-key state cannot hold — production runs this
# gate at ingest and the verified batch pass periodically, exactly the
# split the exact-dedup module docstring describes.
#
# Scale: state is ONE boolean + timestamp per live band key — bounded
# by (admission rate × horizon × 4 bands), not corpus size; the only
# exchange is the band-grain hash partition to the state shards. The
# per-doc verdict (any band claimed?) never needs cross-batch data:
# a doc's 4 band rows travel in the SAME micro-batch, so the rollup is
# a plain intra-batch aggregate (foreachBatch), not a second stateful
# operator.

_ND_OUT_SCHEMA = "doc_id long, ts_ms long, band_dup boolean"
_ND_STATE_SCHEMA = "claimed boolean"


def _claim_bands_fn(horizon_ms: int):
    """Handler factory for the band-claim state machine: per band key,
    the first-arriving row (ts, then doc_id — the same total order the
    exact gate's first-arrival rule induces within a micro-batch, where
    ``current_timestamp`` is a per-batch constant) claims the key if it
    is unclaimed; every other row is a duplicate sighting. A DROPPED
    doc's other bands still claim state — the batch LSH candidate rule
    is pairwise over ALL earlier docs, admitted or not. Re-sightings
    extend the key's TTL (horizon measured from last sighting)."""

    def _claim(key: tuple, pdfs, state) -> "object":
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts_ms", "doc_id"]
        )
        dup = [True] * len(pdf)
        if not state.exists:
            dup[0] = False
        state.update((True,))
        state.setTimeoutTimestamp(int(pdf["ts_ms"].max()) + horizon_ms)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "ts_ms": pdf["ts_ms"].astype("int64"),
                "band_dup": dup,
            }
        )

    return _claim


def near_dedup_band_verdicts(
    stream: DataFrame, horizon_s: int = 600, ts_col: str = "_arrival_ts"
) -> DataFrame:
    """Streaming (doc_id, ts_ms, band_dup) band-grain verdicts: one row
    per (doc, band), ``band_dup`` true when that band key was claimed
    by an earlier arrival within the horizon. If ``ts_col`` is absent
    an arrival-time column is stamped (processing-time semantics, the
    inbox regime). Roll up ``max(band_dup)`` per doc within the
    micro-batch for the admission verdict — :func:`start_neardup_ingest`
    wires that rollup; this stage stays band-grain so the state stays
    O(1) per key. The band keys are the certified batch signature
    (``plans/dedup_plans.band_rows``), so a change to the batch salting
    or band layout changes the gate with it. ``ts_ms`` is derived
    JVM-side (``unix_millis``) so the Python handler never touches
    timezone-laden timestamps (the streaming/stateful.py lesson)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..plans.dedup_plans import band_rows, hashed_shingles, minhash_sigs

    if ts_col not in stream.columns:
        stream = stream.withColumn(ts_col, F.current_timestamp())
    hsl = stream.withWatermark(ts_col, f"{horizon_s} seconds").select(
        "doc_id", ts_col, hashed_shingles(F.col("text"), 3).alias("hs")
    )
    banded = band_rows(minhash_sigs(hsl, ("doc_id", ts_col))).withColumn(
        "ts_ms", F.unix_millis(F.col(ts_col))
    )
    return banded.groupBy("band_key").applyInPandasWithState(
        _claim_bands_fn(horizon_s * 1000),
        outputStructType=_ND_OUT_SCHEMA,
        stateStructType=_ND_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def start_neardup_ingest(
    spark: SparkSession,
    inbox: str,
    checkpoint: str,
    schema: StructType,
    out_dir: str,
    horizon_s: int = 600,
    query_name: str = "neardup_verdicts",
    max_files_per_trigger: int = 64,
    consolidate: bool = True,
) -> StreamingQuery:
    """inbox → consolidate (``ingest_transform``; pass
    ``consolidate=False`` when the inbox rows are ALREADY consolidated,
    e.g. the admitted store of ``..curate.start_curated_ingest`` —
    re-deriving md5/lang/quality per row there is pure waste, the gate
    only needs ``doc_id``/``text``) → band-claim state machine →
    per-doc rollup (``near_dup = max(band_dup)``, an intra-batch
    aggregate: a doc's band rows share its micro-batch by
    construction) → ``idempotent_batch_sink`` verdict log at
    ``out_dir``: one row per doc, also across a checkpoint replay.
    ``max_files_per_trigger`` bounds micro-batch size when a backlog
    accumulates (the ``document_stream`` default); tests pass 1 to
    force one micro-batch per file so the cross-batch state path is
    exercised. ``availableNow`` drains the backlog and stops (the test
    run mode). Admission = ``filter(~near_dup)`` over the verdict log
    joined back to the doc store."""
    stream = document_stream(spark, inbox, schema, max_files_per_trigger)
    if consolidate:
        stream = ingest_transform(stream)
    verdicts = near_dedup_band_verdicts(stream, horizon_s=horizon_s)
    write = idempotent_batch_sink(out_dir)

    def _rollup(batch: DataFrame, batch_id: int) -> None:
        write(
            batch.groupBy("doc_id").agg(
                F.max("ts_ms").alias("ts_ms"),
                F.max("band_dup").alias("near_dup"),
            ),
            batch_id,
        )

    return run_stream(verdicts, checkpoint, _rollup, query_name)
