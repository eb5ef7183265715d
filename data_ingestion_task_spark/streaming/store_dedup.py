"""Store-backed at-ingest exact dedup: the UNBOUNDED-horizon member
of the ingest-dedup triptych, completing the split the watermark gate
documents (``streaming/dedup.py``: state = arrival-rate × horizon in
the state store, re-posts past the horizon re-admitted) — here the
registry is the maintained fingerprint table on DISK
(``plans/dedup_store_plans.py``'s ``KeyedParquetStore``), so a re-post
is rejected FOREVER at the cost of 16 bytes + a long per distinct
content, and the "state" survives checkpoints, restarts, and even a
brand-new query.

Shape: ``foreachBatch`` — each micro-batch is judged against the
store (``delta_dedup_verdicts``: one left join that shuffles only the
batch), its verdicts append to an audit log, and its genuinely-new
fingerprints MERGE back (``admit_new_fingerprints``, rewriting only
the hit buckets). That body is :func:`store_gate`; the near-dup
registry's body is ``store_neardup.neardup_gate``. Both run under one
entry point, :func:`start_store_gate_ingest`: inbox → optional watermark
RAM stage → ``foreachBatch(gate)`` → checkpoint → ``availableNow``. Within a micro-batch the canonical is the LOWEST
doc_id (the batch operator's deterministic rule — not arrival order,
which ``foreachBatch`` cannot observe anyway since the batch is one
unordered frame).

Exactly-once story — at the STORE grain, by construction: a replayed
micro-batch (crash between sink append and checkpoint commit)
re-judges against a store that now already contains its fingerprints,
so every row reads ``dup_of_corpus`` with the stored canonical and
``admit_new_fingerprints`` merges nothing — the store is unchanged.
The APPEND-mode verdict log may therefore carry both the pre-crash
``new`` row and the replayed ``dup_of_corpus`` row for the same doc;
that is why the admitted set is defined as the store's canonicals
(:func:`store_admitted`), never scraped from the log. The log is
audit, the store is truth.

When to use which gate (the production split, stated honestly):
- watermark gate: bounded RAM, zero disk I/O per batch, horizon
  semantics ("same content within 10 minutes is a dup");
- store gate: unbounded horizon, one bucket-join + partial-rewrite
  MERGE per batch (disk-backed, batch-size-proportional I/O);
- both: the RAM gate absorbs the high-frequency duplicates cheaply,
  the store gate is the durable registry behind it —
  :func:`start_store_gate_ingest` with a ``watermark`` is this split
  composed as one query.

Reference grounding: this is the closest analogue in the package to
the reference ingest agent's STANDING checksum registry — it persists
across runs and rejects any previously-processed content, not just
recent content (`/root/reference/code/python/ocr_agent_8_29.py:21-33`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..functions.text import fingerprint_md5
from ..plans.dedup_store_plans import (
    admit_new_fingerprints,
    delta_dedup_verdicts,
    fingerprint_store,
)
from .dedup import dedup_stream
from .ingest import Sink, document_stream, ingest_transform, run_stream

__all__ = [
    "fingerprint_store",
    "start_store_gate_ingest",
    "store_admitted",
    "store_gate",
]

def store_gate(store, verdict_dir: str) -> Sink:
    """The exact registry's foreachBatch body: judge → append the
    ``(doc_id, fingerprint, verdict, canonical_doc_id)`` audit log at
    ``verdict_dir`` → MERGE the new fingerprints into ``store``. Rows
    that already carry ``fingerprint`` (e.g. a consolidated store) are
    judged on it; raw inbox rows are fingerprinted here with the
    ``ingest_transform`` expression. Judged ONCE against the pre-merge
    store: both the log write and the admit read the persisted frame,
    and re-deriving it after merge() swaps buckets would re-judge
    against the post-merge store (the delta_dedup_verdicts staleness
    contract)."""

    def _gate(batch: DataFrame, _batch_id: int) -> None:
        if "fingerprint" not in batch.columns:
            batch = batch.withColumn("fingerprint", fingerprint_md5(F.col("text")))
        verdicts = delta_dedup_verdicts(
            batch.select("doc_id", "fingerprint"), store
        ).persist()
        try:
            verdicts.write.mode("append").parquet(verdict_dir)
            admit_new_fingerprints(verdicts, store)
        finally:
            verdicts.unpersist()

    return _gate


def start_store_gate_ingest(
    spark: SparkSession,
    inbox: str,
    checkpoint: str,
    schema: StructType,
    gate: Sink,
    watermark: str | None = None,
    max_files_per_trigger: int = 64,
    query_name: str = "store_gate_ingest",
) -> StreamingQuery:
    """The one entry point of the store-backed gates: inbox → [watermark RAM
    stage] → ``foreachBatch(gate)``, one checkpoint. ``gate`` is
    :func:`store_gate` (exact fingerprint registry) or
    ``store_neardup.neardup_gate`` (MinHash band registry). Read the
    admitted corpus from the store (``store_admitted``), never from
    the log. ``availableNow`` drains the backlog and stops (the test
    run mode); production drops the trigger. ``max_files_per_trigger``
    bounds micro-batch size.

    ``watermark`` composes the production split (the module
    docstring's "both"): the stream is consolidated
    (``ingest_transform``) and passes ``dropDuplicatesWithinWatermark``
    on the content fingerprint first. A within-horizon EXACT re-post is
    absorbed in the state store and NEVER reaches the gate — no store
    read, no judge, no verdict-log row, no merge. Content that survives
    the horizon stage is judged against the durable registry, so a
    re-post from a previous run (or past the horizon) is still rejected
    forever; near variants always reach the gate. State cost: RAM =
    arrival rate × horizon; disk I/O per batch = hit-bucket join +
    partial MERGE over genuinely-first-in-horizon rows only — at a
    10-minute horizon and a dup-heavy feed, the difference between
    judging every copy and judging each content once per horizon.
    (The horizon-bounded band-claim machine in ``streaming/dedup.py``
    cannot front a store gate: its stateful output is band-grain and
    no longer carries the text a judge needs.)

    Without ``watermark`` the rows reach the gate as read: both gates
    derive what they judge (fingerprint, hashed shingles) from
    ``doc_id``/``text`` themselves."""
    stream = document_stream(spark, inbox, schema, max_files_per_trigger)
    if watermark is not None:
        stream = dedup_stream(ingest_transform(stream), watermark=watermark)
    return run_stream(stream, checkpoint, gate, query_name)


def store_admitted(store) -> DataFrame:
    """The admitted registry: one ``(fingerprint, corpus_doc_id)`` row
    per distinct content ever ingested — the replay-stable admission
    record (module docstring: the log is audit, the store is truth)."""
    return store.read().select("fingerprint", "corpus_doc_id")
