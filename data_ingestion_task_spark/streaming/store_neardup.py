"""Store-backed at-ingest NEAR-dup gate: the unbounded-horizon member
for near-duplicates, completing the triptych
(``streaming/dedup.py``'s horizon-bounded band claims;
``streaming/store_dedup.py``'s exact-fingerprint registry; this —
band claims as a maintained DISK table). A near-duplicate re-posted
long after any watermark horizon, or into a brand-new query run, is
still rejected: the registry is ``plans/neardup_store_plans.py``'s
``KeyedParquetStore`` of LSH band claims, judged by band collision
and convicted only by exact Jaccard on stored shingle arrays.

Shape: ``foreachBatch`` — each micro-batch's docs are shingle-hashed
and banded (``plans/dedup_plans.band_rows``, the certified
``dedup_minhash_lsh`` signature), judged against the store
(bucket-pruned band join), verdicts append to an audit log, and
genuinely-new docs' band claims MERGE back. That body is
:func:`neardup_gate`; it runs under the same entry point as the exact
registry, ``store_dedup.start_store_gate_ingest`` — with a
``watermark``, an EXACT RAM stage absorbs within-horizon identical
re-posts at fingerprint-row state cost (the high-frequency case:
re-crawls, retry storms), while NEAR variants, and exact re-posts past
the horizon or from a previous run, reach the registry, which convicts
the latter at Jaccard 1.0.

Exactly-once at the STORE grain, by construction: a replayed
micro-batch re-judges against a store that already holds its band
claims — every replayed doc band-collides with ITSELF at Jaccard 1.0
and reads ``dup_of_corpus`` with its own stored canonical, so
``admit_new_band_rows`` merges nothing. The append-mode log may carry
both the pre-crash ``new`` and the replayed ``dup_of_corpus`` row;
the admitted set is therefore :func:`store_admitted` (the store's
distinct canonicals), never scraped from the log.

Reference grounding: the reference persists its FAISS index across
sessions and probes arrivals against the standing index
(`/root/reference/code/python/Faiss_2_10.py:70-114`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.dedup_plans import band_rows, hashed_shingles, minhash_sigs
from ..plans.neardup_store_plans import (
    admit_new_band_rows,
    delta_neardup_verdicts,
    neardup_band_store,
)
from .ingest import Sink

__all__ = [
    "neardup_band_store",
    "neardup_gate",
    "store_admitted",
]


def neardup_gate(store, verdict_dir: str) -> Sink:
    """The band registry's foreachBatch body: shingle-hash → band grain
    (persisted — the 8-salted-md5 minhash map runs once, not once per
    judge/admit reference) → judge ONCE against the pre-merge store at
    the registry's Jaccard threshold → append the ``(doc_id, verdict,
    canonical_doc_id)`` audit log at ``verdict_dir`` → admit (the
    delta_neardup_verdicts staleness contract: both consumers read the
    persisted frame)."""

    def _gate(batch: DataFrame, _batch_id: int) -> None:
        docs = batch.select(
            "doc_id", hashed_shingles(F.col("text"), 3).alias("hs")
        ).persist()
        bands = band_rows(minhash_sigs(docs, ("doc_id", "hs"))).persist()
        try:
            verdicts = delta_neardup_verdicts(docs, bands, store).persist()
            try:
                verdicts.write.mode("append").parquet(verdict_dir)
                admit_new_band_rows(verdicts, bands, store)
            finally:
                verdicts.unpersist()
        finally:
            bands.unpersist()
            docs.unpersist()

    return _gate


def store_admitted(store) -> DataFrame:
    """The admitted registry at doc grain: one ``canonical_doc_id``
    per admitted doc (each contributes up to 4 band rows — distinct
    collapses them). The log is audit, the store is truth."""
    return store.read().select("canonical_doc_id").distinct()
