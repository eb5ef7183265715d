"""Stream-static enrichment + redacting ingest (SURVEY §2.10
extensions).

Two canonical Structured Streaming patterns the ingest module didn't
yet cover:

- **Stream-static join**: each micro-batch joins against a static
  dimension snapshot. The dimension side is broadcast, so the stream
  side never shuffles — per micro-batch this is the same
  broadcast-hash-join every batch dim join in the engine plans, and at
  100 TB/day the stream side stays a narrow pipeline (file-source
  parallelism per file, no state).
- **Redacting sink**: documents are PII-scrubbed (functions/pii.py —
  the SAME regex chain the oracle-checked ``pii_redaction`` query
  accounts for) inside the ingest projection, so raw PII never reaches
  the sink files. Redaction is one more JVM regex in the existing
  narrow consolidate stage: zero extra passes, zero Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..functions.pii import pii_span_count, redact_pii
from .ingest import document_stream, idempotent_batch_sink, ingest_transform, run_stream


def enrich_stream(stream: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Stream-static left join on ``key`` with the dimension broadcast.

    The dimension DataFrame is re-evaluated per micro-batch (Spark's
    stream-static contract), so a slowly-changing dim picked up from a
    refreshed table is automatically current — no restart needed."""
    return stream.join(F.broadcast(dim), key, "left")


def start_enriched_event_sink(
    spark: SparkSession,
    inbox: str,
    dim: DataFrame,
    key: str,
    checkpoint: str,
    schema: StructType,
    query_name: str = "enriched_events",
) -> StreamingQuery:
    """inbox parquet stream ⋈ broadcast dim → in-memory table
    ``query_name`` (swap for a parquet sink in production)."""
    stream = document_stream(spark, inbox, schema)
    return run_stream(enrich_stream(stream, dim, key), checkpoint, None, query_name)


def start_redacted_document_ingest(
    spark: SparkSession,
    inbox: str,
    out_dir: str,
    checkpoint: str,
    schema: StructType,
) -> StreamingQuery:
    """``start_document_ingest`` with PII scrubbing fused into the
    consolidate projection: the sink stores the redacted text plus a
    ``pii_spans_removed`` provenance count, and the idempotent
    ``batch_id``-keyed overwrite contract is unchanged."""
    raw = document_stream(spark, inbox, schema)
    scrubbed = ingest_transform(
        raw.withColumn("pii_spans_removed", pii_span_count(F.col("text"))).withColumn(
            "text", redact_pii(F.col("text"))
        ),
        extra_cols=("pii_spans_removed",),
    )
    return run_stream(scrubbed, checkpoint, idempotent_batch_sink(out_dir))
