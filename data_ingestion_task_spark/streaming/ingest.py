"""Structured Streaming ingestion (SURVEY §2.10): the reference's OCR
Agent design (code/python/ocr_agent_8_29.py:18-33,51-56) — watched
inbox, auto-detect new documents, consolidate to a standard schema,
parquet sink, per-run summary stats — expressed as a file-source
``readStream`` with checkpointed idempotent sinks.

Design:
- The TRANSFORMATION is shared with batch (``ingest_transform``): the
  same DataFrame expression graph runs under ``spark.read`` and
  ``spark.readStream`` unchanged, so every streaming pipeline has an
  oracle-checkable batch twin (plans/text_plans.py, events_plans.py).
- Checkpointing replaces the reference's interim-CSV saves
  (rag_2_26_1.py:141-151): source offsets give at-least-once replay
  across restarts; the document sink upgrades that to exactly-once
  contents by writing each micro-batch to an idempotent
  ``batch_id``-keyed path (see ``start_document_ingest``). Re-running
  with the same checkpoint ingests only new files.
- ``foreachBatch`` computes the run-summary stats the OCR agent logs
  (docs, pages, words — ocr_agent_8_29.py:28-29) without a second
  pass: the batch is already materialized for the sink.

Scale notes (100 TB): file-source ingestion parallelizes per file;
``maxFilesPerTrigger`` bounds batch size (micro-batch backpressure);
the windowed aggregation keeps state per (window, type) only —
watermarking expires state so it cannot grow unboundedly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..functions.text import char_len, fingerprint_md5, lang_id, quality_score, word_len


def ingest_transform(df: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Document consolidation: derive lengths, fingerprint, language
    guess, quality score. Pure column expressions — identical under
    batch and streaming execution. ``extra_cols`` names pass-through
    columns a caller added upstream (e.g. the redacting sink's
    provenance count)."""
    return df.select(
        "doc_id",
        "text",
        "source",
        *extra_cols,
        char_len(F.col("text")).alias("char_len"),
        word_len(F.col("text")).alias("word_len"),
        fingerprint_md5(F.col("text")).alias("fingerprint"),
        lang_id(F.col("text")).alias("lang_guess"),
        quality_score(F.col("text")).alias("quality"),
    )


def document_stream(
    spark: SparkSession, inbox: str, schema: StructType, max_files_per_trigger: int = 64
) -> DataFrame:
    """Watched-folder parquet source (the OCR agent's auto-detect
    inbox). ``max_files_per_trigger`` keeps micro-batches bounded when
    a backlog accumulates; tests pass 1 to force one micro-batch per
    file."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(inbox)
    )


def start_document_ingest(
    spark: SparkSession,
    inbox: str,
    out_dir: str,
    checkpoint: str,
    schema: StructType,
    on_batch_summary: Callable[[dict], None] | None = None,
) -> StreamingQuery:
    """inbox → consolidate → parquet sink. ``availableNow`` drains the
    current backlog and stops — the batch-style run mode; drop it for
    continuous tailing.

    Delivery: the checkpoint gives at-least-once micro-batch replay; the
    sink makes it exactly-once CONTENTS by writing each micro-batch to a
    ``batch_id=N`` keyed path with overwrite — a replayed batch (driver
    died between write and checkpoint commit) rewrites the same path
    instead of appending duplicates. Readers see ``batch_id`` as a
    partition provenance column; drop it if unwanted."""
    stream = ingest_transform(document_stream(spark, inbox, schema))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        if on_batch_summary is not None:
            row = batch_df.agg(
                F.count("*").alias("docs"),
                F.coalesce(F.sum("word_len"), F.lit(0)).alias("words"),
                F.coalesce(F.sum("char_len"), F.lit(0)).alias("chars"),
                F.coalesce(F.avg("quality"), F.lit(0.0)).alias("avg_quality"),
            ).collect()[0]
            on_batch_summary({"batch_id": batch_id, **row.asDict()})
        batch_df.unpersist()

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _ntz_to_ltz(df: DataFrame, col: str) -> "F.Column":
    """Coerce ONLY TIMESTAMP_NTZ to TIMESTAMP_LTZ; every other type
    passes through unchanged so event-time operators keep raising on
    genuinely wrong columns (a bigint cast to timestamp would be
    silently interpreted as epoch-seconds — garbage windows)."""
    if dict(df.dtypes).get(col) == "timestamp_ntz":
        return F.col(col).cast("timestamp")
    return F.col(col)


def windowed_event_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Event-time tumbling window counts with late-data watermark —
    the streaming twin of plans/events_plans.events_tumbling_window
    (identical grouping expression).

    ``ts`` is normalized to TIMESTAMP_LTZ first when it arrives as
    TIMESTAMP_NTZ: watermarks reject NTZ, and parquet written without a
    timezone reads back as NTZ (see sources/tables.load_table); under
    the engine's pinned UTC session timezone the cast is
    value-identical. ONLY NTZ is coerced — a numeric ``ts`` (e.g.
    epoch-nanos read as bigint) must keep failing loudly in
    ``withWatermark`` rather than be silently cast as epoch-SECONDS."""
    return (
        events.withColumn("ts", _ntz_to_ltz(events, "ts"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def start_windowed_event_counts(
    spark: SparkSession,
    inbox: str,
    checkpoint: str,
    schema: StructType,
    query_name: str,
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Stream events → watermarked 1-hour tumbling counts → in-memory
    sink (complete mode) for inspection; swap for a parquet/Kafka sink
    in production (append mode emits windows as the watermark passes
    them)."""
    events = document_stream(spark, inbox, schema, max_files_per_trigger=64)
    agg = windowed_event_counts(events, watermark)
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


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
    """State-BOUNDED streaming dedup: ``withWatermark`` +
    ``dropDuplicatesWithinWatermark`` — the production upgrade of
    :func:`start_deduped_ingest` for event-time sources. Duplicate
    records arriving within ``horizon`` of each other are dropped;
    state entries expire as the watermark passes them, so the store
    holds one key per DISTINCT record inside the horizon instead of
    per record ever seen — at 100 TB/day that is the difference
    between GBs and an unbounded store. (Re-deliveries later than the
    horizon pass through; dedupe those at rest with dedup_exact.)"""
    stream = document_stream(spark, inbox, schema, max_files_per_trigger=64)
    stream = stream.withColumn(ts_col, _ntz_to_ltz(stream, ts_col)).withWatermark(
        ts_col, horizon
    )
    deduped = stream.dropDuplicatesWithinWatermark(dedup_cols)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return (
        deduped.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_deduped_ingest(
    spark: SparkSession,
    inbox: str,
    out_dir: str,
    checkpoint: str,
    schema: StructType,
    dedup_cols: list[str] | None = None,
) -> StreamingQuery:
    """Incremental EXACT dedup on the ingest path: re-delivered or
    re-scanned documents (the at-least-once file source, or upstream
    OCR retries — ocr_agent_8_29.py checksummed-transfer concern) are
    dropped by content fingerprint before they reach the sink.

    ``dropDuplicates`` keeps one state entry per fingerprint;
    production bounds that state with ``withWatermark`` +
    ``dropDuplicatesWithinWatermark`` (dup window = watermark horizon).
    The local testdata has no event-time column on documents, so this
    uses the unbounded variant — the state-bounding upgrade is a
    one-line swap documented here on purpose.

    Scale: state lives in the state store partitioned by fingerprint —
    one shuffle per micro-batch on the fingerprint key; entries are a
    16-byte md5 each, so 10^9 seen-docs ≈ tens of GB across 1000
    executors' stores.
    """
    dedup_cols = dedup_cols or ["fingerprint"]
    stream = ingest_transform(document_stream(spark, inbox, schema))
    deduped = stream.dropDuplicates(dedup_cols)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return (
        deduped.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
