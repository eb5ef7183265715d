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
- One source and one runner for the whole package: every pipeline
  reads through :func:`document_stream` (its only ``readStream``) and
  starts through :func:`run_stream` (its only ``writeStream``, the one
  place the checkpoint, query name and ``availableNow`` trigger are
  set). A module contributes the transform and the sink, nothing else.
- Checkpointing replaces the reference's interim-CSV saves
  (rag_2_26_1.py:141-151): source offsets give at-least-once replay
  across restarts; :func:`idempotent_batch_sink` upgrades that to
  exactly-once contents by writing each micro-batch to its own
  ``batch_id``-keyed path. Re-running with the same checkpoint ingests
  only new files.
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

#: A ``foreachBatch`` function: ``(batch_df, batch_id)``.
Sink = Callable[[DataFrame, int], None]


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


def run_stream(
    stream: DataFrame,
    checkpoint: str,
    sink: Sink | str | None,
    query_name: str | None = None,
    output_mode: str = "append",
) -> StreamingQuery:
    """The package's one ``writeStream``: start ``stream`` under the
    ``checkpoint`` with ``trigger(availableNow=True)``, which drains
    the current backlog and stops (the batch-style run mode the tests
    use; production drops the trigger and lets it tail).

    ``sink`` is a ``foreachBatch`` function ``(batch_df, batch_id)``,
    a parquet file-sink path, or ``None`` for the in-memory table
    ``query_name`` (inspection and batch-parity harnesses)."""
    writer = (
        stream.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
    if query_name is not None:
        writer = writer.queryName(query_name)
    if callable(sink):
        writer = writer.foreachBatch(sink)
    elif sink is None:
        if query_name is None:
            raise ValueError("an in-memory sink needs a query_name to name its table")
        writer = writer.format("memory")
    else:
        writer = writer.format("parquet").option("path", sink)
    return writer.start()


def idempotent_batch_sink(out_dir: str) -> Sink:
    """The exactly-once CONTENTS writer (SCALE.md §7): each micro-batch
    overwrites its own ``out_dir/batch_id=N`` path. The checkpoint
    gives at-least-once micro-batch replay; a replayed batch (driver
    died between write and checkpoint commit) rewrites the same path
    instead of appending duplicates. Readers see ``batch_id`` as a
    partition provenance column; drop it if unwanted."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return write


def start_document_ingest(
    spark: SparkSession,
    inbox: str,
    out_dir: str,
    checkpoint: str,
    schema: StructType,
    on_batch_summary: Callable[[dict], None] | None = None,
) -> StreamingQuery:
    """inbox → consolidate → :func:`idempotent_batch_sink` at
    ``out_dir``. ``on_batch_summary`` receives each micro-batch's
    run-summary stats (docs, words, chars, mean quality), computed
    from the batch the sink already materialized."""
    stream = ingest_transform(document_stream(spark, inbox, schema))
    write = idempotent_batch_sink(out_dir)
    if on_batch_summary is None:
        return run_stream(stream, checkpoint, write)

    def write_and_summarize(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            write(batch_df, batch_id)
            row = batch_df.agg(
                F.count("*").alias("docs"),
                F.coalesce(F.sum("word_len"), F.lit(0)).alias("words"),
                F.coalesce(F.sum("char_len"), F.lit(0)).alias("chars"),
                F.coalesce(F.avg("quality"), F.lit(0.0)).alias("avg_quality"),
            ).collect()[0]
        finally:
            batch_df.unpersist()
        on_batch_summary({"batch_id": batch_id, **row.asDict()})

    return run_stream(stream, checkpoint, write_and_summarize)


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
    events = document_stream(spark, inbox, schema)
    agg = windowed_event_counts(events, watermark)
    return run_stream(agg, checkpoint, None, query_name, output_mode="complete")
