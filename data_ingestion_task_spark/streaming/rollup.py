"""Incremental rollup maintenance (SURVEY §2.10 extension): a
continuous aggregate — the streaming twin of the certified
``events_tumbling_window`` / ``events_multires_rollup`` batch rollups,
maintained incrementally in a :class:`..sources.upsert.KeyedParquetStore`
instead of being recomputed corpus-wide per sweep.

Spark-first shape: watermarked event-time tumbling window in UPDATE
output mode — each micro-batch re-emits only the (window, event_type)
groups it changed, with their cumulative aggregate so far — flowing
through ``foreachBatch`` into the keyed store's MERGE. The store
converges to exactly the batch rollup over the same events once the
stream drains; a reader gets a monotonically-improving rollup at any
point in between (the standard continuous-aggregate contract —
TimescaleDB's hypertable rollups, Databricks' incremental MVs).

What is maintained exactly: ``n_events`` and the exact-DECIMAL
``sum_value`` — the same expressions as the certified batch query
(shared via its ``_val_dec`` helper, so batch and stream cannot drift).
``n_users`` (COUNT DISTINCT) is deliberately NOT maintained: a distinct
aggregate is not incrementally mergeable from per-batch deltas without
keeping per-user state per window (Structured Streaming rejects
``countDistinct`` on streams for exactly this reason); the periodic
batch rollup answers distinct-user questions, the maintained store
answers the monitoring ones — the split production systems run.

Replay safety: the MERGE reduces by ``max_by(n_events)`` both within
the batch AND against the stored row (stored wins ties) — the
cumulative count is strictly monotone per key, so neither a checkpoint
replay nor a full re-drain from a FRESH checkpoint can regress the
stored row. The re-drain case is the sharp one: with the production
watermark (2 hours), a re-drain sees late events watermark-dropped and
re-emits SMALLER counts for converged windows; because the stored row
competes on ``seq_col``, those partial snapshots lose and the store
keeps its converged values (the ``seq_col`` contract of
``KeyedParquetStore``, which exists for exactly this idempotence —
ADVICE r9 #1).

Scale (100 TB/day of events): the only stream-side exchange is the
window/event_type hash to the state shards; state is one aggregate row
per ACTIVE window × event_type inside the watermark horizon — bounded
by the horizon, not event volume. The store write touches only the
buckets whose keys changed in the micro-batch (partial-rewrite MERGE),
so sink I/O is proportional to update rate, not rollup size.

Reference grounding: the reference recomputes its run-stats tables per
sweep (ocr_agent run summaries); this module is that table kept fresh
at ingest time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..sources.upsert import KeyedParquetStore
from .ingest import document_stream, run_stream

#: Composite MERGE key: one store row per (window_start, event_type).
ROLLUP_KEY = "rollup_key"


def hourly_rollup_stream(
    stream: DataFrame, watermark: str = "2 hours", ts_col: str = "ts"
) -> DataFrame:
    """Watermarked 1-hour tumbling rollup per event_type in the SAME
    output grain and expressions as the certified batch
    ``events_tumbling_window`` (minus ``n_users`` — see module
    docstring): ``(window_start, event_type, n_events, sum_value)``.
    Run under update output mode so each micro-batch emits only the
    groups it touched."""
    from ..plans.events_plans import _val_dec

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_val_dec()).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def rollup_store(
    spark: SparkSession, root: str, n_buckets: int = 16
) -> KeyedParquetStore:
    """The keyed store a maintained rollup lives in (key =
    ``window_start:event_type``)."""
    return KeyedParquetStore(spark, root, key=ROLLUP_KEY, n_buckets=n_buckets)


def start_rollup_maintenance(
    spark: SparkSession,
    inbox: str,
    checkpoint: str,
    schema: StructType,
    store: KeyedParquetStore,
    watermark: str = "2 hours",
    max_files_per_trigger: int = 64,
    query_name: str = "rollup_maintenance",
) -> StreamingQuery:
    """inbox (event files with a proper TIMESTAMP ``ts`` — the raw
    ``events.parquet`` ships TIMESTAMP(NANOS), so production feeds this
    from the ``load_table``-normalized ingest path, as the tests do) →
    watermarked hourly rollup (update mode) → ``foreachBatch`` MERGE
    into ``store``. ``availableNow`` drains the backlog and stops (the
    test run mode); production drops the trigger. Read the maintained
    rollup back with :func:`read_rollup`."""
    stream = document_stream(spark, inbox, schema, max_files_per_trigger)

    def _with_key(df: DataFrame) -> DataFrame:
        return df.withColumn(
            ROLLUP_KEY,
            F.concat_ws(
                ":", F.col("window_start").cast("string"), F.col("event_type")
            ),
        )

    return run_stream(
        hourly_rollup_stream(stream, watermark=watermark),
        checkpoint,
        store.foreach_batch_merger(_with_key, seq_col="n_events"),
        query_name,
        output_mode="update",
    )


def read_rollup(store: KeyedParquetStore) -> DataFrame:
    """The maintained rollup in the batch query's column grain (the
    composite key and bucket column are store implementation
    details)."""
    return store.read().select("window_start", "event_type", "n_events", "sum_value")
