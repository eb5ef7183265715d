"""Watermarked hopping-window aggregation stream — the Structured
Streaming twin of ``plans/window_plans.events_hopping_window`` (the
same ``F.window(duration, slide)`` expression, which is why the batch
query was written with ``F.window`` rather than a manual fan-out).

Semantics shared with the batch twin: every event contributes to
exactly duration/slide overlapping windows; counts and the
exact-DECIMAL value sum match the batch rollup bit-for-bit on the same
closed data (pinned by ``tests/test_stream_hopping.py``). The one
forced divergence: streaming aggregations cannot run exact
``countDistinct`` (unbounded per-window state), so the user count is
``approx_count_distinct`` — the documented trade; batch recomputes it
exactly downstream where it matters.

Scale notes: state size is (windows retained × event_types), bounded
by the watermark horizon — each arriving event updates 4 window
states, and windows older than ``watermark`` are evicted; with a 2 h
watermark and 15 min slide that is ≤ 12 live windows per type per
partition, regardless of stream rate. Use ``append`` mode + watermark
in production (emit once, on window close); the in-memory ``complete``
sink here exists for the batch-parity harness, where no watermark has
passed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from .ingest import document_stream, run_stream

#: Defaults mirror the batch twin (plans/window_plans.py).
DURATION_S = 3600
SLIDE_S = 900


def hopping_counts_stream(
    stream: DataFrame,
    *,
    duration_s: int = DURATION_S,
    slide_s: int = SLIDE_S,
    watermark: str = "2 hours",
) -> DataFrame:
    """Event stream (needs event-time ``ts`` and ``event_type``,
    ``value``) → per-(hopping window, type) aggregate. NULL event
    times are excluded, matching the batch twin's contract."""
    return (
        stream.filter(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", f"{duration_s} seconds", f"{slide_s} seconds").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "n_users_approx",
            "sum_value",
        )
    )


def start_hopping_sink(
    spark: SparkSession,
    inbox: str,
    checkpoint: str,
    schema: StructType,
    query_name: str = "hopping_counts",
    **kwargs,
) -> StreamingQuery:
    """inbox parquet stream → hopping aggregate → in-memory table
    ``query_name`` in ``complete`` mode (the batch-parity harness
    shape: nothing has outlived the watermark, so ``append`` would
    emit nothing). Production: append mode to a parquet sink, where
    each window emits exactly once when the watermark passes its
    end."""
    stream = document_stream(spark, inbox, schema)
    counts = hopping_counts_stream(stream, **kwargs)
    return run_stream(counts, checkpoint, None, query_name, output_mode="complete")
