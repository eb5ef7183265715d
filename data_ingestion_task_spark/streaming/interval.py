"""Stream-static interval (range-containment) join — the Structured
Streaming twin of ``plans/interval_plans.py``'s binned batch join.

Attribution windows (campaigns, incident/maintenance windows) are a
static dimension refreshed occasionally; events arrive as a stream.
The naive formulation — a BETWEEN join — is unusable in streaming for
the same reason as in batch (no equi-key → nested-loop per
micro-batch) plus a streaming-specific one: a non-equi stream-static
join denies Spark the broadcast-hash shape that keeps the stream side
narrow. The binned shape fixes both:

- static side: explode each interval to the ≤ 2 bins it overlaps
  (bin width ≥ interval length), broadcast — re-evaluated per
  micro-batch, so a refreshed interval table is picked up live
  (Spark's stream-static contract, same as ``enrich.enrich_stream``);
- stream side: one narrow projection computes the event's single bin
  — stateless, no watermark needed, file-source parallelism carries
  straight through;
- equi-join on ``bin`` (BroadcastHashJoin per micro-batch) then the
  exact half-open containment re-check in the same codegen stage.

Every event lands in exactly one bin, so a (event, interval) match is
emitted at most once — the join itself stays duplicate-free without
state. Scale knobs are the batch module's: shrink the bin width to
multiply join-key cardinality when the interval side outgrows a
broadcast (see plans/interval_plans.py module docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from .ingest import document_stream, run_stream

#: Defaults mirror the batch twin (plans/interval_plans.py).
BIN_S = 7200
LEN_S = 7200


def explode_interval_bins(
    intervals: DataFrame, *, bin_s: int = BIN_S, len_s: int = LEN_S
) -> DataFrame:
    """Static side: ``(interval_id, tag, start_s)`` → one row per
    overlapped bin (≤ 2 when ``bin_s >= len_s``)."""
    return intervals.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(F.col("start_s") / bin_s),
                F.floor((F.col("start_s") + len_s - 1) / bin_s),
            )
        ),
    )


def interval_tag_stream(
    stream: DataFrame,
    intervals: DataFrame,
    *,
    bin_s: int = BIN_S,
    len_s: int = LEN_S,
) -> DataFrame:
    """Tag streamed events with every containing attribution window.

    ``stream`` needs an event-time column ``ts``; ``intervals`` is the
    static ``(interval_id, tag, start_s)`` frame. Inner join: events
    outside every window are dropped (use the untagged stream for the
    rest — this is the attribution branch).

    ``ts_s`` and ``bin`` are derived here; a stream already carrying
    either name would be silently clobbered by ``withColumn``, so it
    is rejected instead (same guard as ``KeyedParquetStore.merge``'s
    reserved ``bucket`` column)."""
    reserved = {"ts_s", "bin"} & set(stream.columns)
    if reserved:
        raise ValueError(
            f"stream already has reserved column(s) {sorted(reserved)}; "
            "rename them before interval_tag_stream"
        )
    pts = stream.withColumn("ts_s", F.unix_timestamp("ts")).withColumn(
        "bin", F.floor(F.col("ts_s") / bin_s)
    )
    iv = explode_interval_bins(intervals, bin_s=bin_s, len_s=len_s)
    return pts.join(F.broadcast(iv), "bin").where(
        (F.col("ts_s") >= F.col("start_s"))
        & (F.col("ts_s") < F.col("start_s") + len_s)
    )


def start_interval_tagged_sink(
    spark: SparkSession,
    inbox: str,
    intervals: DataFrame,
    checkpoint: str,
    schema: StructType,
    query_name: str = "interval_tagged",
) -> StreamingQuery:
    """inbox parquet stream → binned broadcast interval join →
    in-memory table ``query_name`` (swap for a parquet sink in
    production; the idempotent batch_id contract of
    ``streaming.ingest`` applies unchanged)."""
    stream = document_stream(spark, inbox, schema)
    tagged = interval_tag_stream(stream, intervals)
    return run_stream(tagged, checkpoint, None, query_name)
