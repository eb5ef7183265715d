"""Custom stateful streaming operator: gap-based per-user
sessionization via ``applyInPandasWithState`` — the arbitrary-state
API the batch ``events_sessionization`` plan (plans/events_plans.py)
cannot reach, because a session may stay open across micro-batches.

State per user is THREE scalars (last event second, running session
count, running event count) — O(1) per key, so state-store size is
bounded by the active-user cardinality, not by event volume; this is
what makes the operator safe at 100 TB/day ingest. Each micro-batch
emits the user's updated running totals (update output mode); the
latest emission per user equals the batch twin's per-user aggregate,
which is exactly what the test asserts.

Reference grounding: the OCR agent design streams documents through
the same consolidation the batch path uses
(`code/python/ocr_agent_8_29.py:21-33`); sessionization state is the
engine's demonstration of SURVEY §2.10's "custom stateful operator"
slot.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from .ingest import document_stream, run_stream

SESSION_GAP_S = 1800  # 30 min, same constant as the batch twin

_OUT_SCHEMA = "user_id long, n_sessions long, n_events long, last_ts long"
_STATE_SCHEMA = "last_ts long, n_sessions long, n_events long"


def _handle(key: tuple, pdfs: Iterator[Any], state: Any) -> Iterator[Any]:
    """Fold one micro-batch of a single user's events into the running
    (last_ts, n_sessions, n_events) state. Events are sorted by
    (ts_s, event_id) inside the batch — the same total order the batch
    twin's window uses."""
    import pandas as pd

    (user_id,) = key
    if state.exists:
        last_ts, n_sessions, n_events = state.get
    else:
        last_ts, n_sessions, n_events = None, 0, 0

    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.sort_values(["ts_s", "event_id"])
    for t in pdf["ts_s"].astype("int64"):
        if last_ts is None or t - last_ts > SESSION_GAP_S:
            n_sessions += 1
        last_ts = int(t)
        n_events += 1

    state.update((last_ts, n_sessions, n_events))
    yield pd.DataFrame(
        [
            {
                "user_id": int(user_id),
                "n_sessions": int(n_sessions),
                "n_events": int(n_events),
                "last_ts": int(last_ts),
            }
        ]
    )


def stateful_user_sessions(events: DataFrame) -> DataFrame:
    """events(ts TIMESTAMP, user_id, event_id) → running per-user
    session/event counts with 30-min inactivity gap, state kept across
    micro-batches. ``unix_timestamp`` runs JVM-side before the Python
    stage so the handler sees plain int64 seconds (identical
    truncation to the batch twin)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    prepared = events.select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("ts_s")
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _handle,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_stateful_sessions(
    spark: SparkSession,
    inbox: str,
    checkpoint: str,
    schema: StructType,
    query_name: str = "stateful_sessions",
) -> StreamingQuery:
    """File-source → stateful sessionization → in-memory update sink.
    ``maxFilesPerTrigger=1`` forces one micro-batch per dropped file so
    the cross-batch state path is actually exercised; production would
    raise it and point the sink at a keyed upsert store."""
    events = document_stream(spark, inbox, schema, max_files_per_trigger=1)
    sessions = stateful_user_sessions(events)
    return run_stream(sessions, checkpoint, None, query_name, output_mode="update")
