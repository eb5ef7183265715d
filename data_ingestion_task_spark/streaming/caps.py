"""Per-key admission quotas at ingest (SURVEY §2.10 extension): the
streaming analogue of the certified batch caps
(``language_balanced_sample`` / ``domain_frequency_cap``,
``plans/selection_plans.capped_by_key``) — cap how many documents each
language / source domain may contribute, judged as docs arrive.

Semantics, stated honestly: the batch cap keeps a deterministic
HASH-RANKED subset per key (re-runnable corpus-wide, order-free); an
ingest gate cannot see the future, so it admits in ARRIVAL order until
the key's quota is spent. The admitted COUNT per key is identical
(``min(cap, n_key)`` either way — test-pinned); the membership rule is
first-arrival by design. Production runs both, exactly like the dedup
split this package already ships: the arrival-order gate bounds
long-tail domination the moment data lands, the periodic batch pass
re-draws the deterministic sample for training reproducibility.

Two quota regimes via ``horizon_s``:

- ``None`` (default): an absolute corpus quota — the batch cap's
  contract. State never expires.
- a number: a rolling rate limit — a key that sat idle past the
  horizon gets a fresh quota on its next arrival. The gap is judged
  in the handler PER ROW against the previous arrival (carried across
  micro-batches via the key's last sighting), so an over-horizon idle
  gap refills the quota wherever it falls — between batches or inside
  one micro-batch (two bursts an hour apart can land in a single
  batch under ``max_files_per_trigger=64`` or an ``availableNow``
  backlog drain — ADVICE r9 #2). The event-time TTL only
  garbage-collects keys that never return, since a timeout fires
  one watermark advance after the horizon — too late to refill a
  burst arriving right at the boundary. This is the "at most N docs
  per domain per hour" knob a 100 TB/day pipeline actually sets.

Scale: state is ONE integer per live key — bounded by key cardinality
(languages, domains), the smallest state in the streaming package; the
only exchange is the key hash to the state shards. The verdict is
arrival-order-deterministic, so a checkpoint replay of a micro-batch
reproduces it bit-for-bit (same (ts, id) sort the other gates use).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from .ingest import document_stream, run_stream

_OUT_SCHEMA = "doc_id long, cap_key string, ts_ms long, admitted boolean"
_STATE_SCHEMA = "n_admitted int, last_ts_ms long"


def _quota_fn(cap: int, horizon_ms: int | None):
    """Handler factory: per key, admit rows in (ts, doc_id) order —
    the package's standard within-batch total order — while the
    admitted counter is below ``cap``; the counter survives across
    micro-batches. The rolling refill is judged IN the handler, row by
    row: the counter resets whenever the gap from the previous arrival
    (the carried last sighting for the first row) exceeds the horizon,
    so an idle gap INSIDE one micro-batch refills exactly like one at
    a batch boundary (ADVICE r9 #2). An event-time TIMEOUT only fires
    once the watermark passes it, i.e. at the earliest one micro-batch
    after the horizon truly elapsed — a burst arriving right after an
    idle gap would still see the stale counter. The timeout is kept,
    but only as state GC for keys that never return."""

    def _handle(key: tuple, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts_ms", "doc_id"]
        )
        n, last = state.get if state.exists else (0, None)
        admitted = []
        prev = last
        for t in pdf["ts_ms"].astype("int64").tolist():
            if horizon_ms is not None and prev is not None and t - prev > horizon_ms:
                n = 0  # the key sat idle past the horizon: fresh quota
            admitted.append(n < cap)
            n += int(n < cap)
            prev = t
        last = int(pdf["ts_ms"].max())
        state.update((int(n), last))
        if horizon_ms is not None:
            state.setTimeoutTimestamp(last + horizon_ms)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "cap_key": str(key[0]),
                "ts_ms": pdf["ts_ms"].astype("int64"),
                "admitted": admitted,
            }
        )

    return _handle


def quota_verdicts(
    stream: DataFrame,
    key_col: str,
    cap: int,
    horizon_s: int | None = None,
    ts_col: str = "_arrival_ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming ``(doc_id, cap_key, ts_ms, admitted)`` verdicts: one
    row per arriving doc, ``admitted`` false once ``key_col``'s quota
    is spent. Caveat for the rolling regime (``horizon_s`` set): rows
    whose event time is already behind the watermark are dropped by
    Spark BEFORE the stateful operator, so a too-late doc gets NO
    verdict row at all — under the join-back admission pattern it is
    therefore not admitted (rejected by absence, not by an explicit
    ``admitted=false`` row). Callers needing an audit row for late
    docs should left-join the inbox against the verdict log and treat
    a NULL verdict as rejected-late (ADVICE r9 #3). If ``ts_col`` is
    absent an arrival-time column is stamped
    (processing-time semantics, the inbox regime). A NULL key is
    canonicalized to the literal ``'∅'`` bucket — unattributed docs
    share one quota rather than escaping the cap (the batch cap groups
    NULLs together too). ``ts_ms`` is derived JVM-side so the handler
    never touches timezone-laden timestamps (the streaming/stateful.py
    lesson)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    if ts_col not in stream.columns:
        stream = stream.withColumn(ts_col, F.current_timestamp())
    if horizon_s is not None:
        stream = stream.withWatermark(ts_col, f"{horizon_s} seconds")
    # The watermarked column itself must reach the stateful operator
    # (dropping it in the projection fails analysis under event-time
    # timeout); the handler reads only the JVM-derived ts_ms.
    prepared = stream.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(key_col).cast("string"), F.lit("∅")).alias("cap_key"),
        F.unix_millis(F.col(ts_col)).alias("ts_ms"),
        F.col(ts_col),
    )
    return prepared.groupBy("cap_key").applyInPandasWithState(
        _quota_fn(cap, None if horizon_s is None else horizon_s * 1000),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if horizon_s is None
            else GroupStateTimeout.EventTimeTimeout
        ),
    )


def start_capped_ingest(
    spark: SparkSession,
    inbox: str,
    checkpoint: str,
    schema: StructType,
    out_dir: str,
    key_col: str,
    cap: int,
    horizon_s: int | None = None,
    max_files_per_trigger: int = 64,
    query_name: str = "capped_ingest",
) -> StreamingQuery:
    """inbox → per-key quota verdicts → parquet verdict log at
    ``out_dir`` (admission = join back on ``doc_id``, the same
    verdict-log layout as the near-dup gate). ``availableNow`` drains
    the backlog and stops (the test run mode); tests pass
    ``max_files_per_trigger=1`` to force the cross-batch counter
    path."""
    stream = document_stream(spark, inbox, schema, max_files_per_trigger)
    verdicts = quota_verdicts(stream, key_col, cap, horizon_s=horizon_s)
    return run_stream(verdicts, checkpoint, out_dir, query_name)
