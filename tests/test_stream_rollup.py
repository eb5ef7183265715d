"""Incremental rollup maintenance (streaming/rollup.py): after the
stream drains, the maintained store must equal the certified batch
tumbling rollup (n_events + exact-DECIMAL sum_value grain) over the
same events, with every window updated across MULTIPLE micro-batches
(the cumulative-update MERGE path, not a single-shot write)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from conftest import drain
from data_ingestion_task_spark.sources.tables import load_table
from data_ingestion_task_spark.streaming.rollup import (
    read_rollup,
    rollup_store,
    start_rollup_maintenance,
)


def test_maintained_rollup_converges_to_batch(spark, sf_dir, tmp_path):
    inbox = tmp_path / "ru_inbox"
    events = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "user_id", "value"
    )
    # split by user residue, NOT by time: every window appears in all
    # three files, so every store row is built by cumulative updates
    # across micro-batches (maxFilesPerTrigger=1 -> 3 batches)
    for i in range(3):
        events.filter(F.col("user_id") % 3 == i).write.mode("append").parquet(
            str(inbox)
        )
    parts = sorted(
        (p for p in os.listdir(inbox) if p.endswith(".parquet")),
        key=lambda p: os.path.getmtime(os.path.join(inbox, p)),
    )
    for i, p in enumerate(parts):
        os.utime(os.path.join(inbox, p), (1_700_000_000 + 60 * i,) * 2)

    store = rollup_store(spark, str(tmp_path / "ru_store"), n_buckets=8)
    schema = spark.read.parquet(str(inbox)).schema
    q = start_rollup_maintenance(
        spark,
        str(inbox),
        str(tmp_path / "ru_ckpt"),
        schema,
        store,
        # out-of-time-order arrival (user-residue split): a horizon
        # wider than the event span so no window's state is evicted
        # before its late rows arrive
        watermark="3650 days",
        max_files_per_trigger=1,
        query_name="rollup_t1",
    )
    drain(q, 180)

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in read_rollup(store).collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in (
            events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                F.unix_timestamp(F.col("w.start")).alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
            .collect()
        )
    }
    assert got == want
    assert len(got) > 10  # the corpus actually spans many windows

    # draining the SAME inbox again from a fresh checkpoint replays
    # every cumulative snapshot — with the PRODUCTION watermark this
    # time (ADVICE r9 #1): the user-residue file split arrives out of
    # time order, so the 2-hour watermark drops most late rows and the
    # re-drain re-emits PARTIAL counts for converged windows. The
    # store-level max_by(seq) (stored row wins ties) must keep every
    # converged row, not regress it to the partial snapshot.
    q2 = start_rollup_maintenance(
        spark,
        str(inbox),
        str(tmp_path / "ru_ckpt2"),
        schema,
        store,
        watermark="2 hours",
        max_files_per_trigger=1,
        query_name="rollup_t2",
    )
    drain(q2, 180)
    got2 = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in read_rollup(store).collect()
    }
    assert got2 == want
