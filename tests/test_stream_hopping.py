"""Watermarked hopping-window stream (streaming/hopping.py): the
streamed aggregate must match the registered batch query
(plans/window_plans.events_hopping_window) exactly on counts and the
exact-DECIMAL value sum, with the approx user count inside its
documented error band."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import drain
from data_ingestion_task_spark.plans.window_plans import events_hopping_window
from data_ingestion_task_spark.sources.tables import load_table
from data_ingestion_task_spark.streaming.hopping import start_hopping_sink


def test_stream_hopping_matches_batch(spark, sf_dir, tmp_path):
    inbox = tmp_path / "hop_inbox"
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    events.write.parquet(str(inbox))

    schema = spark.read.parquet(str(inbox)).schema
    q = start_hopping_sink(
        spark, str(inbox), str(tmp_path / "ckpt"), schema, query_name="hop_counts"
    )
    drain(q, 120)

    streamed = {
        (r["window_start"], r["event_type"]): r
        for r in spark.table("hop_counts").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): r
        for r in events_hopping_window(spark, sf_dir).collect()
    }
    assert set(streamed) == set(batch)
    assert streamed, "no windows emitted"
    for key, b in batch.items():
        s = streamed[key]
        # exact parity where exactness is possible in streaming
        assert s["n_events"] == b["n_events"]
        assert s["sum_value"] == b["sum_value"]  # DECIMAL sum: bit-equal
        # HLL++ approx distinct: documented default rsd is 5%
        assert abs(s["n_users_approx"] - b["n_users"]) <= max(
            3, 0.15 * b["n_users"]
        )
