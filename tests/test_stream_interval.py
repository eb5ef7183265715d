"""Stream-static binned interval join (streaming/interval.py): the
streamed attribution tags must match (a) the same function applied in
batch and (b) a naive BETWEEN ground-truth join."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import drain
from data_ingestion_task_spark.sources.tables import load_table
from data_ingestion_task_spark.streaming.interval import (
    LEN_S,
    interval_tag_stream,
    start_interval_tagged_sink,
)


def test_stream_interval_tags_match_batch_and_naive(spark, sf_dir, tmp_path):
    inbox = tmp_path / "iv_inbox"
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    events.write.parquet(str(inbox))

    intervals = events.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("interval_id"),
        F.col("event_type").alias("tag"),
        F.unix_timestamp("ts").alias("start_s"),
    )

    schema = spark.read.parquet(str(inbox)).schema
    q = start_interval_tagged_sink(
        spark, str(inbox), intervals, str(tmp_path / "ckpt"), schema,
        query_name="iv_tagged",
    )
    drain(q, 120)

    streamed = spark.table("iv_tagged").select("event_id", "interval_id")
    batch = interval_tag_stream(events, intervals).select("event_id", "interval_id")

    # ground truth: the naive containment join (fine in a test; the
    # whole point of the binned shape is to never PLAN this at scale)
    pts = events.select("event_id", F.unix_timestamp("ts").alias("ts_s"))
    naive = pts.join(
        intervals,
        (F.col("ts_s") >= F.col("start_s"))
        & (F.col("ts_s") < F.col("start_s") + LEN_S),
    ).select("event_id", "interval_id")

    assert streamed.count() > 0
    for a, b in ((streamed, batch), (streamed, naive)):
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
