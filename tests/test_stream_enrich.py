"""Stream-static enrichment join + redacting ingest sink
(streaming/enrich.py): streamed output must match the batch twin, and
raw PII must never reach sink files."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import drain
from data_ingestion_task_spark.functions.pii import PII_PATTERNS, pii_span_count
from data_ingestion_task_spark.streaming.enrich import (
    enrich_stream,
    start_enriched_event_sink,
    start_redacted_document_ingest,
)
from data_ingestion_task_spark.sources.tables import load_table


def test_stream_static_join_matches_batch_twin(spark, sf_dir, tmp_path):
    inbox = tmp_path / "ev_inbox"
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    events.write.parquet(str(inbox))

    # static dim: per-user tier derived once from the same corpus
    dim = (
        events.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", (F.col("n_events") >= 20).alias("heavy_user"))
    )

    schema = spark.read.parquet(str(inbox)).schema
    q = start_enriched_event_sink(
        spark, str(inbox), dim, "user_id", str(tmp_path / "ckpt"), schema,
        query_name="enriched_ev",
    )
    drain(q, 120)

    streamed = spark.table("enriched_ev")
    batch = enrich_stream(events, dim, "user_id")
    assert streamed.count() == events.count()
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0
    # left join: every row got a dim verdict (dim built from same corpus)
    assert streamed.filter(F.col("heavy_user").isNull()).count() == 0


def test_redacted_ingest_scrubs_before_sink(spark, sf_dir, tmp_path):
    inbox = tmp_path / "doc_inbox"
    # plant real PII in the inbox copies
    docs = load_table(spark, sf_dir, "documents").limit(100).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" reach me: someone@corp.example.org or (555) 867-5309"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "source",
    )
    docs.coalesce(1).write.parquet(str(inbox))

    schema = spark.read.parquet(str(inbox)).schema
    q = start_redacted_document_ingest(
        spark, str(inbox), str(tmp_path / "out"), str(tmp_path / "ckpt2"), schema
    )
    drain(q, 120)

    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 100
    # no rule matches anything in the sink — raw PII never landed
    assert got.filter(pii_span_count(F.col("text")) > 0).count() == 0
    # the planted docs carry redaction markers + a provenance count of 2
    planted = got.filter(F.col("doc_id") % 3 == 0)
    assert planted.filter(~F.col("text").contains("[EMAIL]")).count() == 0
    assert planted.filter(~F.col("text").contains("[PHONE]")).count() == 0
    assert planted.filter(F.col("pii_spans_removed") != 2).count() == 0
    clean = got.filter(F.col("doc_id") % 3 != 0)
    assert clean.filter(F.col("pii_spans_removed") != 0).count() == 0
    assert len(PII_PATTERNS) == 4  # the accounting query covers every rule
