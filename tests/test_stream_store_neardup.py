"""Store-backed streaming NEAR-dup gate (streaming/store_neardup.py):
unbounded-horizon rejection of near-duplicates (re-posts in later
batches and in brand-new query runs), and store-grain exactly-once
across a mid-drain kill — a full replay of the inbox through a fresh
query must change nothing (every doc re-judges as dup_of_corpus
against its own stored claim)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from conftest import drain, stop_after_first_progress
from data_ingestion_task_spark.functions.text import words
from data_ingestion_task_spark.sources.tables import load_table
from data_ingestion_task_spark.streaming.store_dedup import start_store_gate_ingest
from data_ingestion_task_spark.streaming.store_neardup import (
    neardup_band_store,
    neardup_gate,
    store_admitted,
)


def _mtime_order(inbox) -> None:
    parts = sorted(
        (p for p in os.listdir(inbox) if p.endswith(".parquet")),
        key=lambda p: os.path.getmtime(os.path.join(inbox, p)),
    )
    for i, p in enumerate(parts):
        os.utime(os.path.join(inbox, p), (1_700_000_000 + 60 * i,) * 2)


def test_neardup_gate_rejects_reposts_across_batches_and_runs(
    spark, sf_dir, tmp_path
):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    inbox = tmp_path / "nd_inbox"
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).write.mode("append").parquet(
            str(inbox)
        )
    # near-reposts (first 5 words dropped) of LONG docs arrive last —
    # length >= 40 words keeps the shingle Jaccard ~0.85, far above
    # the 0.5 conviction threshold
    ws = words(F.col("text"))
    near = (
        docs.filter((F.size(ws) >= 40) & (F.col("doc_id") % 2 == 0))
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat_ws(" ", F.slice(ws, 6, F.size(ws) - 5)).alias("text"),
        )
    )
    n_near = near.count()
    assert n_near > 10
    near.coalesce(1).write.mode("append").parquet(str(inbox))
    _mtime_order(inbox)

    schema = spark.read.parquet(str(inbox)).schema
    store = neardup_band_store(spark, str(tmp_path / "nd_store"), n_buckets=8)
    q = start_store_gate_ingest(
        spark,
        str(inbox),
        str(tmp_path / "nd_ckpt"),
        schema,
        neardup_gate(store, str(tmp_path / "nd_verdicts")),
        max_files_per_trigger=1,
        query_name="nd_t1",
    )
    drain(q, 240)

    verdicts = spark.read.parquet(str(tmp_path / "nd_verdicts"))
    rp = verdicts.filter(F.col("doc_id") >= 1_000_000)
    assert rp.count() == n_near
    rejected = rp.filter(F.col("verdict") == "dup_of_corpus")
    # band collision is probabilistic per doc (single-probe LSH recall)
    # but deterministic for fixed data — allow the standard tail
    assert rejected.count() >= int(0.8 * n_near)
    # every conviction points at a pre-repost canonical
    assert rejected.filter(F.col("canonical_doc_id") >= 1_000_000).count() == 0

    # a brand-NEW query run re-posting EXACT copies (Jaccard 1.0, same
    # bands — deterministic) is still fully rejected: durable registry
    n_store = store.read().count()
    inbox2 = tmp_path / "nd_inbox2"
    docs.filter(F.col("doc_id") % 3 == 1).withColumn(
        "doc_id", F.col("doc_id") + 2_000_000
    ).write.parquet(str(inbox2))
    q2 = start_store_gate_ingest(
        spark,
        str(inbox2),
        str(tmp_path / "nd_ckpt2"),
        schema,
        neardup_gate(store, str(tmp_path / "nd_verdicts2")),
        query_name="nd_t2",
    )
    drain(q2, 240)
    v2 = spark.read.parquet(str(tmp_path / "nd_verdicts2"))
    assert v2.filter(F.col("verdict") != "dup_of_corpus").count() == 0
    assert store.read().count() == n_store  # no claim added or stolen


def test_neardup_gate_exactly_once_at_store_grain_across_kill(
    spark, sf_dir, tmp_path
):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    inbox = tmp_path / "nk_inbox"
    for i in range(6):
        docs.filter(F.col("doc_id") % 6 == i).write.mode("append").parquet(
            str(inbox)
        )
    _mtime_order(inbox)
    schema = spark.read.parquet(str(inbox)).schema
    store = neardup_band_store(spark, str(tmp_path / "nk_store"), n_buckets=8)
    ckpt = str(tmp_path / "nk_ckpt")
    q1 = start_store_gate_ingest(
        spark,
        str(inbox),
        ckpt,
        schema,
        neardup_gate(store, str(tmp_path / "nk_verdicts")),
        max_files_per_trigger=1,
        query_name="nk_kill",
    )
    stop_after_first_progress(q1)
    q2 = start_store_gate_ingest(
        spark,
        str(inbox),
        ckpt,
        schema,
        neardup_gate(store, str(tmp_path / "nk_verdicts")),
        max_files_per_trigger=1,
        query_name="nk_resume",
    )
    drain(q2, 240)

    n_store = store.read().count()
    n_admitted = store_admitted(store).count()
    assert 0 < n_admitted <= docs.count()
    # store-grain exactly-once, proven by FULL replay: a fresh query
    # over the same inbox re-judges every doc dup_of_corpus (identical
    # text -> identical bands -> Jaccard 1.0 vs its own stored claim,
    # deterministic) and merges nothing
    q3 = start_store_gate_ingest(
        spark,
        str(inbox),
        str(tmp_path / "nk_ckpt3"),
        schema,
        neardup_gate(store, str(tmp_path / "nk_verdicts3")),
        query_name="nk_replay",
    )
    drain(q3, 240)
    v3 = spark.read.parquet(str(tmp_path / "nk_verdicts3"))
    assert v3.count() == docs.count()
    assert v3.filter(F.col("verdict") != "dup_of_corpus").count() == 0
    assert store.read().count() == n_store
    assert store_admitted(store).count() == n_admitted


def test_dual_neardup_gate_ram_absorbs_store_convicts(spark, sf_dir, tmp_path):
    """Composed dual near-dup gate: within-horizon EXACT re-posts are
    absorbed by the watermark RAM stage (no verdict row — never judged,
    never merged); NEAR variants pass the exact stage and are convicted
    by the band registry; a cross-run exact re-post (fresh checkpoint)
    reaches the store gate and is rejected at Jaccard 1.0."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    base = docs.filter(F.col("doc_id") % 2 == 0)
    inbox = tmp_path / "dn_inbox"
    base.write.mode("append").parquet(str(inbox))
    # file 2: EXACT re-posts, same run, within horizon
    exact_rp = base.filter(F.col("doc_id") % 3 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    exact_rp.coalesce(1).write.mode("append").parquet(str(inbox))
    # file 3: NEAR variants of LONG docs — survive the exact stage
    ws = words(F.col("text"))
    near_rp = base.filter(F.size(ws) >= 40).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(ws, 6, F.size(ws) - 5)).alias("text"),
        "source",
    )
    n_near = near_rp.count()
    assert n_near > 5
    near_rp.coalesce(1).write.mode("append").parquet(str(inbox))
    _mtime_order(inbox)

    schema = spark.read.parquet(str(inbox)).schema
    store = neardup_band_store(spark, str(tmp_path / "dn_store"), n_buckets=8)
    q = start_store_gate_ingest(
        spark,
        str(inbox),
        str(tmp_path / "dn_ckpt"),
        schema,
        neardup_gate(store, str(tmp_path / "dn_verdicts")),
        watermark="10 minutes",
        max_files_per_trigger=1,
        query_name="dn_t1",
    )
    drain(q, 240)

    verdicts = spark.read.parquet(str(tmp_path / "dn_verdicts"))
    # exact re-posts: absorbed upstream, never judged
    assert (
        verdicts.filter(
            (F.col("doc_id") >= 1_000_000) & (F.col("doc_id") < 2_000_000)
        ).count()
        == 0
    )
    # near variants: reached the gate, convicted by the registry
    nv = verdicts.filter(F.col("doc_id") >= 2_000_000)
    assert nv.count() == n_near
    assert nv.filter(F.col("verdict") == "dup_of_corpus").count() >= int(
        0.8 * n_near
    )
    n_store = store.read().count()
    assert store_admitted(store).filter(F.col("canonical_doc_id") >= 1_000_000).count() == 0

    # cross-RUN exact re-post: RAM state gone, store gate convicts
    inbox2 = tmp_path / "dn_inbox2"
    base.filter(F.col("doc_id") % 3 == 1).withColumn(
        "doc_id", F.col("doc_id") + 3_000_000
    ).write.parquet(str(inbox2))
    q2 = start_store_gate_ingest(
        spark,
        str(inbox2),
        str(tmp_path / "dn_ckpt2"),
        schema,
        neardup_gate(store, str(tmp_path / "dn_verdicts2")),
        watermark="10 minutes",
        query_name="dn_t2",
    )
    drain(q2, 240)
    v2 = spark.read.parquet(str(tmp_path / "dn_verdicts2"))
    assert v2.count() > 0
    assert v2.filter(F.col("verdict") != "dup_of_corpus").count() == 0
    assert store.read().count() == n_store
