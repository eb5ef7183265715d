"""Checkpoint kill-and-restart recovery (VERDICT r9 #7): stop the
band-claim near-dup gate and the curation pipeline mid-drain, restart
from the same checkpoint, and assert the admitted/verdict sets equal a
single uninterrupted run's — the exactly-once story of the state
machines asserted by an actual interrupted run, not replay logs."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from conftest import drain, stop_after_first_progress
from data_ingestion_task_spark.sources.tables import load_table
from data_ingestion_task_spark.streaming.curate import (
    batch_curation_survivor_fingerprints,
    start_curated_ingest,
)
from data_ingestion_task_spark.streaming.dedup import start_neardup_ingest


def _spread_files(df, inbox, n_files: int, key: str = "doc_id") -> None:
    """n_files mtime-ordered inbox files split by key residue, so a
    maxFilesPerTrigger=1 drain runs n_files micro-batches."""
    for i in range(n_files):
        df.filter(F.col(key) % n_files == i).write.mode("append").parquet(str(inbox))
    parts = sorted(
        (p for p in os.listdir(inbox) if p.endswith(".parquet")),
        key=lambda p: os.path.getmtime(os.path.join(inbox, p)),
    )
    for i, p in enumerate(parts):
        os.utime(os.path.join(inbox, p), (1_700_000_000 + 60 * i,) * 2)


def _verdict_pairs(spark, out_dir):
    return {
        (r["doc_id"], r["near_dup"])
        for r in spark.read.parquet(str(out_dir)).select("doc_id", "near_dup").collect()
    }


def test_neardup_gate_recovers_from_mid_drain_kill(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    reposts = docs.filter(F.col("doc_id") % 4 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    arriving = docs.unionByName(reposts)
    inbox = tmp_path / "nr_inbox"
    _spread_files(arriving, inbox, n_files=6)
    schema = spark.read.parquet(str(inbox)).schema

    # reference: one uninterrupted drain
    ref_out = tmp_path / "nr_ref_out"
    q_ref = start_neardup_ingest(
        spark,
        str(inbox),
        str(tmp_path / "nr_ref_ckpt"),
        schema,
        out_dir=str(ref_out),
        max_files_per_trigger=1,
        query_name="nd_rec_ref",
    )
    drain(q_ref, 180)
    want = _verdict_pairs(spark, ref_out)

    # interrupted run: kill after the first progress, restart from the
    # SAME checkpoint and verdict log
    out = tmp_path / "nr_out"
    ckpt = str(tmp_path / "nr_ckpt")
    q1 = start_neardup_ingest(
        spark,
        str(inbox),
        ckpt,
        schema,
        out_dir=str(out),
        max_files_per_trigger=1,
        query_name="nd_rec_kill",
    )
    stop_after_first_progress(q1)
    q2 = start_neardup_ingest(
        spark,
        str(inbox),
        ckpt,
        schema,
        out_dir=str(out),
        max_files_per_trigger=1,
        query_name="nd_rec_resume",
    )
    drain(q2, 180)

    got = _verdict_pairs(spark, out)
    assert got == want
    # one verdict per arriving doc (set grain — an uncommitted-batch
    # replay may append duplicate identical rows, never conflicting ones)
    assert len({d for d, _ in got}) == arriving.count()
    # ...and at row grain: a replayed batch overwrites its own
    # batch_id path, so the log holds exactly one row per arriving doc
    assert spark.read.parquet(str(out)).count() == arriving.count()
    # the re-posts were genuinely flagged across the kill boundary
    flagged = {d for d, nd in got if nd}
    assert {d for d in flagged if d >= 1_000_000}


def test_curated_ingest_recovers_from_mid_drain_kill(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    reposts = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    arriving = docs.unionByName(reposts)
    inbox = tmp_path / "cr_inbox"
    _spread_files(arriving, inbox, n_files=6)
    schema = spark.read.parquet(str(inbox)).schema

    admitted_dir = tmp_path / "cr_admitted"
    ckpt = str(tmp_path / "cr_ckpt")
    q1 = start_curated_ingest(
        spark,
        str(inbox),
        ckpt,
        schema,
        admitted_dir=str(admitted_dir),
        query_name="cur_rec_kill",
    )
    stop_after_first_progress(q1)
    q2 = start_curated_ingest(
        spark,
        str(inbox),
        ckpt,
        schema,
        admitted_dir=str(admitted_dir),
        query_name="cur_rec_resume",
    )
    drain(q2, 180)

    admitted = spark.read.parquet(str(admitted_dir))
    streamed = [r["fingerprint"] for r in admitted.select("fingerprint").collect()]
    batch = {
        r["fingerprint"]
        for r in batch_curation_survivor_fingerprints(arriving).collect()
    }
    # exactly-once across the kill: no duplicate admissions (the
    # parquet sink's manifest dedups a replayed batch's files), and
    # the admitted set equals the uninterrupted batch-facade verdict
    assert len(streamed) == len(set(streamed)) == len(batch)
    assert set(streamed) == batch
