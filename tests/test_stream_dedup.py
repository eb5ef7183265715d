"""Watermark-bounded streaming exact dedup (streaming/dedup.py): the
streamed survivor set must equal the batch pipeline's distinct
fingerprint set (same fingerprint expression as the oracle-checked
``dedup_exact``), and within-batch duplicates must collapse too.
Plus the r9 NEAR-dup gate: streamed band-claim verdicts must replay
exactly from the batch band keys in arrival order, and every verified
near-dup pair of the certified batch ``dedup_minhash_lsh`` must have
its later-arriving member flagged."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from conftest import drain
from data_ingestion_task_spark.plans.dedup_plans import (
    band_rows,
    hashed_shingles,
    minhash_sigs,
)
from data_ingestion_task_spark.sources.tables import load_table
from data_ingestion_task_spark.streaming.dedup import (
    first_occurrence_fingerprints,
    start_dedup_ingest,
    start_neardup_ingest,
)


def test_stream_dedup_matches_batch_survivor_set(spark, sf_dir, tmp_path):
    inbox = tmp_path / "dedup_inbox"
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    # re-posts: every 7th doc arrives AGAIN under a new doc_id (the
    # same-content/new-key case at-ingest dedup exists for), plus the
    # corpus's own splits in two files so duplicates span files
    reposts = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(str(inbox))
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(str(inbox))
    reposts.write.mode("append").parquet(str(inbox))
    arriving = docs.unionByName(reposts)

    schema = spark.read.parquet(str(inbox)).schema
    out_dir = str(tmp_path / "out")
    q = start_dedup_ingest(spark, str(inbox), out_dir, str(tmp_path / "ckpt"), schema)
    drain(q, 120)

    out = spark.read.parquet(out_dir).drop("batch_id")
    streamed = [r["fingerprint"] for r in out.select("fingerprint").collect()]
    batch = {
        r["fingerprint"]
        for r in first_occurrence_fingerprints(arriving).collect()
    }
    # exactly one survivor per distinct content fingerprint
    assert len(streamed) == len(set(streamed)) == len(batch)
    assert set(streamed) == batch
    # the arriving stream actually HAS duplicates, so the operator did work
    assert arriving.count() > len(batch)
    # survivors carry the full consolidated row (ingest_transform)
    for c in ("doc_id", "text", "char_len", "quality", "_arrival_ts"):
        assert c in out.columns


def test_stream_neardup_gate_replays_batch_band_claims(spark, sf_dir, tmp_path):
    """The near-dup gate's verdict log must be exactly reproducible by
    replaying the batch-computed band keys in arrival order (the gate
    is a pure state machine over the certified signature), and every
    verified pair of the certified batch query must have its
    later-arriving member flagged."""
    from data_ingestion_task_spark.plans.dedup_plans import (
        _corpus,
        dedup_minhash_lsh,
    )

    inbox = tmp_path / "nd_inbox"
    out_dir = tmp_path / "nd_verdicts"
    # the SAME corpus the certified batch query scans (documents +
    # planted near/exact copies at +100000/+200000), so the batch
    # pairs are a usable ground-truth anchor; the high planted ids
    # land in the second file → the cross-batch state path is what
    # catches them
    docs = _corpus(spark, sf_dir).withColumn("source", F.lit("inbox"))
    n_docs = docs.count()
    median = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    # two files with controlled modification times: the file source
    # processes oldest-first, so lower ids arrive in micro-batch 1 and
    # the upper half (which holds the planted copies' higher ids) hits
    # band keys claimed by CROSS-batch state
    lo = docs.filter(F.col("doc_id") <= median).coalesce(1)
    hi = docs.filter(F.col("doc_id") > median).coalesce(1)
    lo.write.parquet(str(inbox))
    hi.write.mode("append").parquet(str(inbox))
    parts = sorted(
        (p for p in os.listdir(inbox) if p.endswith(".parquet")),
        key=lambda p: os.path.getmtime(os.path.join(inbox, p)),
    )
    for i, p in enumerate(parts):
        os.utime(os.path.join(inbox, p), (1_700_000_000 + 60 * i,) * 2)

    schema = spark.read.parquet(str(inbox)).schema
    q = start_neardup_ingest(
        spark,
        str(inbox),
        str(tmp_path / "nd_ckpt"),
        schema,
        out_dir=str(out_dir),
        query_name="neardup_t1",
        max_files_per_trigger=1,
    )
    drain(q, 180)

    verdicts = spark.read.parquet(str(out_dir)).collect()
    got = {r["doc_id"]: r["near_dup"] for r in verdicts}
    # one verdict per doc that carries a signature (all sf docs do)
    assert len(verdicts) == len(got) == n_docs

    # replay the claims from the BATCH band keys in arrival order
    bands: dict[int, list[str]] = {}
    hsl = docs.select("doc_id", hashed_shingles(F.col("text"), 3).alias("hs"))
    for r in band_rows(minhash_sigs(hsl)).collect():
        bands.setdefault(r["doc_id"], []).append(r["band_key"])
    claimed: set[str] = set()
    expect = {}
    for r in sorted(verdicts, key=lambda r: (r["ts_ms"], r["doc_id"])):
        ks = bands[r["doc_id"]]
        expect[r["doc_id"]] = any(k in claimed for k in ks)
        claimed.update(ks)
    assert got == expect

    # ground truth anchor: the certified batch query's verified pairs
    # (share >= 1 band AND jaccard >= 0.5) — the later arrival of each
    # pair must have been flagged at the gate
    order = {
        r["doc_id"]: i
        for i, r in enumerate(
            sorted(verdicts, key=lambda r: (r["ts_ms"], r["doc_id"]))
        )
    }
    pairs = dedup_minhash_lsh(spark, sf_dir)
    flagged_pairs = 0
    for p in pairs.collect():
        later = max(p["doc_a"], p["doc_b"], key=lambda d: order[d])
        assert got[later], f"verified near-dup {p} not flagged at ingest"
        flagged_pairs += 1
    for dep in pairs._cached_deps:
        dep.unpersist()
    assert flagged_pairs > 0
    # the gate is a filter, not a sieve: most docs are admitted
    n_dropped = sum(got.values())
    assert 0 < n_dropped < n_docs / 2


def test_stream_and_batch_frames_share_one_band_signature(spark, sf_dir, tmp_path):
    """``band_rows(minhash_sigs(...))`` is pure column work: over the
    same docs, a streaming frame and a batch frame yield the same
    ``(doc_id, band_key)`` set."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    inbox = str(tmp_path / "band_inbox")
    docs.write.parquet(inbox)

    def bands(frame):
        hsl = frame.select("doc_id", hashed_shingles(F.col("text"), 3).alias("hs"))
        return band_rows(minhash_sigs(hsl)).select("doc_id", "band_key")

    q = (
        bands(spark.readStream.schema(docs.schema).parquet(inbox))
        .writeStream.format("memory")
        .queryName("band_signature_t1")
        .option("checkpointLocation", str(tmp_path / "band_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120)
    streamed = {tuple(r) for r in spark.table("band_signature_t1").collect()}
    batch = {tuple(r) for r in bands(docs).collect()}
    assert batch and streamed == batch
