"""Per-key admission quotas (streaming/caps.py): admitted counts per
key must equal the batch cap's ``min(cap, n_key)`` contract across
micro-batches, verdicts must replay deterministically from arrival
order, and the rolling-horizon regime must refill an idle key's
quota."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from conftest import drain
from data_ingestion_task_spark.sources.tables import load_table
from data_ingestion_task_spark.streaming.caps import start_capped_ingest

CAP = 40


def _ordered_files(df, inbox, n=3, residue_col="doc_id"):
    for i in range(n):
        df.filter(F.col(residue_col) % n == i).write.mode("append").parquet(
            str(inbox)
        )
    parts = sorted(
        (p for p in os.listdir(inbox) if p.endswith(".parquet")),
        key=lambda p: os.path.getmtime(os.path.join(inbox, p)),
    )
    for i, p in enumerate(parts):
        os.utime(os.path.join(inbox, p), (1_700_000_000 + 60 * i,) * 2)


def test_quota_counts_match_batch_cap_contract(spark, sf_dir, tmp_path):
    inbox = tmp_path / "cap_inbox"
    out_dir = tmp_path / "cap_verdicts"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    _ordered_files(docs, inbox)

    schema = spark.read.parquet(str(inbox)).schema
    q = start_capped_ingest(
        spark,
        str(inbox),
        str(tmp_path / "cap_ckpt"),
        schema,
        out_dir=str(out_dir),
        key_col="lang",
        cap=CAP,
        max_files_per_trigger=1,
        query_name="caps_t1",
    )
    drain(q, 180)

    verdicts = spark.read.parquet(str(out_dir))
    # one verdict per arriving doc
    assert verdicts.count() == docs.count()
    got = {
        r["cap_key"]: r["n"]
        for r in verdicts.filter("admitted")
        .groupBy("cap_key")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    want = {
        r["lang"]: min(CAP, r["n"])
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert got == want
    # the cap actually bound (every sf0.001 language exceeds CAP=40;
    # the under-cap spare case is covered by the NULL-bucket test)
    assert any(v == CAP for v in got.values())
    assert verdicts.filter("not admitted").count() > 0

    # replay the verdicts from arrival order: per key, the first CAP
    # (ts, doc_id)-ordered rows are admitted, the rest rejected
    rows = sorted(
        verdicts.collect(), key=lambda r: (r["ts_ms"], r["doc_id"])
    )
    seen: dict[str, int] = {}
    for r in rows:
        want_admit = seen.get(r["cap_key"], 0) < CAP
        assert r["admitted"] == want_admit, r
        seen[r["cap_key"]] = seen.get(r["cap_key"], 0) + int(want_admit)


def test_quota_null_keys_share_one_bucket(spark, tmp_path):
    inbox = tmp_path / "capn_inbox"
    out_dir = tmp_path / "capn_verdicts"
    df = spark.createDataFrame(
        [(i, None if i % 2 else "en") for i in range(20)] + [(99, "fr")],
        "doc_id long, lang string",
    )
    df.write.parquet(str(inbox))
    schema = spark.read.parquet(str(inbox)).schema
    q = start_capped_ingest(
        spark,
        str(inbox),
        str(tmp_path / "capn_ckpt"),
        schema,
        out_dir=str(out_dir),
        key_col="lang",
        cap=3,
        query_name="caps_t2",
    )
    drain(q, 120)
    got = {
        r["cap_key"]: r["n"]
        for r in spark.read.parquet(str(out_dir))
        .filter("admitted")
        .groupBy("cap_key")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # a key under its quota keeps everything (the spare case)
    assert got == {"en": 3, "∅": 3, "fr": 1}


def test_quota_horizon_refills_idle_key(spark, tmp_path):
    """Rolling regime: two bursts for one key, separated by more than
    the horizon on EVENT time — the second burst must get a fresh
    quota (the 'N docs per domain per hour' knob)."""
    inbox = tmp_path / "caph_inbox"
    out_dir = tmp_path / "caph_verdicts"
    base = 1_700_000_000
    b1 = [(i, "en", base + i) for i in range(5)]
    b2 = [(100 + i, "en", base + 10_000 + i) for i in range(5)]
    for i, burst in enumerate((b1, b2)):
        (
            spark.createDataFrame(burst, "doc_id long, lang string, epoch long")
            .select(
                "doc_id", "lang", F.timestamp_seconds("epoch").alias("_arrival_ts")
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(str(inbox))
        )
    parts = sorted(
        (p for p in os.listdir(inbox) if p.endswith(".parquet")),
        key=lambda p: os.path.getmtime(os.path.join(inbox, p)),
    )
    for i, p in enumerate(parts):
        os.utime(os.path.join(inbox, p), (1_700_000_000 + 60 * i,) * 2)

    schema = spark.read.parquet(str(inbox)).schema
    q = start_capped_ingest(
        spark,
        str(inbox),
        str(tmp_path / "caph_ckpt"),
        schema,
        out_dir=str(out_dir),
        key_col="lang",
        cap=3,
        horizon_s=600,  # bursts are 10 000 s apart on event time
        max_files_per_trigger=1,
        query_name="caps_t3",
    )
    drain(q, 120)
    v = spark.read.parquet(str(out_dir))
    first = {r["doc_id"] for r in v.filter("admitted and doc_id < 100").collect()}
    second = {r["doc_id"] for r in v.filter("admitted and doc_id >= 100").collect()}
    # 3 admitted per burst: the idle gap expired the counter state
    assert len(first) == 3 and len(second) == 3


def test_quota_horizon_refills_gap_inside_one_batch(spark, tmp_path):
    """ADVICE r9 #2: the same two over-horizon-separated bursts landing
    in ONE micro-batch (single inbox file, availableNow drain — the
    production max_files_per_trigger=64 / backlog-drain shape) must
    refill exactly like the cross-batch case: the handler judges the
    gap per row, not only at the batch boundary."""
    inbox = tmp_path / "capg_inbox"
    out_dir = tmp_path / "capg_verdicts"
    base = 1_700_000_000
    rows = [(i, "en", base + i) for i in range(5)] + [
        (100 + i, "en", base + 10_000 + i) for i in range(5)
    ]
    (
        spark.createDataFrame(rows, "doc_id long, lang string, epoch long")
        .select("doc_id", "lang", F.timestamp_seconds("epoch").alias("_arrival_ts"))
        .coalesce(1)
        .write.parquet(str(inbox))
    )
    schema = spark.read.parquet(str(inbox)).schema
    q = start_capped_ingest(
        spark,
        str(inbox),
        str(tmp_path / "capg_ckpt"),
        schema,
        out_dir=str(out_dir),
        key_col="lang",
        cap=3,
        horizon_s=600,  # bursts are 10 000 s apart on event time
        query_name="caps_t4",
    )
    drain(q, 120)
    v = spark.read.parquet(str(out_dir))
    assert v.count() == 10  # one batch saw every row
    first = {r["doc_id"] for r in v.filter("admitted and doc_id < 100").collect()}
    second = {r["doc_id"] for r in v.filter("admitted and doc_id >= 100").collect()}
    assert len(first) == 3 and len(second) == 3
    # arrival order within each burst: the FIRST 3 of each are admitted
    assert first == {0, 1, 2} and second == {100, 101, 102}
