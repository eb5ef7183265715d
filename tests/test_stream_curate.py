"""At-ingest curation pipeline (streaming/curate.py): the admitted
survivor set must equal the batch facade's (``api.curate_corpus``,
Gopher + exact dedup stages) on the same arriving corpus, and the
chained near-dup gate must keep exactly one member of a planted
near-identical pair in the final corpus."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import drain
from data_ingestion_task_spark.sources.tables import load_table
from data_ingestion_task_spark.streaming.curate import (
    GOPHER_AUDIT_COLS,
    batch_curation_survivor_fingerprints,
    curate_stream,
    final_corpus,
    gopher_quality_stream,
    start_curated_ingest,
)
from data_ingestion_task_spark.streaming.dedup import start_neardup_ingest


def _order_files(inbox) -> None:
    """Pin file mtimes in creation order so the file source's
    oldest-first processing is deterministic."""
    parts = sorted(
        (p for p in os.listdir(inbox) if p.endswith(".parquet")),
        key=lambda p: os.path.getmtime(os.path.join(inbox, p)),
    )
    for i, p in enumerate(parts):
        os.utime(os.path.join(inbox, p), (1_700_000_000 + 60 * i,) * 2)


def test_stream_curation_matches_batch_facade(spark, sf_dir, tmp_path):
    inbox = tmp_path / "cur_inbox"
    admitted_dir = tmp_path / "cur_admitted"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    # re-posts: every 5th doc arrives again under a new id — same
    # content, so the batch facade marks the copy exact_dup and the
    # gate must admit exactly one of the two
    reposts = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(str(inbox))
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(str(inbox))
    reposts.write.mode("append").parquet(str(inbox))
    _order_files(inbox)
    arriving = docs.unionByName(reposts)

    schema = spark.read.parquet(str(inbox)).schema
    q = start_curated_ingest(
        spark,
        str(inbox),
        str(tmp_path / "cur_ckpt"),
        schema,
        admitted_dir=str(admitted_dir),
        query_name="curated_t1",
    )
    drain(q, 180)

    admitted = spark.read.parquet(str(admitted_dir))
    streamed = [r["fingerprint"] for r in admitted.select("fingerprint").collect()]
    batch = {
        r["fingerprint"]
        for r in batch_curation_survivor_fingerprints(arriving).collect()
    }
    # exactly one admitted row per surviving fingerprint, same SET as
    # the batch facade's keep verdict
    assert len(streamed) == len(set(streamed)) == len(batch)
    assert set(streamed) == batch
    # the gate did real work on BOTH stages: quality rejected docs
    # (admitted fingerprints < distinct arriving fingerprints) and
    # dedup collapsed the re-posts (arriving rows > distinct prints)
    from data_ingestion_task_spark.functions.text import fingerprint_md5

    n_distinct = arriving.select(
        F.countDistinct(fingerprint_md5(F.col("text"))).alias("n")
    ).collect()[0]["n"]
    assert len(batch) < n_distinct
    assert arriving.count() > n_distinct
    # admitted rows carry the consolidated columns and the audit flags
    for c in ("doc_id", "text", "char_len", "quality", "quality_keep"):
        assert c in admitted.columns
    for c in GOPHER_AUDIT_COLS:
        assert c in admitted.columns
    assert admitted.filter(~F.col("quality_keep")).count() == 0
    # final_corpus without a verdict log is the admitted store itself
    assert final_corpus(spark, str(admitted_dir)).count() == len(batch)


def test_scored_stream_curation_matches_batch_facade(spark, sf_dir, tmp_path):
    """VERDICT r9 #4 acceptance: the stream gate with FROZEN-model
    trigram-NLL band + DSIR floor admits exactly the batch facade's
    keep set (fingerprint grain) on the same arriving corpus — the
    models trained once by the certified library, broadcast frozen."""
    from data_ingestion_task_spark.functions.corpus_scores import (
        dsir_rate_model,
        trigram_rate_model,
        trigram_nll,
    )
    from data_ingestion_task_spark.functions.corpus_scores import dsir_logweights

    inbox = tmp_path / "sc_inbox"
    admitted_dir = tmp_path / "sc_admitted"
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    reposts = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(str(inbox))
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(str(inbox))
    reposts.write.mode("append").parquet(str(inbox))
    _order_files(inbox)
    arriving = docs.unionByName(reposts)
    target = F.col("lang") == "en"

    # thresholds from the corpus's own score distribution so BOTH
    # stages bind whatever the driver's testdata regeneration produced
    from data_ingestion_task_spark import api

    scored = trigram_nll(arriving)
    nlls = sorted(r["avg_nll"] for r in scored.select("avg_nll").collect())
    api.release(scored)
    band = (nlls[0], nlls[len(nlls) * 3 // 4])  # reject the worst quartile
    dsirs = sorted(
        r["dsir_logweight"]
        for r in dsir_logweights(arriving, target).select("dsir_logweight").collect()
    )
    floor = dsirs[len(dsirs) // 4]  # reject the bottom quartile

    ppx_model = trigram_rate_model(arriving)
    dsir_model = dsir_rate_model(arriving, target)
    schema = spark.read.parquet(str(inbox)).schema
    q = start_curated_ingest(
        spark,
        str(inbox),
        str(tmp_path / "sc_ckpt"),
        schema,
        admitted_dir=str(admitted_dir),
        query_name="curated_scored_t1",
        ppx_model=ppx_model,
        ppx_band=band,
        dsir_model=dsir_model,
        dsir_floor=floor,
    )
    drain(q, 180)

    admitted = spark.read.parquet(str(admitted_dir))
    streamed = [r["fingerprint"] for r in admitted.select("fingerprint").collect()]
    batch = {
        r["fingerprint"]
        for r in batch_curation_survivor_fingerprints(
            arriving, ppx_band=band, dsir_floor=floor, dsir_target=target
        ).collect()
    }
    unscored = {
        r["fingerprint"]
        for r in batch_curation_survivor_fingerprints(arriving).collect()
    }
    assert len(streamed) == len(set(streamed)) == len(batch)
    assert set(streamed) == batch
    # the score stages genuinely rejected quality-passing docs
    assert len(batch) < len(unscored)
    # admitted rows carry the score audit columns, all inside the gates
    assert admitted.filter(
        ~F.col("avg_nll").between(*band) | (F.col("dsir_logweight") < floor)
    ).count() == 0


def test_curation_gate_rejects_gopher_columns_on_input(spark):
    df = spark.createDataFrame([(1, "x", 2)], "doc_id long, text string, n_words int")
    with pytest.raises(ValueError, match="n_words"):
        gopher_quality_stream(df)


def test_curation_gate_passes_through_txt_column(spark):
    """ADVICE r9 #4: an input carrying a ``txt`` column used to collide
    with gopher_flags' internal trimmed-text alias and fail analysis;
    the alias is now collision-proof and ``txt`` rides through as an
    ordinary passenger column."""
    long_ok = "the and for with that this " * 10
    df = spark.createDataFrame(
        [(1, long_ok, "passenger")], "doc_id long, text string, txt string"
    )
    out = gopher_quality_stream(df)
    rows = out.collect()
    assert [r["txt"] for r in rows] == ["passenger"]
    assert rows[0]["quality_keep"] in (True, False)  # analysis succeeded


def test_curated_ingest_neardup_chain(spark, sf_dir, tmp_path):
    """Quality gate → exact dedup → (chained query) near-dup band gate:
    a planted near-identical copy of a quality-passing doc must be
    flagged in the verdict log, and the final corpus keeps exactly one
    member of the pair."""
    inbox = tmp_path / "nd2_inbox"
    admitted_dir = tmp_path / "nd2_admitted"
    verdict_dir = tmp_path / "nd2_verdicts"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    # longest quality-passing doc: one appended word barely moves its
    # shingle set, so the copy shares >= 1 LSH band deterministically
    passing = gopher_quality_stream(docs).filter("quality_keep")
    base = (
        passing.orderBy(F.length("text").desc(), "doc_id").limit(1).collect()[0]
    )
    near = spark.createDataFrame(
        [(base["doc_id"] + 2_000_000, base["text"] + " the appendix", base["source"])],
        "doc_id long, text string, source string",
    )
    docs.write.parquet(str(inbox))
    near.coalesce(1).write.mode("append").parquet(str(inbox))
    _order_files(inbox)

    schema = spark.read.parquet(str(inbox)).schema
    q = start_curated_ingest(
        spark,
        str(inbox),
        str(tmp_path / "nd2_ckpt"),
        schema,
        admitted_dir=str(admitted_dir),
        query_name="curated_t2",
    )
    drain(q, 180)
    # both pair members clear quality and exact dedup (texts differ)
    pair_ids = {base["doc_id"], base["doc_id"] + 2_000_000}
    admitted = spark.read.parquet(str(admitted_dir))
    assert {
        r["doc_id"]
        for r in admitted.filter(F.col("doc_id").isin(pair_ids)).collect()
    } == pair_ids

    adm_schema = admitted.schema
    q2 = start_neardup_ingest(
        spark,
        str(admitted_dir),
        str(tmp_path / "nd2_ckpt2"),
        adm_schema,
        out_dir=str(verdict_dir),
        query_name="curated_t2_nd",
        max_files_per_trigger=1,
        consolidate=False,
    )
    drain(q2, 180)
    flagged = {
        r["doc_id"]
        for r in spark.read.parquet(str(verdict_dir))
        .filter(F.col("near_dup") & F.col("doc_id").isin(pair_ids))
        .collect()
    }
    # the later-arriving member of the pair was flagged at the gate
    # (arrival order across the admitted files isn't pinned, so assert
    # on the pair, not on which member)
    assert len(flagged) == 1
    survivors = {
        r["doc_id"]
        for r in final_corpus(spark, str(admitted_dir), str(verdict_dir))
        .filter(F.col("doc_id").isin(pair_ids))
        .collect()
    }
    assert len(survivors) == 1
    assert survivors | flagged == pair_ids
