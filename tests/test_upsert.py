"""KeyedParquetStore: MERGE semantics (last-writer-wins, carry-over
of unrelated keys), partial rewrite (untouched buckets' files are
physically untouched), replay idempotence, crash repair, point-lookup
pruning, and the foreachBatch wiring."""

from __future__ import annotations

import os

import pytest

from conftest import drain
from data_ingestion_task_spark.sources.upsert import (
    OLD_SUFFIX,
    KeyedParquetStore,
    META_FILE,
)


def _mk(spark, tmp_path, **kw):
    return KeyedParquetStore(spark, str(tmp_path / "store"), key="k", **kw)


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.select("k", "v").collect())


def _df(spark, pairs):
    return spark.createDataFrame([(k, v) for k, v in pairs], "k long, v string")


def test_merge_then_read_roundtrip(spark, tmp_path):
    st = _mk(spark, tmp_path, n_buckets=8)
    audit = st.merge(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    assert audit["rows_upserted"] == 3 and audit["rows_carried"] == 0
    assert _rows(st.read()) == [(1, "a"), (2, "b"), (3, "c")]


def test_last_writer_wins_and_carry_over(spark, tmp_path):
    st = _mk(spark, tmp_path, n_buckets=2)  # force key collisions per bucket
    st.merge(_df(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]))
    audit = st.merge(_df(spark, [(2, "B"), (4, "D")]))
    assert audit["rows_upserted"] == 2
    # unrelated keys sharing the rewritten buckets were carried over
    assert _rows(st.read()) == [(1, "a"), (2, "B"), (3, "c"), (4, "D")]


def test_untouched_buckets_not_rewritten(spark, tmp_path):
    st = _mk(spark, tmp_path, n_buckets=64)
    st.merge(_df(spark, [(i, f"v{i}") for i in range(40)]))
    before = {
        d: sorted(os.listdir(os.path.join(st.root, d)))
        for d in os.listdir(st.root)
        if d.startswith("bucket=")
    }
    audit = st.merge(_df(spark, [(1, "X")]))
    assert audit["buckets_touched"] == 1
    after = {
        d: sorted(os.listdir(os.path.join(st.root, d)))
        for d in os.listdir(st.root)
        if d.startswith("bucket=")
    }
    changed = [d for d in before if before[d] != after.get(d)]
    # exactly the one bucket holding key 1 changed files
    assert len(changed) <= 1
    assert _rows(st.lookup([1])) == [(1, "X")]


def test_replay_is_idempotent(spark, tmp_path):
    st = _mk(spark, tmp_path, n_buckets=4)
    batch = _df(spark, [(1, "a"), (2, "b")])
    st.merge(batch)
    st.merge(batch)  # checkpoint replay of the same micro-batch
    assert _rows(st.read()) == [(1, "a"), (2, "b")]


def test_within_batch_seq_reduction(spark, tmp_path):
    st = _mk(spark, tmp_path, n_buckets=4)
    dup = spark.createDataFrame(
        [(1, "old", 10), (1, "new", 20), (2, "only", 5)], "k long, v string, seq long"
    )
    st.merge(dup, seq_col="seq")
    got = {r["k"]: r["v"] for r in st.read().collect()}
    assert got == {1: "new", 2: "only"}


def test_seq_merge_never_regresses_stored_row(spark, tmp_path):
    """ADVICE r9 #1: with seq_col, the STORED row competes on the
    sequence too — merging an older snapshot (fresh-checkpoint
    re-drain with a real watermark, out-of-order backfill) must not
    overwrite a converged row; an equal-sequence replay keeps the
    stored row (tie → stored wins)."""
    st = _mk(spark, tmp_path, n_buckets=2)
    seq_df = lambda rows: spark.createDataFrame(rows, "k long, v string, seq long")
    st.merge(seq_df([(1, "converged", 20), (2, "x", 5)]), seq_col="seq")
    # older snapshot of key 1 arrives later: must lose to the store
    st.merge(seq_df([(1, "partial", 7)]), seq_col="seq")
    got = {r["k"]: (r["v"], r["seq"]) for r in st.read().collect()}
    assert got[1] == ("converged", 20)
    # equal sequence, different payload: stored row wins the tie
    st.merge(seq_df([(1, "replayed", 20)]), seq_col="seq")
    got = {r["k"]: (r["v"], r["seq"]) for r in st.read().collect()}
    assert got[1] == ("converged", 20)
    # genuinely newer sequence still advances the row
    st.merge(seq_df([(1, "newer", 21), (3, "c", 1)]), seq_col="seq")
    got = {r["k"]: (r["v"], r["seq"]) for r in st.read().collect()}
    assert got == {1: ("newer", 21), 2: ("x", 5), 3: ("c", 1)}


def test_crash_repair_restores_parked_bucket(spark, tmp_path):
    st = _mk(spark, tmp_path, n_buckets=4)
    st.merge(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    rows_before = _rows(st.read())
    # simulate a crash between the two swap renames: live dir parked
    live = next(
        os.path.join(st.root, d) for d in os.listdir(st.root) if d.startswith("bucket=")
    )
    os.rename(live, live + OLD_SUFFIX)
    assert _rows(st.read()) == rows_before  # repair ran inside read()
    assert not os.path.exists(live + OLD_SUFFIX)


def test_meta_guards_layout(spark, tmp_path):
    _mk(spark, tmp_path, n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets"):
        _mk(spark, tmp_path, n_buckets=16)
    assert os.path.exists(tmp_path / "store" / META_FILE)


def test_lookup_prunes_to_hit_buckets(spark, tmp_path):
    st = _mk(spark, tmp_path, n_buckets=64)
    st.merge(_df(spark, [(i, f"v{i}") for i in range(30)]))
    assert _rows(st.lookup([7, 23])) == [(7, "v7"), (23, "v23")]
    assert st.lookup([999_999]).count() == 0


def test_lookup_empty_keys_returns_empty_with_schema(spark, tmp_path):
    # ADVICE r4: lookup([]) used to die inside createDataFrame with an
    # opaque "can not infer schema from empty dataset"
    st = _mk(spark, tmp_path, n_buckets=8)
    st.merge(_df(spark, [(1, "a")]))
    out = st.lookup([])
    assert out.count() == 0
    assert set(out.columns) == {"k", "v"}


def test_foreach_batch_merger(spark, tmp_path):
    st = _mk(spark, tmp_path, n_buckets=4)
    fn = st.foreach_batch_merger()
    fn(_df(spark, [(1, "a")]), 0)
    fn(_df(spark, [(1, "A"), (2, "b")]), 1)
    assert _rows(st.read()) == [(1, "A"), (2, "b")]


def test_streaming_foreach_batch_upsert(spark, tmp_path):
    """End-to-end: a file-source stream merged into the store via
    writeStream.foreachBatch — two inbox files with overlapping keys
    land as last-micro-batch-wins (files are time-ordered into
    separate micro-batches via maxFilesPerTrigger=1)."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    _df(spark, [(1, "a"), (2, "b")]).coalesce(1).write.parquet(str(inbox / "f1.parquet"))

    st = _mk(spark, tmp_path, n_buckets=4)
    schema = spark.read.parquet(str(inbox / "f1.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(inbox) + "/*.parquet")
    )
    q = (
        stream.writeStream.foreachBatch(st.foreach_batch_merger())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120)
    assert _rows(st.read()) == [(1, "a"), (2, "b")]

    # second file updates key 1; restart from the same checkpoint
    _df(spark, [(1, "A2"), (3, "c")]).coalesce(1).write.parquet(str(inbox / "f2.parquet"))
    q2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(inbox) + "/*.parquet")
        .writeStream.foreachBatch(st.foreach_batch_merger())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q2, 120)
    assert _rows(st.read()) == [(1, "A2"), (2, "b"), (3, "c")]


def test_null_key_rejected(spark, tmp_path):
    st = _mk(spark, tmp_path, n_buckets=4)
    bad = spark.createDataFrame([(None, "x"), (1, "a")], "k long, v string")
    with pytest.raises(ValueError, match="NULL"):
        st.merge(bad)


def test_key_dtype_pinned_and_lookup_casts(spark, tmp_path):
    st = _mk(spark, tmp_path, n_buckets=16)
    ints = spark.createDataFrame([(7, "a"), (9, "b")], "k int, v string")
    st.merge(ints)
    # Python literals infer LongType; the pinned int dtype must still
    # land the lookup in the right bucket
    assert _rows(st.lookup([7])) == [(7, "a")]
    # a later merge with a drifted dtype is refused (different xxhash64)
    with pytest.raises(ValueError, match="pinned"):
        st.merge(spark.createDataFrame([(7, "z")], "k long, v string"))
    # a fresh handle re-reads the pinned dtype from the manifest
    st2 = _mk(spark, tmp_path, n_buckets=16)
    assert _rows(st2.lookup([9])) == [(9, "b")]


def test_lookup_repairs_parked_bucket(spark, tmp_path):
    st = _mk(spark, tmp_path, n_buckets=1)  # every key in bucket 0
    st.merge(_df(spark, [(1, "a")]))
    live = os.path.join(st.root, "bucket=0")
    os.rename(live, live + OLD_SUFFIX)
    assert _rows(st.lookup([1])) == [(1, "a")]  # repair ran inside lookup()


def test_lookup_accepts_generator_keys(spark, tmp_path):
    # ADVICE r5: the emptiness guard consumed one-shot iterables, so a
    # generator argument passed the guard exhausted and returned zero
    # rows; keys are now normalized to a list once up front
    st = _mk(spark, tmp_path, n_buckets=8)
    st.merge(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    assert _rows(st.lookup(k for k in (1, 3))) == [(1, "a"), (3, "c")]


def test_read_for_prunes_to_probe_buckets(spark, tmp_path):
    """read_for (VERDICT r10 #1): a DataFrame probe's store scan must
    touch only the probe keys' bucket directories — inputFiles() is
    the plan-level witness."""
    import pyspark.sql.functions as F

    st = _mk(spark, tmp_path, n_buckets=8)
    st.merge(_df(spark, [(i, f"v{i}") for i in range(64)]))  # fill all buckets
    # pick probe keys that all land in ONE bucket, using the store's
    # own bucket expression so the test can't drift from the layout
    cand = spark.createDataFrame([(k,) for k in range(100, 300)], ["k"])
    rows = cand.withColumn("b", st._bucket_expr(F.col("k").cast("long"))).collect()
    target = rows[0]["b"]
    picks = [r["k"] for r in rows if r["b"] == target][:5]
    probe = spark.createDataFrame([(k,) for k in picks], "k long")
    side = st.read_for(probe)
    files = side.inputFiles()
    assert files and all(f"/bucket={target}/" in f for f in files)
    # and the pruned side still holds every stored row of that bucket
    stored_in_bucket = (
        st.read().filter(F.col("bucket") == target).drop("bucket")
    )
    assert _rows(side) == _rows(stored_in_bucket)


def test_read_for_absent_buckets_and_empty_store(spark, tmp_path):
    import pyspark.sql.functions as F

    st = _mk(spark, tmp_path, n_buckets=64)
    with pytest.raises(FileNotFoundError):
        st.read_for(spark.createDataFrame([(1,)], "k long"))
    st.merge(_df(spark, [(1, "a")]))
    # a probe whose bucket dir doesn't exist -> empty frame, store schema
    one = st.read().drop("bucket")
    b1 = (
        spark.createDataFrame([(k,) for k in range(2, 400)], "k long")
        .withColumn("b", st._bucket_expr(F.col("k").cast("long")))
        .collect()
    )
    present = {
        r["bucket"] for r in st.read().select("bucket").distinct().collect()
    }
    miss = [r["k"] for r in b1 if r["b"] not in present][:3]
    assert miss, "need at least one key hashing to an absent bucket"
    out = st.read_for(spark.createDataFrame([(k,) for k in miss], "k long"))
    assert out.count() == 0 and set(out.columns) == set(one.columns)
    # missing key column is a loud error
    with pytest.raises(ValueError, match="missing key column"):
        st.read_for(spark.createDataFrame([(1,)], "wrong long"))


def test_read_for_empty_store_raises_before_probe_evaluation(spark, tmp_path):
    """ADVICE r11 #1: a first-ever batch must get FileNotFoundError
    WITHOUT paying the probe's lineage (for the near-dup judge that is
    the whole minhash/band stage). The probe here raises if evaluated —
    the store-empty check must win."""
    st = _mk(spark, tmp_path, n_buckets=8)

    def boom(batches):
        raise RuntimeError("probe lineage was evaluated")
        yield  # pragma: no cover

    probe = spark.createDataFrame([(1,)], "k long").mapInPandas(boom, "k long")
    with pytest.raises(FileNotFoundError):
        st.read_for(probe)


def test_read_for_null_probe_key_rejected(spark, tmp_path):
    """ADVICE r11 #2: a NULL probe key must fail loudly in read_for
    (mirroring merge()'s guard) instead of silently hashing to a
    bucket, reading as 'new', and blowing up later inside merge() —
    after a caller's verdict-log append."""
    st = _mk(spark, tmp_path, n_buckets=8)
    st.merge(_df(spark, [(1, "a")]))
    probe = spark.createDataFrame([(None,), (1,)], "k long")
    with pytest.raises(ValueError, match="NULL"):
        st.read_for(probe)
