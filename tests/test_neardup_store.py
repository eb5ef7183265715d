"""Maintained band registry for near-dup delta ingest
(plans/neardup_store_plans.py): verdict semantics across consecutive
deltas, first-ingested-wins canonicals, failed-verify collisions never
stealing an existing band claim, and the registered query's planted
duplicates landing in the right classes."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_task_spark.plans.dedup_plans import (
    band_rows,
    hashed_shingles,
    minhash_sigs,
)
from data_ingestion_task_spark.plans.neardup_store_plans import (
    admit_new_band_rows,
    delta_neardup_verdicts,
    incremental_store_neardup,
    neardup_band_store,
)

_A = " ".join(f"alpha{i}" for i in range(20))
_NEAR_A = " ".join(f"alpha{i}" for i in range(2, 20))  # drop 2 -> j ~ 0.89
_B = " ".join(f"beta{i}" for i in range(20))
_NEAR_B = " ".join(f"beta{i}" for i in range(2, 20))
_C = " ".join(f"gamma{i}" for i in range(20))
_NEAR_C = " ".join(f"gamma{i}" for i in range(2, 20))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", hashed_shingles(F.col("text"), 3).alias("hs")
    )


def _bands(docs):
    return band_rows(minhash_sigs(docs, ("doc_id", "hs")))


def _verdicts(df):
    return {
        r["doc_id"]: (r["verdict"], r["canonical_doc_id"]) for r in df.collect()
    }


def test_two_deltas_first_ingested_wins(spark, tmp_path):
    store = neardup_band_store(spark, str(tmp_path / "nd"), n_buckets=4)
    # delta 1: near-A claims first; an identical re-send dups in batch
    d1 = _docs(spark, [(5, _NEAR_A), (6, _B), (7, _NEAR_A)])
    v1 = delta_neardup_verdicts(d1, _bands(d1), store)
    assert _verdicts(v1) == {5: ("new", 5), 6: ("new", 6), 7: ("dup_in_batch", 5)}
    admit_new_band_rows(v1, _bands(d1), store)
    # delta 2: the ORIGINAL A arrives after its near-copy was admitted
    # -> dup_of_corpus with the PLANT as canonical; a smaller doc_id
    # near-B still loses to the stored claim (first-ingested, not min);
    # a fresh pair inside the batch is dup_in_batch against the
    # now-non-empty store
    d2 = _docs(spark, [(10, _A), (1, _NEAR_B), (11, _C), (12, _NEAR_C)])
    v2 = delta_neardup_verdicts(d2, _bands(d2), store)
    assert _verdicts(v2) == {
        10: ("dup_of_corpus", 5),
        1: ("dup_of_corpus", 6),
        11: ("new", 11),
        12: ("dup_in_batch", 11),
    }
    admit_new_band_rows(v2, _bands(d2), store)
    admitted = {
        r["canonical_doc_id"]
        for r in store.read().select("canonical_doc_id").distinct().collect()
    }
    assert admitted == {5, 6, 11}


def test_failed_verify_collision_never_steals_band(spark, tmp_path):
    """At threshold 0.99 a near-copy band-collides but FAILS Jaccard
    verification -> judged new; admitting it must not overwrite the
    first claimant's shared band keys (first claimant keeps the band
    forever — the LSH recall trade the module documents)."""
    store = neardup_band_store(spark, str(tmp_path / "nds"), n_buckets=4)
    d1 = _docs(spark, [(1, _A)])
    v1 = delta_neardup_verdicts(d1, _bands(d1), store, threshold=0.99)
    admit_new_band_rows(v1, _bands(d1), store)
    before = {
        r["band_key"]: r["canonical_doc_id"] for r in store.read().collect()
    }
    assert set(before.values()) == {1}

    d2 = _docs(spark, [(2, _NEAR_A)])
    v2 = delta_neardup_verdicts(d2, _bands(d2), store, threshold=0.99)
    assert _verdicts(v2) == {2: ("new", 2)}  # collided, verify failed
    # the pair must actually share at least one band (or this test
    # exercises nothing) — check against doc 2's derived band keys
    b2 = {r["band_key"] for r in _bands(d2).collect()}
    shared = set(before) & b2
    assert shared, "near-copy must band-collide with the original"
    admit_new_band_rows(v2, _bands(d2), store)
    after = {r["band_key"]: r["canonical_doc_id"] for r in store.read().collect()}
    for k in shared:
        assert after[k] == before[k] == 1  # claim not stolen
    assert {k for k, v in after.items() if v == 2} == b2 - set(before)


def test_registered_query_planted_classes(spark, sf_dir):
    """The planted layout makes every class load-bearing: originals of
    delta-1 near plants read dup_of_corpus with the PLANT canonical
    (first-ingested wins over the smaller original id); same-batch
    +300000 plants read dup_in_batch with their base as canonical."""
    got = _verdicts(incremental_store_neardup(spark, sf_dir))
    # Exact-ids are the ORACLE's job (the raw documents table carries
    # its own near pairs, and short docs' drop-5-words plants fall
    # under the 0.5 threshold — both make per-doc canonicals
    # data-dependent). This asserts the STRUCTURAL invariants.
    for doc_id, (verdict, canonical) in got.items():
        if doc_id % 3 != 0:  # delta 1: judged store-empty
            assert verdict != "dup_of_corpus"
            if verdict == "dup_in_batch":
                assert canonical % 3 != 0 and canonical < doc_id
        else:  # delta 2
            if verdict == "dup_of_corpus":
                assert canonical % 3 != 0  # canonical is a STORED d1 doc
            if verdict == "dup_in_batch":
                assert canonical % 3 == 0 and canonical < doc_id
        if verdict == "new":
            assert canonical == doc_id
    # delta-2 originals with an EXACT delta-1 twin (k<30: plant
    # k+200000 is in d1, Jaccard 1.0 always verifies) must be caught
    for k in range(0, 30, 3):
        assert got[k][0] == "dup_of_corpus"
    # the same-batch +300000 plants exercise dup_in_batch against a
    # non-empty store for every doc long enough to verify
    n_in_batch = sum(
        1
        for k in range(102, 198, 3)
        if got[k + 300000][0] == "dup_in_batch"
    )
    assert n_in_batch > 0
    assert {v for v, _ in got.values()} == {
        "new",
        "dup_in_batch",
        "dup_of_corpus",
    }
