"""Plan-shape ledger: the Spark jobs a query's plans call launches and
the caches its result holds. Job counts repeat exactly from run to run
where wall times on a shared machine do not, so they pin a plan's
shape in tier-1. A change that raises an entry must re-measure it and
say why."""

from __future__ import annotations

from data_ingestion_task_spark import api
from data_ingestion_task_spark.plans import registry

# Jobs launched inside dedup_cluster_canonical's plans call at the test
# fixture, any core count: the parquet schema read plus one job per AQE
# stage of the driver route's toPandas of the verified pairs. One of
# those stages fills the one MinHash cache; an eager count() would
# fill it instead, under its own call site. It was 13 with two caches.
DEDUP_CLUSTER_PLANS_JOBS = 10
# dedup_sampling_weights: dedup_cluster_canonical's jobs over the one
# corpus build that also gives the token counts, plus the documents
# dimension's schema read. It was 12 when the token counts built the
# corpus a second time (one more schema read).
DEDUP_WEIGHTS_PLANS_JOBS = 11
# incremental_store_neardup: two deltas judged and merged into the band
# store, each MERGE a few AQE stages. Measured 27 at 2 and 4 cores, 26 at
# 8. It was 29 at 4 cores with an eager count() filling the shingle
# cache before the judge.
STORE_NEARDUP_PLANS_JOBS = 27


def _n_persistent(spark) -> int:
    return spark._jsparkSession.sparkContext().getPersistentRDDs().size()


def _plans_call(spark, sf_dir, name: str):
    """Run ``name``'s plans call in a job group of its own; return the
    result frame and the names of the jobs the call launched."""
    q = registry.queries_dict()[name]
    sc = spark.sparkContext
    group = f"plan_shape/{name}"
    sc.setJobGroup(group, f"{name} plans call", False)
    try:
        res = q(spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    store = spark._jsparkSession.sparkContext().statusStore()
    names = [store.job(j).name() for j in sc.statusTracker().getJobIdsForGroup(group)]
    return res, names


def _counts(names: list[str]) -> list[str]:
    return [n for n in names if n.startswith("count at")]


def test_dedup_cluster_canonical_plan_shape(spark, sf_dir):
    base = _n_persistent(spark)
    res, names = _plans_call(spark, sf_dir, "dedup_cluster_canonical")
    assert res.count() > 0

    assert len(names) <= DEDUP_CLUSTER_PLANS_JOBS, names
    assert not _counts(names), names
    # one persisted intermediate: (doc_id, hs, sig0..sig7)
    (dep,) = res._cached_deps
    assert dep.storageLevel.useMemory
    assert dep.columns == ["doc_id", "hs", *[f"sig{i}" for i in range(8)]]
    api.release(res)
    assert _n_persistent(spark) == base


def test_dedup_sampling_weights_plan_shape(spark, sf_dir):
    res, names = _plans_call(spark, sf_dir, "dedup_sampling_weights")
    try:
        assert res.count() > 0
    finally:
        api.release(res)
    assert len(names) <= DEDUP_WEIGHTS_PLANS_JOBS, names
    assert not _counts(names), names


def test_incremental_store_neardup_plan_shape(spark, sf_dir):
    res, names = _plans_call(spark, sf_dir, "incremental_store_neardup")
    try:
        assert res.count() > 0
    finally:
        api.release(res)
    assert len(names) <= STORE_NEARDUP_PLANS_JOBS, names
    assert not _counts(names), names
