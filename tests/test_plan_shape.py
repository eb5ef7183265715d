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


def _n_persistent(spark) -> int:
    return spark._jsparkSession.sparkContext().getPersistentRDDs().size()


def test_dedup_cluster_canonical_plan_shape(spark, sf_dir):
    q = registry.queries_dict()["dedup_cluster_canonical"]
    sc = spark.sparkContext
    base = _n_persistent(spark)
    group = "plan_shape/dedup_cluster_canonical"
    sc.setJobGroup(group, "dedup_cluster_canonical plans call", False)
    try:
        res = q(spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    plans_jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert res.count() > 0

    assert len(plans_jobs) <= DEDUP_CLUSTER_PLANS_JOBS, sorted(plans_jobs)
    store = spark._jsparkSession.sparkContext().statusStore()
    names = [store.job(j).name() for j in plans_jobs]
    assert not [n for n in names if n.startswith("count at")], names
    # one persisted intermediate: (doc_id, hs, sig0..sig7)
    (dep,) = res._cached_deps
    assert dep.storageLevel.useMemory
    assert dep.columns == ["doc_id", "hs", *[f"sig{i}" for i in range(8)]]
    api.release(res)
    assert _n_persistent(spark) == base
