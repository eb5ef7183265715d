"""release_frame must actually free localCheckpoint blocks — the
ADVICE r4 finding: Dataset.unpersist() is a no-op on a checkpointed
frame (blocks live on the RDD, outside the SQL cache manager), so the
dedup loops' per-round releases and api.release leaked storage until
JVM GC."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_task_spark.functions.cache import ReleaseHandle, release_frame


def _n_persistent(spark) -> int:
    return spark._jsparkSession.sparkContext().getPersistentRDDs().size()


def test_release_frame_frees_checkpoint_blocks(spark):
    base = _n_persistent(spark)
    ck = (
        spark.range(10_000)
        .select("id", (F.col("id") * 2).alias("y"))
        .localCheckpoint(eager=True)
    )
    assert _n_persistent(spark) == base + 1
    ck.unpersist()  # the documented no-op
    assert _n_persistent(spark) == base + 1
    release_frame(ck)
    assert _n_persistent(spark) == base


def test_release_frame_handles_plain_persist_and_cold_frames(spark):
    base = _n_persistent(spark)
    p = spark.range(1_000).persist()
    p.count()
    release_frame(p)
    # plain persisted frames go through the cache manager (persistent
    # RDD count returns to base once the cached plan is dropped)
    assert _n_persistent(spark) == base
    release_frame(spark.range(10))  # never cached: must not raise


def test_api_release_frees_cluster_checkpoints(spark, sf_dir):
    """The caller contract end-to-end on the default (driver) route:
    dedup_cluster_canonical labels the graph on the driver, so its
    _cached_deps are only the upstream MinHash caches, and api.release
    (plain dep.unpersist()) returns persistent-RDD count to baseline."""
    from data_ingestion_task_spark import api
    from data_ingestion_task_spark.plans.dedup_plans import dedup_cluster_canonical

    base = _n_persistent(spark)
    res = dedup_cluster_canonical(spark, sf_dir)
    res.count()
    assert not any(isinstance(d, ReleaseHandle) for d in res._cached_deps)
    assert _n_persistent(spark) > base  # lsh caches live
    api.release(res)
    assert _n_persistent(spark) == base


def test_api_release_frees_star_route_checkpoints(spark, sf_dir, monkeypatch):
    """Same contract on the star route (forced by a zero pair cap): the
    checkpointed loop survivor is handed out as a ReleaseHandle, so
    api.release frees its RDD blocks too."""
    from data_ingestion_task_spark import api
    from data_ingestion_task_spark.plans import dedup_plans

    monkeypatch.setattr(dedup_plans, "_DRIVER_CC_MAX_PAIRS", 0)
    base = _n_persistent(spark)
    res = dedup_plans.dedup_cluster_canonical(spark, sf_dir)
    res.count()
    assert any(isinstance(d, ReleaseHandle) for d in res._cached_deps)
    assert _n_persistent(spark) > base  # loop survivor + edge and lsh caches live
    api.release(res)
    assert _n_persistent(spark) == base


def test_star_loop_releases_intermediate_rounds(spark):
    from data_ingestion_task_spark.plans.dedup_plans import _star_components

    base = _n_persistent(spark)
    chain = [(i, i + 1) for i in range(30)] + [(i + 1, i) for i in range(30)]
    edges = spark.createDataFrame(chain, "a long, b long")
    labels, cached = _star_components(edges)
    labels.collect()
    # every non-final round's checkpoint was released in-loop: only the
    # rounds still referenced by `cached` may hold blocks
    assert _n_persistent(spark) <= base + len(cached)
    for dep in cached:
        release_frame(dep)
    assert _n_persistent(spark) == base


def test_full_api_round_leaves_zero_storage_blocks(spark, sf_dir):
    """The facade-level caching INVARIANT (VERDICT r5 task 8): a full
    classify -> extract -> evaluate round through the api, with each
    result collected then released per the documented contract, must
    leave the session with zero persistent RDDs — turning the
    _cached_deps/ReleaseHandle convention into a tested guarantee."""
    from pyspark.sql import functions as F

    from data_ingestion_task_spark import api

    base = _n_persistent(spark)
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "source", F.col("lang").alias("label"))
        .limit(200)
    )
    idx = docs.filter(F.col("doc_id") % 5 != 0)
    qry = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")

    preds = api.classify_documents(qry, idx, label_col="label", k=3)
    assert preds.count() > 0
    api.release(preds)

    extracted = api.extract_documents(
        docs.select("doc_id", "text"), doc_type="invoice"
    )
    long = extracted.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("field"), F.col(f"`{c}`").alias("value"))
                    for c in extracted.columns
                    if c != "doc_id"
                ]
            )
        ).alias("fv"),
    ).select("doc_id", "fv.field", "fv.value")
    report = api.evaluate_extraction(long, long)  # self-eval: 100% table
    assert report.count() > 0
    api.release(extracted)
    api.release(report)

    assert _n_persistent(spark) == base
