"""SparkSession factory with scale-oriented defaults.

Defaults mirror what we would deploy on a real cluster (AQE on,
adaptive coalescing, skew-join handling, Arrow for the few Python
stages); only ``master``/parallelism differ between local tests and a
1000-executor deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: The directory holding the ``data_ingestion_task_spark`` package.
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _codegen_cache_entries() -> str:
    """``SPARK_GRAFT_CODEGEN_CACHE`` (default 8192), checked to be a
    positive int here rather than failing later inside session start."""
    raw = os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "8192")
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n <= 0:
        raise ValueError(f"SPARK_GRAFT_CODEGEN_CACHE must be a positive int, got {raw!r}")
    return str(n)


def get_spark(
    app_name: str = "data-ingestion-task-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all
    cores). Shuffle partitions default to ~2x local cores, bounded to
    [8, 64] locally; on a real cluster this is instead sized to
    data volume / target partition size (~128 MB) and AQE coalesces.
    """
    codegen_cache = _codegen_cache_entries()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus or '*'}]"
    if shuffle_partitions is None:
        ncpu = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)
        shuffle_partitions = max(8, min(64, 2 * ncpu))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Generated-class cache (default 100 entries): several single
        # queries here emit MORE codegen units than that by themselves
        # (measured: dedup_cluster_star 198, ivfpq_recall_audit 145,
        # curated_corpus_audit 104 — AQE materializes one unit per
        # query stage), so identical generated code is Janino-compiled
        # over and over within one session — measured 1329 recompiles
        # vs 50 on a 20-query pass, 116-120s vs 90-101s wall
        # (order-reversed A/B, plans/r13/codegen_cache_ab.json). Any
        # long-lived session running many plans (a 100 TB pipeline's
        # driver as much as this bench) wants the cache to cover its
        # working set; entries are compiled classes, not data.
        # Static conf: ignored when getOrCreate() attaches to a session
        # that is already running in this JVM.
        .config("spark.sql.codegen.cache.maxEntries", codegen_cache)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Fork Python workers from the engine's daemon, which stops the
        # per-task re-read of pyspark.zip (see pyworker.py). Static
        # conf, like the codegen cache above. Spark starts the daemon
        # with `python -m`, so the engine must be importable by the
        # workers whatever the driver's cwd: Spark prepends its own
        # pyspark paths to this PYTHONPATH and appends the inherited one.
        .config("spark.python.daemon.module", "data_ingestion_task_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _ENGINE_ROOT)
        # Deterministic timestamp semantics for oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # Quieter local runs; harmless on a cluster.
        .config("spark.ui.enabled", "false")
        # Local mode runs all 32 executor threads in the driver JVM —
        # size the heap for the whole "cluster" (the box has 128 GiB);
        # on a real cluster this is per-executor memory instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
