"""The engine's Python worker daemon (``pyworker``): the stat-checked
``zipimporter.invalidate_caches`` on a temp zip (no Spark), and on a
``get_spark`` session that every worker is forked from it, that
``addPyFile`` still ships modules to warm workers, and that the daemon
starts when the driver runs outside the repo."""

from __future__ import annotations

import importlib
import importlib.util
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_ingestion_task_spark import pyworker

PATCHES = sys.version_info < (3, 13)
needs_patch = pytest.mark.skipif(not PATCHES, reason="zipimporter re-reads lazily on 3.13+")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@pytest.fixture
def patched(monkeypatch):
    """Patch ``zipimporter`` for one test; monkeypatch restores it."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    assert pyworker.patch_zipimporter() is PATCHES


@pytest.fixture
def directory_reads(monkeypatch):
    """Count the calls to ``zipimport._read_directory``."""
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _import_through(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not found in {importer.archive}"
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@needs_patch
def test_unchanged_archive_is_not_reread(tmp_path, patched, directory_reads):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"first": "VALUE = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()  # no stamp yet: reads and stamps
    reads = len(directory_reads)
    importer.invalidate_caches()
    assert len(directory_reads) == reads
    assert _import_through(importer, "first").VALUE == 1


@needs_patch
def test_rewritten_archive_is_reread(tmp_path, patched, directory_reads):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"first": "VALUE = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()
    reads = len(directory_reads)
    assert importer.find_spec("second") is None

    _write_zip(archive, {"first": "VALUE = 1\n", "second": "VALUE = 2\n"})
    importer.invalidate_caches()
    assert len(directory_reads) == reads + 1
    assert _import_through(importer, "second").VALUE == 2


@needs_patch
def test_deleted_archive_falls_through_to_the_original(tmp_path, patched, directory_reads):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"first": "VALUE = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()
    reads = len(directory_reads)
    archive.unlink()
    importer.invalidate_caches()
    importer.invalidate_caches()  # a failed stat never counts as unchanged
    assert len(directory_reads) == reads + 2
    assert importer._files == {}
    assert importer.find_spec("first") is None


@needs_patch
def test_one_priming_call_stamps_every_path_importer(tmp_path, monkeypatch, patched, directory_reads):
    """The daemon calls ``importlib.invalidate_caches()`` once before it
    forks; after that the per-task call reads no archive directory."""
    name = f"graft_primed_{uuid.uuid4().hex[:12]}"
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {name: "VALUE = 3\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module(name).VALUE == 3
        assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
        directory_reads.clear()
        importlib.invalidate_caches()  # priming: the new importer has no stamp yet
        assert str(archive) in directory_reads
        directory_reads.clear()
        importlib.invalidate_caches()
        assert directory_reads == []
    finally:
        sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_python_313_keeps_zipimporter_untouched(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert pyworker.patch_zipimporter() is False
    assert zipimport.zipimporter.invalidate_caches is original


def _partition_probe(spark, udf) -> set[tuple[int, object]]:
    df = spark.range(0, 200, 1, 4).select(
        F.spark_partition_id().alias("p"), udf("id").alias("v")
    )
    return {(r.p, r.v) for r in df.distinct().collect()}


def test_every_worker_forks_from_the_engine_daemon(spark):
    @F.pandas_udf("string")
    def invalidation_module(ids: pd.Series) -> pd.Series:
        import zipimport

        return pd.Series([zipimport.zipimporter.invalidate_caches.__module__] * len(ids))

    expected = pyworker.__name__ if PATCHES else "zipimport"
    assert _partition_probe(spark, invalidation_module) == {(p, expected) for p in range(4)}


def test_addpyfile_reaches_warm_workers(spark, tmp_path):
    @F.pandas_udf("long")
    def one(ids: pd.Series) -> pd.Series:
        return pd.Series([1] * len(ids))

    assert _partition_probe(spark, one) == {(p, 1) for p in range(4)}

    name = f"graft_shipped_{uuid.uuid4().hex[:12]}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(archive))

    @F.pandas_udf("long")
    def shipped(ids: pd.Series) -> pd.Series:
        import importlib

        return pd.Series([importlib.import_module(name).VALUE] * len(ids))

    assert _partition_probe(spark, shipped) == {(p, 42) for p in range(4)}


_FOREIGN_CWD_SESSION = """
import sys
sys.path.insert(0, {root!r})
import pandas as pd
from pyspark.sql import functions as F
from data_ingestion_task_spark.session import get_spark

spark = get_spark("foreign-cwd", extra_conf={{"spark.driver.memory": "1g"}})

@F.pandas_udf("long")
def plus_one(ids: pd.Series) -> pd.Series:
    return ids + 1

print("SUM", spark.range(0, 10, 1, 2).select(plus_one("id").alias("v")).agg(F.sum("v")).first()[0])
spark.stop()
"""


def test_daemon_starts_from_a_foreign_cwd(tmp_path):
    """Spark starts the daemon with ``python -m`` from the driver's cwd:
    a driver outside the repo, with no PYTHONPATH, still gets workers."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    done = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_SESSION.format(root=root)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "SUM 55" in done.stdout, done.stderr[-2000:]
