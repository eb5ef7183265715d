"""Session-factory env overrides fail where they enter, before any JVM
starts (no Spark session needed)."""

from __future__ import annotations

import pytest

from data_ingestion_task_spark.session import get_spark


@pytest.mark.parametrize("raw", ["0", "-3", "abc"])
def test_bad_codegen_cache_env_raises_before_session(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CODEGEN_CACHE", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CODEGEN_CACHE"):
        get_spark("never-started")
