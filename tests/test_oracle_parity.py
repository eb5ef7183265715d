"""Every registered query must match its DuckDB oracle twin at
sf0.001 — the local replica of the driver's correctness gate."""

from __future__ import annotations

import pytest

from data_ingestion_task_spark import api
from data_ingestion_task_spark.plans import registry

registry.load_all()
NAMES = sorted(registry.REGISTRY)


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(name, spark, sf_dir, duck):
    from tools.check_oracle import compare

    spec = registry.REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    try:
        sdf = df.toPandas()
    finally:
        # no cache of this query may serve a later one
        api.release(df)
        spark.catalog.clearCache()
    if spec.oracle is None:
        assert len(sdf) >= 0  # rows-only contract: must at least run
        return
    odf = duck.execute(spec.oracle).fetchdf()
    errs = [e for e in compare(name, sdf, odf) if not e.startswith("NOTE")]
    assert not errs, f"{name}: {errs}"
