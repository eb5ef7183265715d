from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from data_ingestion_task_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from data_ingestion_task_spark.sources.tables import TABLES

    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con


def drain(q, timeout: float) -> None:
    """Wait for an ``availableNow`` streaming query to finish its
    backlog. ``StreamingQuery.awaitTermination(timeout)`` returns
    False on timeout and leaves the query running, so a silent timeout
    would let a test read half-drained output: fail instead, and stop
    the query so it does not outlive the test."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise AssertionError(
            f"streaming query {q.name!r} did not terminate within {timeout} s"
        )


def stop_after_first_progress(q, max_wait_s: float = 120.0) -> None:
    """Kill the query as soon as at least one micro-batch has reported
    progress — mid-drain for a multi-file backlog (if the drain won the
    race and finished, the restart is a no-op and the assertion still
    holds, just with less bite)."""
    t0 = time.monotonic()
    while time.monotonic() - t0 < max_wait_s:
        if any(p and p.get("numInputRows", 0) > 0 for p in (q.recentProgress or [])):
            break
        time.sleep(0.1)
    q.stop()
    drain(q, 60)
