"""Closed-loop pass runner with correctness accounting.

One client (this process) runs a workload's ops one after another.
Each op is the registered query called through its public
``(spark, data_dir) -> DataFrame`` function, then fully materialized
the way ``bench.py`` does it: one JVM-side ``count`` +
``sum(xxhash64(all columns))``, then ``spark.catalog.clearCache()``.
The first pass's ``(rows, checksum)`` is each op's reference, and every
later pass must reproduce it. The op's full output is also collected
once and checked against its DuckDB oracle twin; if that fails, or its
row count differs from the reference, every attempt of the op counts
as failed. A mismatch or an exception
is a failed op and is never skipped.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

Result = tuple[int, int]


class Ledger:
    """Per-op references and the attempted/failed counts."""

    def __init__(self) -> None:
        self.reference: dict[str, Result] = {}
        self.counts: dict[str, list[int]] = {}  # op -> [attempted, failed]
        self.errors: list[str] = []

    @property
    def attempted(self) -> int:
        return sum(a for a, _ in self.counts.values())

    @property
    def failed(self) -> int:
        return sum(f for _, f in self.counts.values())

    def _error(self, text: str) -> None:
        if len(self.errors) < 20:
            self.errors.append(text)

    def record(self, op: str, result: Result | None, error: str | None = None) -> bool:
        """Count one attempt of ``op``; return whether it reproduced the
        reference. An op without a reference cannot succeed."""
        count = self.counts.setdefault(op, [0, 0])
        count[0] += 1
        ref = self.reference.get(op)
        if error is None and ref is not None and result == ref:
            return True
        count[1] += 1
        self._error(f"{op}: {error or f'got {result}, reference {ref}'}")
        return False

    def record_first(self, first: "PassRun") -> None:
        """Take each op's reference from the first pass, then count it."""
        for run in first.ops:
            if run.error is None and run.result is not None:
                self.reference[run.op] = run.result
            self.record(run.op, run.result, run.error)

    def verify(self, checked: dict[str, tuple[int | None, str | None]]) -> None:
        """Apply the oracle check (``op -> (rows, error)``): an op whose
        collected output disagreed with its twin, or whose row count
        differs from its reference, fails every attempt."""
        for op, count in self.counts.items():
            rows, error = checked.get(op, (None, "not checked"))
            ref = self.reference.get(op)
            if error is None and ref is not None and rows == ref[0]:
                continue
            count[1] = count[0]
            self._error(f"{op}: oracle check: {error or f'{rows} rows, reference {ref}'}")


@dataclass
class OpRun:
    op: str
    seconds: float
    result: Result | None
    error: str | None
    counters: dict[str, float] = field(default_factory=dict)


@dataclass
class PassRun:
    seconds: float
    ops: list[OpRun]
    traced: bool = False


def materialize(df) -> Result:
    """Force every column of ``df`` to be computed; return one row
    count and one order-insensitive checksum."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns])).alias("chk"),
    ).collect()[0]
    return int(row["n"]), int(row["chk"] or 0)


class Runner:
    """Runs passes of ``ops``. With ``tracer`` set, traced passes
    record spans and Spark counters per op (see ``tracing.Tracer``)."""

    def __init__(self, spark, queries: dict, data_dir: str, ops: list[str], tracer=None):
        self.spark = spark
        self.queries = queries
        self.data_dir = data_dir
        self.ops = ops
        self.tracer = tracer

    def run_op(self, op: str) -> OpRun:
        t0 = time.perf_counter()
        try:
            result, error = materialize(self.queries[op](self.spark, self.data_dir)), None
        except Exception as e:  # a failing op is counted by the ledger, not fatal
            result, error = None, f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            self.spark.catalog.clearCache()
        return OpRun(op, time.perf_counter() - t0, result, error)

    def run_pass(self, traced: bool = False) -> PassRun:
        t0 = time.perf_counter()
        if traced:
            runs = self.tracer.traced_pass(self)
        else:
            runs = [self.run_op(op) for op in self.ops]
        return PassRun(time.perf_counter() - t0, runs, traced)


def oracle_frames(oracles: dict[str, str], data_dir: str, tables: list[str]) -> dict:
    """Run each DuckDB oracle twin over the parquet files; return
    ``op -> DataFrame`` or ``op -> error text``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for op, sql in oracles.items():
            try:
                out[op] = con.execute(sql).fetchdf()
            except duckdb.Error as e:
                out[op] = f"oracle error: {e}"
        return out
    finally:
        con.close()


def collect_outputs(spark, queries: dict, data_dir: str, ops: list[str]) -> dict:
    """Collect each op's full output to pandas: ``op -> DataFrame`` or
    ``op -> error text``."""
    out: dict = {}
    for op in ops:
        try:
            out[op] = queries[op](spark, data_dir).toPandas()
        except Exception as e:  # reported as this op's failure
            out[op] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            spark.catalog.clearCache()
    return out


def check_outputs(collected: dict, expected: dict) -> dict[str, tuple[int | None, str | None]]:
    """Compare each op's collected output with its oracle twin's, using
    the repo's own ``tools/check_oracle.compare``. Returns ``op ->
    (rows, error)``; ``error`` is None when they agree."""
    from tools.check_oracle import compare

    out: dict[str, tuple[int | None, str | None]] = {}
    for op, sdf in collected.items():
        odf = expected.get(op, "no oracle twin registered")
        if isinstance(sdf, str) or isinstance(odf, str):
            out[op] = (None, sdf if isinstance(sdf, str) else odf)
            continue
        hard = [e for e in compare(op, sdf, odf) if not e.startswith("NOTE")]
        out[op] = (len(sdf), "; ".join(hard) or None)
    return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def steadiness(cold: float, warmups: list[float], measured: list[float]) -> dict:
    """Warm-up slope: the cold pass and the last warm-up pass over
    the measured median, and the trend across measured passes as a
    share of their median per pass (least squares). ``still_falling``
    flags a run whose last warm-up pass was more than 10% slower than
    the measured median, or whose measured passes were still getting
    faster by more than 5% a pass."""
    med = median(measured)
    n = len(measured)
    trend = 0.0
    if n >= 2:
        mx = (n - 1) / 2
        num = sum((i - mx) * (y - med) for i, y in enumerate(measured))
        trend = num / sum((i - mx) ** 2 for i in range(n)) / med
    last = warmups[-1] / med if warmups else float("nan")
    return {
        "cold_over_median": round(cold / med, 4),
        "last_warmup_over_median": round(last, 4),
        "trend_per_pass": round(trend, 4),
        "still_falling": last > 1.10 or trend < -0.05,
    }
