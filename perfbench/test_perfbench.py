"""Tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness, inputs, run, steadiness, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


class _Catalog:
    def clearCache(self) -> None:
        pass


class _Spark:
    catalog = _Catalog()


def _runner(monkeypatch, result):
    monkeypatch.setattr(harness, "materialize", lambda df: result)
    queries = {"q": lambda spark, data_dir: object()}
    return harness.Runner(_Spark(), queries, "unused", ["q"])


def test_corrupted_reference_checksum_counts_as_failure(monkeypatch):
    runner = _runner(monkeypatch, (10, 12345))
    ledger = harness.Ledger()
    ledger.record_first(runner.run_pass())
    assert ledger.reference == {"q": (10, 12345)}
    assert (ledger.attempted, ledger.failed) == (1, 0)

    ledger.reference["q"] = (10, 12346)  # corrupt the reference checksum
    for r in runner.run_pass().ops:
        assert not ledger.record(r.op, r.result, r.error)
    ledger.verify({"q": (10, None)})
    assert (ledger.attempted, ledger.failed) == (2, 1)


def test_exception_counts_as_failure(monkeypatch):
    runner = _runner(monkeypatch, (3, 7))
    ledger = harness.Ledger()
    ledger.record_first(runner.run_pass())

    def boom(df):
        raise RuntimeError("executor lost")

    monkeypatch.setattr(harness, "materialize", boom)
    (r,) = runner.run_pass().ops
    assert r.error.startswith("RuntimeError")
    assert not ledger.record(r.op, r.result, r.error)
    ledger.verify({"q": (3, None)})
    assert (ledger.attempted, ledger.failed) == (2, 1)


@pytest.mark.parametrize("checked", [
    {"q": (3, "col x: 1/3 mismatches")},  # the oracle twin disagreed
    {"q": (4, None)},  # the collect saw another row count
    {},  # never checked
])
def test_failed_oracle_check_fails_every_attempt(monkeypatch, checked):
    runner = _runner(monkeypatch, (3, 7))
    ledger = harness.Ledger()
    ledger.record_first(runner.run_pass())
    for r in runner.run_pass().ops:
        assert ledger.record(r.op, r.result, r.error)
    ledger.verify(checked)
    assert (ledger.attempted, ledger.failed) == (2, 2)


def test_check_outputs_uses_the_repo_comparison():
    import pandas as pd

    spark_out = pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]})
    same = harness.check_outputs({"q": spark_out}, {"q": spark_out.copy()})
    assert same == {"q": (2, None)}
    other = harness.check_outputs({"q": spark_out}, {"q": spark_out.assign(v=[1.0, 9.0])})
    assert other["q"][0] == 2 and other["q"][1]
    assert harness.check_outputs({"q": "RuntimeError: x"}, {"q": spark_out}) == {
        "q": (None, "RuntimeError: x")
    }


def test_inputs_depend_only_on_seed(tmp_path):
    sizes = {"documents": 60, "customer": 30, "supplier": 5, "orders": 90}
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        assert inputs.generate(str(tmp_path / name), seed, sizes) == sizes
    for t in sizes:
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
        c = pq.read_table(tmp_path / "c" / f"{t}.parquet")
        assert a.num_rows == c.num_rows
        assert not a.equals(c)
    docs = pq.read_table(tmp_path / "a" / "documents.parquet").to_pandas()
    assert sorted(docs.doc_id) == list(range(60))
    assert list(docs.doc_id) != sorted(docs.doc_id)  # rows are permuted
    assert (docs.n_chars == docs.text.str.len()).all()


def test_metric_total_parsing():
    rendered = "total (min, med, max (stageId: taskId))\n10.1 s (2.4 s, 2.6 s, 2.6 s (stage 2.0: task 7))"
    assert tracing.metric_total_ms(rendered) == pytest.approx(10100.0)
    assert tracing.metric_total_ms("884 ms") == 884.0
    assert tracing.metric_total_ms("1.5 m") == 90000.0
    assert tracing.metric_total_ms("") == 0.0
    assert tracing._MAX_AT.findall(rendered) == ["2"]


def test_spread_is_iqr_over_median():
    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, med, q3 = __import__("statistics").quantiles(vals, n=4)
    assert steadiness.spread(vals) == pytest.approx((q3 - q1) / med)
    assert steadiness.parse_seeds("1-3,7") == [1, 2, 3, 7]


def test_steadiness_flags_falling_passes():
    assert harness.steadiness(20.0, [6.0, 4.2], [5.0, 4.5, 4.0])["still_falling"]
    assert harness.steadiness(20.0, [6.0, 5.0], [4.0, 4.1, 4.0])["still_falling"]
    flat = harness.steadiness(20.0, [6.0, 4.2], [4.0, 4.1, 4.0])
    assert not flat["still_falling"]
    assert flat["cold_over_median"] == 5.0
    assert flat["last_warmup_over_median"] == 1.05


def test_python_metrics_leave_out_reused_worker_idle_time():
    # Rendered SQL metrics of one ArrowEvalPython (pandas_udf) node, as
    # Spark 4.1 reported them for a 1.03 s execution of 4 tasks on
    # local[2] that ran 4 s after the previous one on the same workers.
    named = {
        "time to run Python workers": "total (min, med, max (stageId: taskId))\n"
        "1.2 s (273 ms, 294 ms, 303 ms (stage 3.0: task 6))",
        "time to start Python workers": "32 ms",
        "time to initialize Python workers": "total (min, med, max (stageId: taskId))\n"
        "10.7 s (250 ms, 5.0 s, 5.1 s (stage 3.0: task 5))",
        "data sent to Python workers": "total (min, med, max (stageId: taskId))\n"
        "672.0 B (168.0 B, 168.0 B, 168.0 B (stage 3.0: task 5))",
    }
    run_ms, start_ms = tracing.python_node_ms(named)
    assert (run_ms, start_ms) == (1200.0, 32.0)
    assert run_ms + start_ms <= 2 * 1030  # within the task-slot time
    assert tracing.python_node_ms({"number of output rows": "8"}) is None


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert spec["paths"] == ["perfbench"]


def test_refuses_to_run_without_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".*"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_classify",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
