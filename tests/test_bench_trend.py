"""bench.py's round-over-round trend reads the ``parsed`` queries map
of the recorded BENCH_r*.json artifacts; Spark-free."""

from __future__ import annotations

import json
import os
import shutil

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_trend_diffs_against_latest_parsed_artifact(tmp_path, monkeypatch):
    for n in ("BENCH_r12.json", "BENCH_r13.json"):
        shutil.copy(os.path.join(ROOT, n), tmp_path / n)
    # a newer artifact holding only a stdout tail carries no queries
    # map and must be skipped, not scraped
    (tmp_path / "BENCH_r14.json").write_text(
        json.dumps({"sf": 0.1, "tail": '"queries": {"dedup_exact": 1.0}'})
    )
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    with open(tmp_path / "BENCH_r13.json") as f:
        parsed = json.load(f)["parsed"]
    vs = bench._trend_vs_previous_round(parsed["queries"], parsed["value"], 0.1)["vs_prev"]
    assert vs["prev_round"] == "BENCH_r13.json"
    assert vs["common_delta"] == 0
    assert vs["delta_total"] == 0
    assert vs["new_queries"] == [] and vs["regressions_ge_500ms"] == {}
