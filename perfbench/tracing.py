"""Traced passes: spans around the calls into each layer, and Spark's
own counters read from outside the engine.

Spans are recorded only from the benchmark's code: ``session`` (the
``get_spark`` call), ``pass``, ``op``, ``plans`` (the registered query
call, which runs any eager loop rounds, routing counts and store
merges) and ``action`` (the final materializing action, which runs the
lazy operators/functions/sources work). Each op's jobs get a job group
per layer, so the status stores attribute jobs, stages and tasks to it.
Counters are read after each op, once the listener bus is drained.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

from perfbench.harness import OpRun, materialize

#: A SQL metric value as the SQL status store renders it: either a
#: bare ``"12 ms"`` or ``"total (min, med, max (stageId: taskId))\n10.1 s (...)"``.
_TOTAL = re.compile(r"^(?:total \([^\n]*\n)?(-?[\d,.]+)\s*([A-Za-z]*)")
_MAX_AT = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_PY_RUN = "time to run Python workers"
#: Only the start time is read. A reused Python worker takes its start
#: timestamp as soon as its previous task ends, so for that worker
#: Spark's "time to initialize Python workers" includes the idle time
#: between the two tasks. The matching start time comes out negative
#: and is dropped, so the totals do not cancel: one execution of 1.0 s
#: wall, run 4 s after the last one, reported 10.7 s of it.
_PY_START = "time to start Python workers"


def metric_total_ms(text: str) -> float:
    """Total of a timing SQL metric, in ms."""
    m = _TOTAL.match(text or "")
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _TIME_MS.get(m.group(2), 1.0)


def python_node_ms(named: dict[str, str]) -> tuple[float, float] | None:
    """``(run ms, start ms)`` from one plan node's rendered SQL metrics
    (metric name -> text), or None when it is not a Python node."""
    if _PY_RUN not in named:
        return None
    return metric_total_ms(named[_PY_RUN]), metric_total_ms(named.get(_PY_START, ""))


class Spans:
    """In-memory spans: name, start, end (s since the run began) and
    the id of the enclosing span."""

    def __init__(self, t0: float) -> None:
        self.t0 = t0
        self.records: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
            **attrs,
        }
        self.records.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._open.pop()


class SparkCounters:
    """Reads the AppStatusStore, the SQL status store, StatusTracker,
    CodegenMetrics and the block manager's storage info over py4j."""

    def __init__(self, spark, warehouse: str) -> None:
        sc = spark.sparkContext
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.warehouse = warehouse
        self.next_execution = 0

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(60_000)

    def _new_executions(self) -> list:
        """SQL executions posted since the last call (ids are dense;
        a short gap is skipped)."""
        found, gap, i = [], 0, self.next_execution
        while gap < 4:
            e = self.sql.execution(i)
            if e.isDefined():
                found.append(e.get())
                self.next_execution, gap = i + 1, 0
            else:
                gap += 1
            i += 1
        return found

    def _stored_rdds(self) -> set[int]:
        return {info.id() for info in self.jsc.getRDDStorageInfo()}

    def before_op(self) -> dict:
        self.drain()
        self._new_executions()  # executions of earlier untraced passes
        return {
            "codegen": self.codegen.getCount(),
            "rdds": self._stored_rdds(),
            "t_ns": time.time_ns(),
        }

    def after_op(self, before: dict, plans_group: str, action_group: str) -> dict[str, float]:
        self.drain()
        tracker = self.sc.statusTracker()
        plans_jobs = list(tracker.getJobIdsForGroup(plans_group))
        jobs = plans_jobs + list(tracker.getJobIdsForGroup(action_group))
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = dict.fromkeys(
            ("stages", "tasks", "input_bytes", "executor_run_ms", "executor_cpu_ms",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "python_tasks",
             "python_start_ms", "python_run_ms"),
            0.0,
        )
        tasks_of_stage = {}
        for sid in stage_ids:
            s = self.store.lastStageAttempt(sid)
            if s.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            tasks_of_stage[sid] = s.numCompleteTasks()
            c["stages"] += 1
            c["tasks"] += s.numCompleteTasks()
            c["input_bytes"] += s.inputBytes()
            c["executor_run_ms"] += s.executorRunTime()
            c["executor_cpu_ms"] += s.executorCpuTime() / 1e6
            c["shuffle_read_bytes"] += s.shuffleReadBytes()
            c["shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["spill_bytes"] += s.diskBytesSpilled()
        python_stages = set()
        for e in self._new_executions():
            values = self.sql.executionMetrics(e.executionId())
            nodes = self.sql.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                ms = nodes.apply(k).metrics()
                named = {}
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    v = values.get(metric.accumulatorId())
                    named[metric.name()] = v.get() if v.isDefined() else ""
                py = python_node_ms(named)
                if py is None:
                    continue
                c["python_run_ms"] += py[0]
                c["python_start_ms"] += py[1]
                for text in named.values():
                    python_stages.update(int(s) for s in _MAX_AT.findall(text))
        c["python_tasks"] = float(sum(tasks_of_stage.get(s, 0) for s in python_stages))
        files = nbytes = 0
        for d, _, names in os.walk(self.warehouse):
            for n in names:
                st = os.stat(os.path.join(d, n))
                if st.st_mtime_ns >= before["t_ns"]:
                    files += 1
                    nbytes += st.st_size
        c.update(
            jobs=float(len(jobs)),
            eager_jobs=float(len(plans_jobs)),
            codegen_compiles=float(self.codegen.getCount() - before["codegen"]),
            retained_rdds=float(len(self._stored_rdds() - before["rdds"])),
            bytes_written=float(nbytes),
            files_written=float(files),
        )
        return c


class Tracer:
    """Runs traced passes for a ``harness.Runner``."""

    def __init__(self, spans: Spans, counters: SparkCounters) -> None:
        self.spans = spans
        self.counters = counters
        self.n_pass = 0

    def traced_pass(self, runner) -> list:
        sc = runner.spark.sparkContext
        self.n_pass += 1
        runs = []
        with self.spans.span("pass", index=self.n_pass):
            for op in runner.ops:
                before = self.counters.before_op()
                group = f"{op}#{self.n_pass}"
                result = error = None
                layer = {}
                with self.spans.span("op", op=op) as op_span:
                    try:
                        with self.spans.span("plans", op=op) as s:
                            sc.setJobGroup(group + "/plans", f"{op} plans call", False)
                            df = runner.queries[op](runner.spark, runner.data_dir)
                        layer["plans_call_s"] = s["end"] - s["start"]
                        with self.spans.span("action", op=op) as s:
                            sc.setJobGroup(group + "/action", f"{op} materialize", False)
                            result = materialize(df)
                        layer["action_s"] = s["end"] - s["start"]
                    except Exception as e:  # counted by the ledger, not fatal
                        error = f"{type(e).__name__}: {str(e)[:300]}"
                    finally:
                        runner.spark.catalog.clearCache()
                        sc._jsc.clearJobGroup()
                with self.spans.span("counters", op=op):
                    counters = self.counters.after_op(before, group + "/plans", group + "/action")
                counters.update(layer)
                runs.append(OpRun(op, op_span["end"] - op_span["start"], result, error, counters))
        return runs
