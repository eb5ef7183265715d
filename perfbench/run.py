"""Steady-state benchmark of the engine's registered queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run is one fresh process with one
client (this process) on ``local[nproc]``. It generates its inputs from
``--seed``, starts the session and runs a cold pass, which gives each
op its ``(rows, checksum)`` reference. It checks every op's collected
output against its DuckDB oracle twin, runs the workload's untimed
warm-up passes and measures passes for ``--seconds`` seconds. The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it is a JSON
report of the environment, every pass time and the warm-up slope.
Traced runs also write their spans to
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")
ENGINE = "data_ingestion_task_spark"
REQUIRED = (os.path.join(ENGINE, "__init__.py"), os.path.join("tools", "check_oracle.py"))

MIN_MEASURED = 3
MIN_TRACED = 2

END_TO_END = {"setup_s": "s", "pass_s": "s"}
#: Per-pass sums of per-op Spark counters: metric name -> (counter, unit).
PASS_COUNTERS = {
    "plans.call_s": ("plans_call_s", "s"),
    "plans.eager_jobs": ("eager_jobs", "count"),
    "operators.action_s": ("action_s", "s"),
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.executor_run_ms": ("executor_run_ms", "ms"),
    "spark.executor_cpu_ms": ("executor_cpu_ms", "ms"),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", "B"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "B"),
    "spark.spill_bytes": ("spill_bytes", "B"),
    "operators.python_tasks": ("python_tasks", "count"),
    "operators.python_start_ms": ("python_start_ms", "ms"),
    "operators.python_run_ms": ("python_run_ms", "ms"),
    "codegen.compiles": ("codegen_compiles", "count"),
    "cache.retained_rdds": ("retained_rdds", "count"),
    "sources.bytes_read": ("input_bytes", "B"),
    "sources.bytes_written": ("bytes_written", "B"),
    "sources.files_written": ("files_written", "count"),
}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import ALL_OPS

    units = {"session.start_s": "s", "cold_pass_s": "s"}
    units.update({f"op.{op}_s": "s" for op in ALL_OPS})
    units.update({name: unit for name, (_, unit) in PASS_COUNTERS.items()})
    units.update({"spark.slot_busy": "ratio", "jvm.peak_rss_mb": "MB", "trace.overhead_s": "s"})
    return units


def pin_environment(work: str) -> dict:
    """Pin what the engine reads from the environment before the JVM
    starts, and return the values for the report."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_gib = int(f.readline().split()[1]) // (1024 * 1024)
    heap = f"{max(1, min(4, total_gib // 5))}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    # Python workers import the engine by name from any cwd.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # The launcher JVM that spark-submit runs first writes no perf data.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {"nproc": nproc, "mem_total_gib": total_gib, "driver_mem": heap}


def describe_environment() -> dict:
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        git = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
        )
        commit = git.stdout.strip() or None
    h = hashlib.sha256()
    for d, dirs, names in sorted(os.walk(os.path.join(ROOT, ENGINE))):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                path = os.path.join(d, n)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return {
        "loadavg_start": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "commit": commit,
        "engine_sha256": h.hexdigest()[:16],
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _descendants(pid: int) -> set[int]:
    kids, found, todo = _children(), set(), [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            if k not in found:
                found.add(k)
                todo.append(k)
    return found


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) CPU time of the machine so far, from /proc/stat:
    steal is time the hypervisor gave this VM's CPUs to others."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total else 0.0


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and every
    process it started (the Python worker daemon and workers) exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spawned = _descendants(proc.pid) if proc is not None else set()
    spark.stop()
    SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while spawned:
        spawned = {p for p in spawned if os.path.exists(f"/proc/{p}")}
        if spawned and time.monotonic() > deadline:
            for p in spawned:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


def run(args, work: str, data_dir: str, t_gen: float) -> tuple[dict, dict]:
    from perfbench import harness
    from perfbench.workloads import ALL_OPS, SIZES, WARMUP_PASSES, WORKLOADS

    ops = WORKLOADS[args.workload]
    cpu_start = cpu_jiffies()
    from data_ingestion_task_spark.plans import registry
    from data_ingestion_task_spark.session import get_spark

    queries = registry.queries_dict()
    oracles = registry.oracle_dict()
    warehouse = os.path.join(work, "warehouse")
    conf = {
        "spark.sql.warehouse.dir": warehouse,
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    spans = tracer = None
    if args.trace:
        from perfbench.tracing import Spans, SparkCounters, Tracer

        spans = Spans(_T_START)
    t = time.perf_counter()
    with spans.span("session") if spans else contextlib.nullcontext():
        spark = get_spark("perfbench", extra_conf=conf)
    t_session = time.perf_counter() - t
    ledger = harness.Ledger()
    try:
        if args.trace:
            tracer = Tracer(spans, SparkCounters(spark, warehouse))
        runner = harness.Runner(spark, queries, data_dir, ops, tracer)
        cold = runner.run_pass()
        ledger.record_first(cold)
        # The oracle check, which set-up excludes: DuckDB runs the twins
        # in a second thread while Spark collects every op's output. The
        # collect also executes every op once more, so it warms up too.
        t = time.perf_counter()
        with ThreadPoolExecutor(1) as pool:
            twins = {op: oracles[op] for op in ops if op in oracles}
            expected = pool.submit(harness.oracle_frames, twins, data_dir, list(SIZES))
            collected = harness.collect_outputs(spark, queries, data_dir, ops)
            ledger.verify(harness.check_outputs(collected, expected.result()))
        del collected
        t_oracle = time.perf_counter() - t

        def record(p: harness.PassRun) -> harness.PassRun:
            for r in p.ops:
                ledger.record(r.op, r.result, r.error)
            return p

        warmups = [record(runner.run_pass()) for _ in range(WARMUP_PASSES[args.workload])]

        t_measure = time.perf_counter()
        cpu_measure = cpu_jiffies()
        measured: list[harness.PassRun] = []
        traced: list[harness.PassRun] = []
        while True:
            done = time.perf_counter() - t_measure >= args.seconds
            if args.trace:
                if done and len(traced) >= MIN_TRACED and measured:
                    break
                p = record(runner.run_pass(traced=len(traced) <= len(measured)))
                (traced if p.traced else measured).append(p)
            else:
                if done and len(measured) >= MIN_MEASURED:
                    break
                measured.append(record(runner.run_pass()))
        cpu_end = cpu_jiffies()
        from pyspark import SparkContext

        peak_rss = jvm_peak_rss_mb(SparkContext._gateway.proc.pid)
    finally:
        stop_spark(spark)

    setup_s = t_measure - _T_START - t_gen - t_oracle
    walls = [p.seconds for p in measured]
    warm = [p.seconds for p in warmups]
    pass_s = harness.median(walls)
    report = {
        "workload": args.workload,
        "ops": ops,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "clients": 1,
        "input_rows": SIZES,
        "setup": {
            "setup_s": setup_s,
            "session_s": t_session,
            "cold_pass_s": cold.seconds,
            "warmup_pass_s": warm,
            "excluded_input_gen_s": t_gen,
            "oracle_check_s": t_oracle,
        },
        "measured_pass_s": walls,
        "traced_pass_s": [p.seconds for p in traced],
        "samples": {"pass_s": len(walls), "setup_s": 1},
        "pass_s_max": max(walls),
        "steadiness": harness.steadiness(cold.seconds, warm, walls),
        "fail_rate": ledger.failed / ledger.attempted,
        "errors": ledger.errors,
        "jvm_peak_rss_mb": peak_rss,
        "steal_share": {
            "run": steal_share(cpu_start, cpu_end),
            "measured": steal_share(cpu_measure, cpu_end),
        },
    }
    if not args.trace:
        metrics = {"setup_s": setup_s, "pass_s": pass_s}
        units = END_TO_END
    else:
        units = per_layer_units()
        metrics = dict.fromkeys(units, 0.0)
        metrics["session.start_s"] = t_session
        metrics["cold_pass_s"] = cold.seconds
        for op in ALL_OPS:
            if op in ops:
                metrics[f"op.{op}_s"] = harness.median(
                    [r.seconds for p in traced for r in p.ops if r.op == op]
                )
        for name, (key, _) in PASS_COUNTERS.items():
            metrics[name] = harness.median(
                [sum(r.counters.get(key, 0.0) for r in p.ops) for p in traced]
            )
        metrics["spark.slot_busy"] = harness.median(
            [
                sum(r.counters.get("executor_run_ms", 0.0) for r in p.ops)
                / (p.seconds * 1e3 * int(os.environ["SPARK_GRAFT_CPUS"]))
                for p in traced
            ]
        )
        metrics["jvm.peak_rss_mb"] = peak_rss
        metrics["trace.overhead_s"] = harness.median([p.seconds for p in traced]) - pass_s
        path = os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": spans.records,
                    "ops": [
                        {"pass": i, "op": r.op, "seconds": r.seconds, **r.counters}
                        for i, p in enumerate(traced)
                        for r in p.ops
                    ],
                },
                f,
            )
        report["trace_file"] = os.path.relpath(path, ROOT)
    final = {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return report, final


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # Let a terminated run stop its JVM and remove its work dir.
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs
    from perfbench.workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    os.makedirs(OUT_DIR, exist_ok=True)
    work = os.path.join(OUT_DIR, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_environment(work)
    try:
        t = time.perf_counter()
        inputs.generate(os.path.join(work, "data"), args.seed, SIZES)
        env.update(describe_environment())
        t_gen = time.perf_counter() - t  # the benchmark's own work: not set-up
        report, final = run(args, work, os.path.join(work, "data"), t_gen)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report["environment"] = env
    print(json.dumps({"report": report}))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
