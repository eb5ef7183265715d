"""Run the benchmark over many seeds, twice, and report its spread.

    python3 perfbench/steadiness.py --workloads extract_classify,dedup_cluster \\
        --seeds 1-10 --sets 2 [--seconds 8] [--trace 0]

Each run is a fresh ``perfbench/run.py`` process, one after another.
For every workload and end-to-end metric it reports, per set of runs,
the median and the distance between the first and third quartiles
(``statistics.quantiles(values, n=4)``) as a share of the median, and
the second set's median against the first's. It also lists every run
whose passes were still falling and every failed op. The report goes
to stdout and to ``.perfbench/steadiness.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return {"seed": seed, "wall_s": wall, "rc": proc.returncode, "stderr": proc.stderr[-2000:]}
    report = json.loads(lines[-2])["report"]
    final = json.loads(lines[-1])
    return {
        "seed": seed,
        "wall_s": wall,
        "rc": 0,
        "correct": final["correct"],
        "attempted": final["attempted"],
        "failed": final["failed"],
        "metrics": {k: v["value"] for k, v in final["metrics"].items()},
        "steadiness": report["steadiness"],
        "measured_pass_s": report["measured_pass_s"],
        "setup": report["setup"],
        "loadavg_start": report["environment"]["loadavg_start"],
        "steal_share": report["steal_share"],
        "errors": report["errors"],
    }


def summarize(runs_by_set: list[list[dict]]) -> dict:
    ok_sets = [[r for r in runs if r["rc"] == 0] for runs in runs_by_set]
    names = sorted({k for runs in ok_sets for r in runs for k in r["metrics"]})
    out: dict = {}
    for name in names:
        per_set = []
        for runs in ok_sets:
            vals = [r["metrics"][name] for r in runs]
            per_set.append({
                "n": len(vals),
                "median": statistics.median(vals),
                "iqr_over_median": spread(vals) if len(vals) >= 2 else None,
            })
        entry = {"sets": per_set}
        if len(per_set) >= 2:
            entry["second_over_first"] = per_set[1]["median"] / per_set[0]["median"] - 1
        out[name] = entry
    all_runs = [r for runs in runs_by_set for r in runs]
    out["_runs"] = {
        "count": len(all_runs),
        "crashed": [r["seed"] for r in all_runs if r["rc"] != 0],
        "incorrect": [r["seed"] for r in all_runs if r["rc"] == 0 and not r["correct"]],
        "still_falling": [r["seed"] for r in all_runs if r["rc"] == 0
                          and r["steadiness"]["still_falling"]],
        "max_wall_s": max(r["wall_s"] for r in all_runs),
        "mean_wall_s": statistics.mean(r["wall_s"] for r in all_runs),
    }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    seeds = parse_seeds(args.seeds)
    runs: dict[str, list[list[dict]]] = {w: [] for w in workloads}
    for _ in range(args.sets):
        for w in workloads:
            done = []
            for seed in seeds:
                r = run_once(w, seed, args.seconds, args.trace)
                print(json.dumps({"workload": w, **{k: r.get(k) for k in
                      ("seed", "wall_s", "rc", "failed", "metrics", "steadiness")}}), flush=True)
                done.append(r)
            runs[w].append(done)
    report = {w: summarize(sets) for w, sets in runs.items()}
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "steadiness.json"), "w") as f:
        json.dump({"args": vars(args), "report": report, "runs": runs}, f, indent=1)
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
