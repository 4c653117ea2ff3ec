"""Measure the benchmark's baseline on the machine it runs on.

    python3 perfbench/baseline.py

Runs every workload of BENCHMARK.json untraced over two sets of ten
seeds (set 1: seeds 1-10, set 2: seeds 11-20; all of set 1 before any
of set 2), then traced over seeds 21-23, one run at a time, and writes
``perfbench/baseline.json``.  For each end-to-end metric and set, the
file holds the median, quartiles and spread; the spread is the quartile
distance over the median, from ``statistics.quantiles(values, n=4)``.
It also holds how far the second set's median is from the first's, as
a share of the first, next to the metric's bound; each run's wall time
and Spark session start; and the per-layer counters that read the same
in every traced run, including Spark jobs per Engine step.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS_PER_SET = 10
SETS = 2
TRACED_SEEDS = range(SETS * SEEDS_PER_SET + 1, SETS * SEEDS_PER_SET + 4)


def set_seeds(k: int) -> range:
    return range(k * SEEDS_PER_SET + 1, (k + 1) * SEEDS_PER_SET + 1)


def record(workload: str, seed: int, trace: int) -> dict:
    with open(os.path.join(HERE, ".results",
                           f"{workload}-{seed}-trace{trace}.json")) as fh:
        return json.load(fh)


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One run; returns its result line plus its wall and session start."""
    t = time.perf_counter()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n"
                           f"{p.stderr[-2000:]}")
    r = json.loads(p.stdout.strip().splitlines()[-1])
    r.update(wall=wall,
             session_s=record(workload, seed, trace)["phases"]["session_s"])
    print(workload, seed, trace, round(wall, 1), json.dumps(r), file=sys.stderr)
    return r


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def jobs_per_step(workload: str, seed: int) -> dict:
    return {s["name"]: s.get("jobs") for s in record(workload, seed, 1)["spans"]
            if s.get("op")}


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    names = [w["name"] for w in bench["workloads"]]
    counters = [m["name"] for m in bench["per_layer"]
                if m["unit"] in ("count", "bytes")]
    sets = {w: [] for w in names}
    for k in range(SETS):
        for w in names:
            sets[w].append([run(w, s, seconds, 0) for s in set_seeds(k)])
    out = {"machine": {"cpus": os.cpu_count(), "platform": platform.platform(),
                       "python": platform.python_version()},
           "run_seconds": seconds, "workloads": {}}
    for w in names:
        traced = [run(w, s, seconds, 1) for s in TRACED_SEEDS]
        layer = lambda k: [t["metrics"][k]["value"] for t in traced]  # noqa: E731
        steps = [jobs_per_step(w, s) for s in TRACED_SEEDS]
        per_set = [{"seeds": list(set_seeds(k)),
                    "run_wall_s": spread([r["wall"] for r in rs])
                    | {"max": max(r["wall"] for r in rs)},
                    "session_s": spread([r["session_s"] for r in rs]),
                    "end_to_end": {
                        m["name"]: spread([r["metrics"][m["name"]]["value"]
                                           for r in rs])
                        for m in bench["end_to_end"]}}
                   for k, rs in enumerate(sets[w])]
        first, second = (s["end_to_end"] for s in per_set[:2])
        out["workloads"][w] = {
            "all_correct": all(r["correct"] and not r["failed"]
                               for rs in sets[w] for r in rs + traced),
            "sets": per_set,
            "second_vs_first": {
                m["name"]: {"change": second[m["name"]]["median"]
                            / first[m["name"]]["median"] - 1,
                            "bound": m["bound"]}
                for m in bench["end_to_end"]},
            "traced_seeds": list(TRACED_SEEDS),
            "per_layer_median": {k: statistics.median(layer(k))
                                 for k in traced[0]["metrics"]},
            "repeat_exactly": sorted(k for k in counters
                                     if len(set(layer(k))) == 1),
            "vary": sorted(k for k in counters if len(set(layer(k))) > 1),
            "jobs_per_step": steps[0] if all(s == steps[0] for s in steps)
            else steps,
        }
    with open(os.path.join(HERE, "baseline.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
