"""Engine refresh-cycle benchmark for ringo_spark.

    python3 perfbench/run.py --workload orders_refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process, one Spark session on
``local[<cpus>]``, one client calling the library in a closed loop.  The
seed makes every input; the library sees only the generated files.  The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  The run's full record,
including every span of a traced run, goes to
``perfbench/.results/<workload>-<seed>-trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import time

T_START = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "cycle_s": "s"}


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")


def session(cpus: int):
    """The session the CLI builds (``catalog.get_spark``)."""
    from ringo_spark.catalog import get_spark

    spark = get_spark("ringo-perfbench", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt", action="store_true",
                   help="corrupt one fact row after each cycle (the check "
                        "must then fail)")
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "ringo_spark")):
        print(f"ringo_spark not found under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x])
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    units = per_layer_units() if args.trace else END_TO_END

    spark = session(os.cpu_count())
    jvm = spark.sparkContext._gateway.proc
    run = workloads.Run(spark, ROOT, args.workload, args.seed, args.seconds,
                        bool(args.trace), T_START)
    run.corrupt = args.corrupt
    run.phases["session_s"] = time.perf_counter() - T_START
    try:
        out = workloads.WORKLOADS[args.workload](run)
        run.layers["peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(jvm.pid)
    finally:
        spark.stop()
        jvm.stdin.close()           # the gateway JVM exits when its stdin closes
        jvm.wait(timeout=120)
        shutil.rmtree(run.work, ignore_errors=True)
    run.phases["total_s"] = time.perf_counter() - T_START

    values = {**out, **run.layers}
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u}
               for k, u in units.items()}
    result = {"correct": not run.problems, "attempted": out["attempted"],
              "failed": min(run.failed_ops, out["attempted"]),
              "metrics": metrics}

    tracer = run.record.pop("tracer", None)
    if tracer is not None:
        run.record.update(missing_seams=tracer.missing, spans=tracer.spans)
    record = {"args": vars(args), "result": result, "problems": run.problems,
              "phases": run.phases, "layers": run.layers,
              "not_reached": sorted(set(units) - set(values)), **run.record}
    path = os.path.join(HERE, ".results",
                        f"{args.workload}-{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for problem in run.problems:
        print(f"problem: {problem}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
