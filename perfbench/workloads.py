"""The benchmark workloads: what one cycle does, its set-up and its check.

Untraced cycles call only the library's public API: ``parse_input``,
``make_env``, ``Engine(...)``, ``load_sources``, ``run``,
``compact_fact``, ``read_table`` and the ``__spark_entry__`` registry.
A traced cycle does the same work with :class:`spans.Tracer` seams
installed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import statistics
import time

import check
import datagen
from spans import Tracer, catalyst

HERE = os.path.dirname(os.path.abspath(__file__))
ORDERS_COPIES = 16       # the orders star is a ×16 replica of the sf0.001 shape
INDEX_ROOTS = (".minhash_index", ".ivf_index", ".lsh_index", ".stream_sinks",
               ".bpe_tokenizer")
T_FAR = dt.datetime(2100, 1, 1)
SUITE_DATA_SEED = 0
# A pass is short and its queries still warm up after the checked pass,
# so the suite always times two passes and reports their median.
SUITE_MIN_PASSES = 2


class Run:
    """State of one benchmark process: inputs, timings and problems."""

    def __init__(self, spark, root: str, workload: str, seed: int,
                 seconds: float, traced: bool, t_start: float):
        self.spark, self.root = spark, root
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.t_start = t_start
        self.corrupt = False
        self.rng = random.Random(seed)
        self.work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
        self.problems: list[str] = []
        self.failed_ops = 0
        self.layers: dict[str, float] = {}
        self.phases: dict[str, float | list] = {}
        self.record: dict = {}

    def dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        os.makedirs(path, exist_ok=True)
        return path

    def op(self, fn, tracer: Tracer | None, name: str, **attrs) -> dict:
        """Time one operation; a raised call counts as failed."""
        rec = {"name": name, **attrs}
        t = time.perf_counter()
        try:
            if tracer is None:
                fn()
            else:
                with tracer.op(name, **attrs) as span:
                    fn()
                rec["span"] = span["id"]
        except Exception as e:  # noqa: BLE001 - a failed operation is a result
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            self.failed_ops += 1
            self.problems.append(f"{name}: {rec['error']}")
        rec["wall"] = time.perf_counter() - t
        return rec


def load_env(name: str, unit: str, expected):
    """Parse and validate a YAML input the way the CLI does; it must
    describe exactly the star the testbed declares."""
    from ringo_spark.input_parser import parse_input
    from ringo_spark.model import Settings, TimeUnit
    from ringo_spark.validator import make_env

    t0 = time.perf_counter()
    tables, facts, defaults = parse_input(os.path.join(HERE, "inputs", name))
    t1 = time.perf_counter()
    env = make_env(tables, facts, Settings(time_unit=TimeUnit[unit]), defaults)
    t2 = time.perf_counter()
    if env != expected:
        raise ValueError(f"inputs/{name} does not describe the testbed star")
    return env, {"input_parser.parse_s": t1 - t0, "validator.make_env_s": t2 - t1}


# --- engine workload ---------------------------------------------------------


class OrdersRefresh:
    """A refresh cycle over the orders star: full refresh, incremental
    windows, then ``compact_fact`` on every fact.  Every cycle starts
    from an empty warehouse."""

    corrupt = ("fact_orders_by_day", "order_count")   # (fact table, column)

    def inputs(self, run: Run) -> tuple[str, str]:
        """Write the sources; return (timed data dir, warm-up data dir)."""
        base, data = run.dir("base"), run.dir("data")
        datagen.generate(base, run.seed)
        datagen.replicate_orders(base, data, ORDERS_COPIES, run.seed)
        return data, base

    def cuts(self, rng: random.Random) -> list[dt.datetime]:
        """The full refresh's upper bound, then each incremental one."""
        jitter = lambda: dt.timedelta(days=rng.randint(-5, 5))  # noqa: E731
        return [dt.datetime(1998, 1, 1) + jitter(),
                dt.datetime(1999, 7, 1) + jitter(), T_FAR]

    def steps(self, engine, cuts):
        from ringo_spark.model import PopulationMode

        yield "full", lambda: engine.run(PopulationMode.FULL, cuts[0])
        for c in cuts[1:]:
            yield "incremental", lambda c=c: engine.run(PopulationMode.INCREMENTAL, c)
        for fact in engine.env.facts:
            yield "compact", lambda f=fact: engine.compact_fact(f)

    def cycle(self, run: Run, env, data: str, cuts, tracer=None) -> dict:
        from ringo_spark.engine import Engine

        wh = run.dir(f"warehouse-{time.monotonic_ns()}")
        engine = Engine(run.spark, env, wh)
        engine.load_sources(data)
        t = time.perf_counter()
        ops = [run.op(fn, tracer, f"{kind} {i}", kind=kind)
               for i, (kind, fn) in enumerate(self.steps(engine, cuts))]
        out = {"wall": time.perf_counter() - t, "ops": ops, "warehouse": wh,
               "engine": engine}
        out.update(warehouse_stats(wh))
        return out

    def warm_up(self, run: Run, env, data: str, cut) -> None:
        """A full refresh of the warm-up inputs, so the timed cycle does
        not pay the new JVM's first compilations."""
        from ringo_spark.engine import Engine
        from ringo_spark.model import PopulationMode

        wh = run.dir("warm-up")
        engine = Engine(run.spark, env, wh)
        engine.load_sources(data)
        run.op(lambda: engine.run(PopulationMode.FULL, cut), None, "warm-up")
        shutil.rmtree(wh)

    def __call__(self, run: Run) -> dict:
        from ringo_spark import testbed

        cuts = self.cuts(run.rng)
        data, warm = self.inputs(run)
        env, parse = load_env("orders.yaml", "DAY", testbed.ORDERS_ENV)
        run.layers.update(parse)
        t = time.perf_counter()
        self.warm_up(run, env, warm, cuts[0])
        run.phases["warm_up_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - run.t_start

        con = check.duck(data)
        cycles, timed = [], 0.0
        while not cycles or (timed < run.seconds and not run.traced):
            c = self.cycle(run, env, data, cuts)
            timed += c["wall"]
            cycles.append(c)
            self.verify(run, c, con)
        if run.traced:
            tracer = Tracer(run.spark)
            tracer.install()
            try:
                c = self.cycle(run, env, data, cuts, tracer)
            finally:
                tracer.uninstall()
            self.verify(run, c, con)
            run.layers.update(engine_layers(tracer, run.spark))
            run.layers["trace.overhead_s"] = c["wall"] - statistics.median(
                u["wall"] for u in cycles)
            run.record["tracer"] = tracer
            cycles.append(c)
        con.close()
        timed_cycles = cycles[:-1] if run.traced else cycles
        last = timed_cycles[-1]
        by_kind = lambda k: [o["wall"] for o in last["ops"] if o["kind"] == k]  # noqa: E731
        run.layers.update({
            "full_refresh_s": sum(by_kind("full")),
            "incremental_refresh_s": statistics.median(by_kind("incremental")),
            "compact_s": sum(by_kind("compact")),
            "warehouse_mb": last["bytes"] / 2**20,
            "engine.data_files": last["data_files"],
            "engine.state_files": last["state_files"],
        })
        run.record["cycles"] = [{"wall": c["wall"], "ops": c["ops"]}
                                for c in cycles]
        run.layers["op_median_s"] = statistics.median(
            o["wall"] for c in timed_cycles for o in c["ops"])
        return {
            "setup_s": setup_s,
            "cycle_s": statistics.median(c["wall"] for c in timed_cycles),
            "attempted": sum(len(c["ops"]) for c in timed_cycles),
        }

    def verify(self, run: Run, c: dict, con) -> None:
        t = time.perf_counter()
        if run.corrupt:
            table, column = self.corrupt
            check.corrupt_one_fact_row(os.path.join(c["warehouse"], table), column)
        try:
            problems = check.check_orders(c["engine"], con, str(T_FAR))
        except Exception as e:  # noqa: BLE001 - an unreadable output fails the check
            problems = [f"check raised {type(e).__name__}: {e}"[:500]]
        run.problems += problems
        run.failed_ops += bool(problems)
        shutil.rmtree(c.pop("warehouse"), ignore_errors=True)
        c.pop("engine")
        run.phases.setdefault("check_s", []).append(time.perf_counter() - t)


def warehouse_stats(wh: str) -> dict:
    files = [os.path.join(r, f) for r, _, fs in os.walk(wh) for f in fs]
    return {"bytes": sum(os.path.getsize(f) for f in files),
            "data_files": sum(os.path.basename(f).startswith("part-")
                              for f in files),
            "state_files": sum(os.path.isfile(os.path.join(wh, f))
                               for f in os.listdir(wh))}


# --- operator suite ----------------------------------------------------------


def operator_suite(run: Run) -> dict:
    """One query per builder module of the operator registry, each run
    once into the noop sink per pass; query order is shuffled by the
    seed.  The warm-up pass collects every result and compares it with
    the query's DuckDB oracle, and builds the persisted index roots."""
    import __spark_entry__ as entry

    with open(os.path.join(HERE, "operator_suite.json")) as fh:
        suite = json.load(fh)
    names = [n for module in sorted(suite) for n in suite[module]]
    run.rng.shuffle(names)
    # The suite's inputs do not depend on the seed: they are generated
    # once per checkout, so the persisted index roots keyed on them stay
    # warm from one run to the next, as they do for a user.
    data = os.path.join(HERE, ".cache", "operator-data")

    if not os.path.isdir(data):
        tmp = f"{data}.tmp-{os.getpid()}"
        datagen.generate(tmp, SUITE_DATA_SEED)
        try:
            os.rename(tmp, data)
        except OSError:                 # another run generated it first
            shutil.rmtree(tmp)
            if not os.path.isdir(data):
                raise
    queries, oracles = entry.queries(), entry.oracle_sql()
    missing = [n for n in names if n not in queries or n not in oracles]
    run.failed_ops += len(missing)
    run.problems += [f"{n}: not in queries()/oracle_sql()" for n in missing]
    names = [n for n in names if n not in missing]
    con = check.duck(data)

    def checked(n):
        problems = check.query_matches_oracle(n, queries[n](run.spark, data),
                                              con, oracles[n])
        if problems:
            raise AssertionError("; ".join(problems))

    t = time.perf_counter()
    run.record["warm_up"] = [run.op(lambda n=n: checked(n), None, n)
                             for n in names]                  # warm-up + check
    con.close()
    run.phases["warm_up_s"] = time.perf_counter() - t
    # persisted index and sink directories the timed pass can serve from
    roots_warm = sum(len(os.listdir(os.path.join(run.root, r)))
                     for r in INDEX_ROOTS
                     if os.path.isdir(os.path.join(run.root, r)))
    setup_s = time.perf_counter() - run.t_start

    def noop(n, keep=None):
        df = queries[n](run.spark, data)
        df.write.format("noop").mode("overwrite").save()
        if keep is not None:
            keep.update(catalyst(df))

    def one_pass(tracer=None):
        t = time.perf_counter()
        ops = []
        for n in names:
            module = queries[n].__module__.rsplit(".", 1)[-1]
            plan: dict = {}
            ops.append(run.op(lambda n=n: noop(n, plan if tracer else None),
                              tracer, n, module=module))
            ops[-1].update(plan)
        return {"wall": time.perf_counter() - t, "ops": ops}

    passes, timed = [], 0.0
    while len(passes) < SUITE_MIN_PASSES or (timed < run.seconds
                                             and not run.traced):
        passes.append(one_pass())
        timed += passes[-1]["wall"]
    if run.traced:
        tracer = Tracer(run.spark)
        tracer.install()
        try:
            p = one_pass(tracer)
        finally:
            tracer.uninstall()
        run.layers.update(suite_layers(tracer, p, run.spark))
        run.layers["trace.overhead_s"] = p["wall"] - statistics.median(
            u["wall"] for u in passes)
        run.record["tracer"] = tracer
        passes.append(p)
    timed_passes = passes[:-1] if run.traced else passes
    run.layers["index.roots_warm"] = roots_warm
    run.layers["ops_total_s"] = sum(o["wall"] for o in timed_passes[-1]["ops"])
    run.record["cycles"] = passes
    run.layers["op_median_s"] = statistics.median(
        o["wall"] for p in timed_passes for o in p["ops"])
    return {
        "setup_s": setup_s,
        "cycle_s": statistics.median(p["wall"] for p in timed_passes),
        "attempted": sum(len(p["ops"]) for p in timed_passes),
    }


# --- per-layer metrics from a traced cycle -----------------------------------

SPARK_FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "gc_s", "input_mb", "shuffle_write_mb", "shuffle_read_mb",
                "fetch_wait_s", "spill_mb")
OPERATOR_MODULES = ("text", "tpch", "dedup", "relational", "similarity",
                    "testbed", "sampling", "session", "multimodal",
                    "rollup_grain", "pipeline", "training", "layout", "vocab",
                    "ann")


def _outermost(tracer: Tracer, name: str) -> list[dict]:
    by_id = {s["id"]: s for s in tracer.spans}
    out = []
    for s in tracer.spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] != name:
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def _spark_layers(tracer: Tracer, spark) -> dict:
    """Spark work and layer walls of the traced operations.  If the REST
    read failed for any operation, the Spark metrics are left out (the
    run lists them under ``not_reached``) and the failure counts as a
    missing seam."""
    ops = [s for s in tracer.spans if s.get("op")]
    dur = lambda ss: sum(s["end"] - s["start"] for s in ss)  # noqa: E731
    out = {"populate.build_s": dur(_outermost(tracer, "populate.build")),
           "engine.read_table_s": dur(_outermost(tracer, "engine.read_table")),
           "trace.rest_s": sum(o.get("rest_s", 0) for o in ops)}
    if any("spark" in o for o in ops):
        return out
    cores = spark.sparkContext.defaultParallelism
    out.update({f"spark.{f}": sum(o[f] for o in ops) for f in SPARK_FIELDS})
    out["spark.sched_gap_s"] = sum(
        (o["end"] - o["start"]) - o["executor_run_s"] / cores for o in ops)
    out["populate.jobs"] = sum(o["populate_jobs"] for o in ops)
    return out


def _catalyst_layers(plans: list[dict]) -> dict:
    """Catalyst phases and Exchange nodes summed over ``plans``; left out
    if any plan could not be read."""
    if any("catalyst" in x for x in plans):
        return {}
    out = {f"catalyst.{p}_s": sum(x.get(f"{p}_s", 0) for x in plans)
           for p in ("analysis", "optimization", "planning")}
    out["plan.exchanges"] = sum(x.get("exchanges", 0) for x in plans)
    return out


def _missing(tracer: Tracer, plans: list[dict]) -> int:
    """Seams not found, plus operations whose REST stage metrics and
    plans whose Catalyst tracker could not be read."""
    return (len(tracer.missing)
            + sum("spark" in s for s in tracer.spans if s.get("op"))
            + sum("catalyst" in x for x in plans))


def engine_layers(tracer: Tracer, spark) -> dict:
    writes = _outermost(tracer, "engine.write")
    out = _spark_layers(tracer, spark)
    out.update(_catalyst_layers(writes))
    out["trace.missing_seams"] = _missing(tracer, writes)
    out["engine.write_s"] = sum(s["end"] - s["start"] for s in writes)
    out["engine.commit_s"] = sum(tracer.self_time(s) for s in tracer.spans
                                 if s["name"] == "engine.commit")
    out["engine.files_written"] = sum(s.get("files_written", 0) for s in writes)
    out["engine.bytes_written"] = sum(s.get("bytes_written", 0) for s in writes)
    return out


def suite_layers(tracer: Tracer, p: dict, spark) -> dict:
    out = _spark_layers(tracer, spark)
    out.update(_catalyst_layers(p["ops"]))
    out["trace.missing_seams"] = _missing(tracer, p["ops"])
    spans = {s["id"]: s for s in tracer.spans}
    rest_read = "spark.jobs" in out
    for m in OPERATOR_MODULES:
        ops = [o for o in p["ops"] if o["module"] == m]
        out[f"operators.{m}_s"] = sum(o["wall"] for o in ops)
        if rest_read:
            out[f"operators.{m}.executor_cpu_s"] = sum(
                spans[o["span"]]["executor_cpu_s"] for o in ops if "span" in o)
    return out


WORKLOADS = {
    "orders_refresh": OrdersRefresh(),
    "operator_suite": operator_suite,
}
