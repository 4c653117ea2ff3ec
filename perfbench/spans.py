"""Spans around the calls into each layer, recorded from the benchmark's
own files.

A traced operation (one Engine call or one query) runs under its own
Spark job group.  Inside it, library seams named in :data:`SEAMS` are
wrapped by name for the length of the traced run: a seam that no longer
exists is recorded as missing, never fatal.  Spark work per operation
comes from the UI REST API, read right after that operation so the UI's
stage retention limit never truncates it.  Spans stay in memory until
the caller writes them out.
"""

from __future__ import annotations

import datetime as dt
import functools
import importlib
import json
import os
import re
import sys
import time
import urllib.error
import urllib.request
from contextlib import contextmanager

from py4j.protocol import Py4JError

# (module, attribute path, span name).  The populate builders are also
# rebound in every ringo_spark module that imported them by name.
SEAMS = [
    ("ringo_spark.populate.dimension", "dimension_population_df", "populate.build"),
    ("ringo_spark.populate.fact", "fact_population_df", "populate.build"),
    ("ringo_spark.engine", "Engine.read_table", "engine.read_table"),
    ("ringo_spark.engine", "Engine._write_full", "engine.commit"),
    ("ringo_spark.engine", "Engine._write_append", "engine.commit"),
    ("ringo_spark.engine", "Engine._commit_watermark", "engine.commit"),
    ("ringo_spark.engine", "Engine._store_watermark", "engine.commit"),
    ("ringo_spark.engine", "Engine._mark_inflight", "engine.commit"),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet", "engine.write"),
]

EXCHANGE = re.compile(r"\b(?:Broadcast)?Exchange\b")


def _rest_time(s: str) -> float:
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc).timestamp()


def catalyst(df) -> dict:
    """Catalyst phase times (s) and the Exchange count of ``df``'s plan.
    Planning ``df`` here re-plans the same logical plan the action
    planned, so the phases are those of an identical plan."""
    try:
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        phases = qe.tracker().phases()
    except (AttributeError, Py4JError):
        return {"catalyst": "missing"}
    out = {"exchanges": len(EXCHANGE.findall(plan))}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name + "_s"] = p.get().durationMs() / 1000 if p.isDefined() else 0.0
    return out


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.missing: list[str] = []
        self._stack: list[dict] = []
        self._restore: list[tuple] = []
        self._ops = 0

    # --- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        s = {"id": len(self.spans), "name": name,
             "parent": self._stack[-1]["id"] if self._stack else None,
             "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def op(self, name: str, **attrs):
        """A root span for one operation, with its Spark work attached."""
        self._ops += 1
        group = f"perfbench-op-{os.getpid()}-{self._ops}"
        self.sc.setJobGroup(group, name)
        try:
            with self.span(name, op=True, **attrs) as s:
                yield s
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            t = time.time()
            s.update(self._spark_work(group, s))
            s["rest_s"] = time.time() - t

    def self_time(self, s: dict) -> float:
        kids = sum(k["end"] - k["start"] for k in self.spans
                   if k["parent"] == s["id"])
        return s["end"] - s["start"] - kids

    # --- seams ---------------------------------------------------------------

    def install(self) -> None:
        if self.sc.uiWebUrl:
            self._get("jobs")     # the UI's first request pays its own start-up
        for module, path, span_name in SEAMS:
            try:
                owner = importlib.import_module(module)
                *parents, attr = path.split(".")
                for p in parents:
                    owner = getattr(owner, p)
                original = getattr(owner, attr)
            except (ImportError, AttributeError):
                self.missing.append(f"{module}.{path}")
                continue
            wrapped = self._wrap(original, span_name, attr == "parquet")
            targets = [owner]
            if not parents:
                # rebind the name wherever a ringo_spark module imported it
                targets += [m for n, m in list(sys.modules.items())
                            if n.startswith("ringo_spark") and m is not None
                            and getattr(m, attr, None) is original]
            for t in targets:
                self._restore.append((t, attr, original))
                setattr(t, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    def _wrap(self, fn, span_name: str, is_write: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name, seam=fn.__qualname__) as s:
                out = fn(*args, **kwargs)
            if is_write:
                s.update(_written(args[1] if len(args) > 1 else kwargs["path"],
                                  s["start"]))
                s.update(catalyst(getattr(args[0], "_df", None)))
            return out
        return wrapper

    # --- Spark work ------------------------------------------------------------

    def _get(self, what: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{what}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def _spark_work(self, group: str, op: dict) -> dict:
        if not self.sc.uiWebUrl:
            return {"spark": "missing"}
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        try:
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") == group]
            ids = {i for j in jobs for i in j["stageIds"]}
            stages = [s for s in self._get("stages?status=complete")
                      if s["stageId"] in ids]
        except (urllib.error.URLError, OSError) as e:
            return {"spark": f"missing: {e}"}
        populate = [(k["start"], k["end"]) for k in self.spans
                    if k["name"] == "populate.build" and k["start"] >= op["start"]]
        total = lambda f: sum(s.get(f, 0) for s in stages)  # noqa: E731
        return {
            "jobs": len(jobs),
            "populate_jobs": sum(
                any(a <= _rest_time(j["submissionTime"]) <= b for a, b in populate)
                for j in jobs),
            "stages": len(stages),
            "tasks": total("numCompleteTasks"),
            "executor_run_s": total("executorRunTime") / 1e3,
            "executor_cpu_s": total("executorCpuTime") / 1e9,
            "gc_s": total("jvmGcTime") / 1e3,
            "fetch_wait_s": total("shuffleFetchWaitTime") / 1e3,
            "input_mb": total("inputBytes") / 2**20,
            "shuffle_write_mb": total("shuffleWriteBytes") / 2**20,
            "shuffle_read_mb": total("shuffleReadBytes") / 2**20,
            "spill_mb": (total("memoryBytesSpilled")
                         + total("diskBytesSpilled")) / 2**20,
        }


def _written(path: str, since: float) -> dict:
    files = [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs
             if f.startswith("part-")]
    new = [f for f in files if os.path.getmtime(f) >= since]
    return {"files_written": len(new),
            "bytes_written": sum(os.path.getsize(f) for f in new)}
