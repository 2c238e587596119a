"""Spans, layer wrappers and Spark status-store reads for the traced run.

Everything here lives on the benchmark side: the engine is not edited.
Layer boundaries are observed by wrapping each module's public function
for the duration of a traced run (``patch_layers``), and Spark's own
accounting is read from the in-process status store, which works with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """In-memory span recorder: a span is (id, name, start, end, parent,
    lane), kept in memory and written out with ``dump`` at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(
        self,
        name: str,
        start: float,
        end: float,
        parent: int | None = None,
        lane: str | None = None,
        **attrs,
    ) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "lane": lane,
                    **attrs,
                }
            )
        return sid

    @contextmanager
    def span(self, name: str, lane: str | None = None, **attrs) -> Iterator[int]:
        stack = self._stack()
        parent = stack[-1] if stack else None
        if lane is None and parent is not None:
            lane = self.spans[parent]["lane"]
        sid = self.add(name, time.time(), 0.0, parent, lane, **attrs)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


def _wrap(tracer: Tracer, span_name: str, fn: Callable) -> Callable:
    def traced(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    traced.__wrapped__ = fn
    return traced


# (module, function, span name) pairs wrapped in a traced run.
LAYER_FUNCTIONS = (
    ("shortvideohybridanalyticslakehouse_spark.sources.batch", "load_table",
     "sources.load_table"),
    ("shortvideohybridanalyticslakehouse_spark.functions.dedupfns",
     "minhash_candidate_pairs", "functions.minhash_candidate_pairs"),
    ("shortvideohybridanalyticslakehouse_spark.plans.ddl",
     "write_bucketed_sorted_table", "plans.ddl.append"),
    ("shortvideohybridanalyticslakehouse_spark.plans.ddl",
     "append_bucketed_sorted", "plans.ddl.append"),
    ("shortvideohybridanalyticslakehouse_spark.plans.ddl",
     "compact_bucketed_table", "plans.ddl.compact"),
)


def patch_layers(tracer: Tracer) -> Callable[[], None]:
    """Wrap every LAYER_FUNCTIONS entry, including the copies that plan
    modules bound with ``from ... import name``. Returns the undo."""
    undo: list[tuple[object, str, Callable]] = []
    for mod_name, fn_name, span_name in LAYER_FUNCTIONS:
        __import__(mod_name)
        original = getattr(sys.modules[mod_name], fn_name)
        wrapped = _wrap(tracer, span_name, original)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if not name.startswith("shortvideohybridanalyticslakehouse_spark"):
                continue
            if getattr(mod, fn_name, None) is original:
                undo.append((mod, fn_name, original))
                setattr(mod, fn_name, wrapped)

    def restore() -> None:
        for mod, fn_name, original in undo:
            setattr(mod, fn_name, original)

    return restore


class StatusStore:
    """Reads jobs, stages and cached-RDD storage from Spark's in-process
    status store, serialised JVM-side to JSON (one py4j call per object)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _json(self, obj) -> object:
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store reflects every job that has finished."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stage(self, stage_id: int) -> dict | None:
        try:
            return self._json(self._store.lastStageAttempt(stage_id))
        except Exception:  # py4j surfaces NoSuchElementException generically
            return None

    def cached_storage_mb(self) -> float:
        rdds = self._json(self._store.rddList(True))
        return sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / 1e6


ENGINE_FIELDS = {
    "engine.task_run_s": ("executorRunTime", 1e-3),
    "engine.task_cpu_s": ("executorCpuTime", 1e-9),
    "engine.gc_s": ("jvmGcTime", 1e-3),
    "engine.shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "engine.shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "engine.input_mb": ("inputBytes", 1e-6),
}


class JobLedger:
    """Hands out the jobs (with their stages) finished since the last call."""

    def __init__(self, store: StatusStore) -> None:
        self.store = store
        self.seen = {j["jobId"] for j in store.jobs()}

    def new_jobs(self) -> list[dict]:
        self.store.drain()
        fresh = [j for j in self.store.jobs() if j["jobId"] not in self.seen]
        fresh.sort(key=lambda j: j["jobId"])
        for j in fresh:
            self.seen.add(j["jobId"])
            j["stages"] = [
                st
                for sid in j["stageIds"]
                if (st := self.store.stage(sid)) and st["status"] != "SKIPPED"
            ]
        return fresh


def engine_layers(jobs: list[dict], wall_s: float) -> dict[str, tuple[float, str]]:
    """Stage metrics summed over the given jobs (a stage counted once),
    plus the share of ``wall_s`` x cores the tasks kept busy."""
    out = {k: 0.0 for k in ENGINE_FIELDS}
    out.update({"engine.stages": 0, "engine.tasks": 0, "engine.spill_mb": 0.0})
    seen: set[int] = set()
    for j in jobs:
        for st in j["stages"]:
            if st["stageId"] in seen:
                continue
            seen.add(st["stageId"])
            out["engine.stages"] += 1
            out["engine.tasks"] += st["numTasks"]
            for key, (field, scale) in ENGINE_FIELDS.items():
                out[key] += st[field] * scale
            out["engine.spill_mb"] += (
                st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            ) / 1e6
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    out["engine.core_busy_frac"] = out["engine.task_run_s"] / (wall_s * cores)
    return {k: (v, _unit(k)) for k, v in out.items()}


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "fraction"
    return "s" if name.endswith("_s") else "count"
