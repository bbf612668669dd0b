"""Span recorder and Spark counters for the benchmark's traced run.

The recorder wraps the engine's public functions at their module attributes
(and every other module attribute that holds the same function object, so a
name re-imported elsewhere, such as ``tools.run_pipeline``, is wrapped too).
Each call becomes a span ``{id, name, start, end, parent, op, thread}`` kept in
memory. Threads started while a span is open inherit its span and op id, so
work that ``run_pipeline`` pushes onto its summary threads, or that a
background job runs, is still attributed. Spark counters come from the
driver's in-process status store, read through Spark's own JSON mapper.

The pure parts (self time, outermost totals) take plain span dicts and are
unit-tested without Spark.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable, Iterable

# -- pure span arithmetic ------------------------------------------------------


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval its direct
    children cover (children on other threads count where they overlap)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(children.get(s["id"], ()), s["start"], s["end"])
        for s in spans
    }


def outermost(spans: list[dict], name: str) -> list[dict]:
    """Spans called ``name`` with no ancestor of the same name, so nested
    calls inside one layer are not counted twice."""
    by_id = {s["id"]: s for s in spans}

    def nested(s: dict) -> bool:
        p = by_id.get(s["parent"])
        while p is not None:
            if p["name"] == name:
                return True
            p = by_id.get(p["parent"])
        return False

    return [s for s in spans if s["name"] == name and not nested(s)]


# -- recorder ------------------------------------------------------------------


class Recorder:
    """In-memory spans plus the patches that produce them."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[Any, str, Any]] = []
        self.deferred: list[Callable[[], None]] = []  # run after an op's counters are read
        self.counts: dict[tuple[Any, str], float] = {}  # (op id, counter) -> value

    # context: (open span id, op id) for the calling thread
    def context(self) -> tuple[int | None, Any]:
        return getattr(self._local, "ctx", (None, None))

    def _set(self, ctx: tuple[int | None, Any]) -> None:
        self._local.ctx = ctx

    @contextmanager
    def op(self, op_id: Any):
        prev = self.context()
        self._set((prev[0], op_id))
        try:
            yield
        finally:
            self._set(prev)

    @contextmanager
    def span(self, name: str):
        parent, op_id = self.context()
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": op_id, "thread": threading.get_ident()}
        self._set((sid, op_id))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._set((parent, op_id))
            self.spans.append(rec)

    def count(self, name: str, value: float) -> None:
        key = (self.context()[1], name)
        self.counts[key] = self.counts.get(key, 0) + value

    # -- patching --

    def replace(self, owner: Any, attr: str, new: Any) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def wrap(self, fn: Callable, name: str, after: Callable | None = None) -> Callable:
        """``fn`` inside a span; ``after(result, args, kwargs)`` runs once the
        span has closed, for counts that must not be timed."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out, args, kwargs)
            return out

        return traced

    def replace_everywhere(self, module: Any, attr: str, new: Callable) -> None:
        """Set ``module.attr`` and every loaded engine module attribute that
        holds the same function object to ``new``."""
        fn = getattr(module, attr)
        for mod in list(sys.modules.values()):
            if mod is module or getattr(mod, "__name__", "").startswith("analyst_toolkit_spark"):
                for key, val in list(vars(mod).items()):
                    if val is fn:
                        self.replace(mod, key, new)

    def patch_function(self, module: Any, attr: str, name: str, after: Callable | None = None) -> None:
        self.replace_everywhere(module, attr, self.wrap(getattr(module, attr), name, after))

    def patch_method(self, cls: type, attr: str, name: str, after: Callable | None = None) -> None:
        self.replace(cls, attr, self.wrap(cls.__dict__[attr], name, after))

    def patch_module(self, module: Any, name: str) -> None:
        """Every public function defined in ``module`` becomes a span ``name``."""
        for attr, val in list(vars(module).items()):
            if (callable(val) and not attr.startswith("_") and not isinstance(val, type)
                    and getattr(val, "__module__", None) == module.__name__):
                self.patch_function(module, attr, name)

    def propagate_threads(self) -> None:
        """Threads started inside a span run in that span's context."""
        recorder, start = self, threading.Thread.start

        def traced_start(thread: threading.Thread) -> None:
            ctx, run = recorder.context(), thread.run

            def run_in_ctx() -> None:
                recorder._set(ctx)
                run()

            thread.run = run_in_ctx
            start(thread)

        self.replace(threading.Thread, "start", traced_start)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def write(self, path: str, epoch_offset: float) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "start_epoch": s["start"] + epoch_offset,
                                     "end_epoch": s["end"] + epoch_offset}, default=str) + "\n")


# -- Spark status store ----------------------------------------------------------


class SparkCounters:
    """Jobs and stage metrics from the driver's status store. The store is
    private API, so every read falls back to ``statusTracker`` job counts."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.sc = sc
        try:
            jvm = sc._jvm
            scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            self.mapper.registerModule(scala_module.__getattr__("MODULE$"))
            self.store = sc._jsc.sc().statusStore()
            self.bus = sc._jsc.sc().listenerBus()
        except Exception:  # noqa: BLE001 - any py4j failure means no store
            self.store = None
        self.last_job = self._max_job_id()

    def _max_job_id(self) -> int:
        if self.store is not None:
            jobs = self.store.jobsList(None)  # newest first, grouped jobs included
            return jobs.head().jobId() if jobs.nonEmpty() else -1
        ids = self.sc.statusTracker().getJobIdsForGroup(None)  # ungrouped jobs only
        return max(ids) if ids else -1

    def drain(self) -> None:
        if self.store is not None:
            self.bus.waitUntilEmpty(10_000)

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call, oldest first."""
        self.drain()
        first, top = self.last_job + 1, self._max_job_id()
        self.last_job = max(top, self.last_job)
        if top < first:
            return []
        if self.store is None:
            return [{"jobId": j, "jobGroup": None, "submissionTime": None, "stageIds": []}
                    for j in range(first, top + 1)]
        jobs = json.loads(self.mapper.writeValueAsString(self.store.jobsList(None).take(top - first + 1)))
        return sorted((j for j in jobs if j["jobId"] >= first), key=lambda j: j["jobId"])

    def stages(self, jobs: list[dict]) -> list[dict]:
        out = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            try:
                out.append(json.loads(self.mapper.writeValueAsString(self.store.lastStageAttempt(sid))))
            except Exception:  # noqa: BLE001 - a stage evicted from the store
                continue
        return [s for s in out if s["status"] != "SKIPPED"]


def stage_totals(stages: list[dict]) -> dict[str, float]:
    return {
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] for s in stages),
        "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "input_bytes": sum(s["inputBytes"] for s in stages),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
    }


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)
