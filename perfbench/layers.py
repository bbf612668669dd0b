"""Which engine functions the traced run wraps, and the per-layer metrics.

Layer -> the end-to-end figure it should move -> on which workload (and where
it should not show). op_cpu_s and rows_per_cpu_s are gated; the wall-clock
op_p50_s, op_tail_s and rows_per_s are printed beside them.

- spark      jobs, stages, tasks -> op_cpu_s, op_p50_s on agent_session (fixed
             per-job cost) and qa_pipeline; executor time, bytes, spill ->
             rows_per_cpu_s, rows_per_s on llm_curation and qa_pipeline
- plans      -> op_cpu_s, rows_per_cpu_s on qa_pipeline; small on
             agent_session; absent on llm_curation
- operators  -> op_cpu_s on qa_pipeline (large input) and agent_session (per
             call); absent on llm_curation
- ingest, sources, state, tools, server -> op_cpu_s, op_p50_s and op_tail_s
             on agent_session only
- jobs       -> op_tail_s on agent_session (the background heal shares the cores)
- llm        -> op_cpu_s, rows_per_cpu_s on llm_curation only

Every metric is a mean per traced op unless ``layer_metrics`` says otherwise;
a layer a workload does not reach reads zero. ``.jobs`` counts the Spark jobs
submitted while a span was open, so a job from a concurrent thread (the
pipeline's summary threads, the background heal's ungrouped jobs) can count
in more than one span.
"""

from __future__ import annotations

import importlib
import os
from dataclasses import dataclass, field

from spans import Recorder, dir_bytes, outermost, self_times

OPERATOR_MODULES = ("profile", "validation", "normalize", "duplicates", "outliers",
                    "impute", "final_audit", "dictionary", "infer")
LLM_FUNCTIONS = (("dedup", "minhash_dedup_pairs"), ("dedup", "near_dedup_components"),
                 ("dedup", "connected_components"), ("similarity", "knn_join"),
                 ("similarity", "semantic_dedup"))

SPARK_METRICS = (("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
                 ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
                 ("spark.slot_busy_frac", "ratio"), ("spark.input_bytes", "bytes"),
                 ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
                 ("spark.spill_bytes", "bytes"))


def _span_metrics(prefix: str, self_s: bool = True) -> list[tuple[str, str]]:
    out = [(f"{prefix}.s", "s")]
    if self_s:
        out.append((f"{prefix}.self_s", "s"))
    return out + [(f"{prefix}.jobs", "count")]


#: every per-layer metric, in output order, with its unit
METRICS: list[tuple[str, str]] = [
    *SPARK_METRICS,
    *_span_metrics("plans.run_pipeline"),
    ("plans.consume.s", "s"), ("plans.consume.jobs", "count"), ("plans.pipeline_config.s", "s"),
    *[m for mod in OPERATOR_MODULES for m in _span_metrics(f"operators.{mod}")],
    ("ingest.with_row_id.s", "s"), ("sources.load_any.s", "s"),
    ("state.save.s", "s"), ("state.save.bytes_written", "bytes"),
    ("state.get.s", "s"), ("state.get.restores", "count"),
    ("jobs.queue_wait_s", "s"), ("jobs.run_s", "s"),
    ("tools.call.s", "s"), ("tools.call.self_s", "s"), ("tools.ledger_bytes", "bytes"),
    ("server.handle.s", "s"), ("server.handle.self_s", "s"), ("server.json_safe.s", "s"),
    ("server.response_bytes", "bytes"),
    *[m for _, fn in LLM_FUNCTIONS for m in _span_metrics(f"llm.{fn}")],
    ("llm.consume.s", "s"), ("llm.consume.jobs", "count"),
    ("llm.candidate_pairs", "count"), ("llm.verified_pairs", "count"), ("llm.verify_yield", "ratio"),
    ("process.peak_rss_mb", "MB"),
    ("trace.overhead_s", "s"),
]


def install(rec: Recorder, consume_module) -> None:
    """Wrap the engine's layer boundaries. ``consume_module.noop_write`` is
    the benchmark's own consumer write (``consume`` spans)."""
    from analyst_toolkit_spark import ingest, jobs, server, state, tools
    from analyst_toolkit_spark.llm import dedup
    from analyst_toolkit_spark.plans import config, pipeline
    from analyst_toolkit_spark.sources import io

    rec.propagate_threads()
    for mod in OPERATOR_MODULES:
        rec.patch_module(importlib.import_module(f"analyst_toolkit_spark.operators.{mod}"), f"operators.{mod}")
    rec.patch_function(pipeline, "run_pipeline", "plans.run_pipeline")
    rec.patch_function(config, "pipeline_config", "plans.pipeline_config")
    rec.patch_function(consume_module, "noop_write", "consume")
    rec.patch_function(ingest, "with_row_id", "ingest.with_row_id")
    rec.patch_function(io, "load_any", "sources.load_any")

    def saved(_out, args, _kw):
        store, sid = args[0], args[1]
        if store.persist_dir:
            with open(os.path.join(store.persist_dir, f"{sid}.current"), encoding="utf-8") as fh:
                rec.count("state.save.bytes_written", dir_bytes(os.path.join(store.persist_dir, fh.read().strip())))

    rec.patch_method(state.SessionStore, "save", "state.save", after=saved)
    timed_get = rec.wrap(state.SessionStore.get, "state.get")

    def get(store, session_id):
        if session_id not in {s["session_id"] for s in store.list_sessions()}:
            rec.count("state.get.restores", 1)
        return timed_get(store, session_id)

    rec.replace(state.SessionStore, "get", get)

    spawn = jobs.spawn_job

    def spawn_job(store, job_id, *args, **kwargs):
        with rec.op(job_id):  # the worker thread and its spans belong to the job, not the caller
            return spawn(store, job_id, *args, **kwargs)

    rec.replace_everywhere(jobs, "spawn_job", spawn_job)

    call = tools.Toolkit.call

    def toolkit_call(toolkit, name, **kwargs):
        before = os.path.getsize(toolkit.ledger_path) if toolkit.ledger_path and os.path.exists(toolkit.ledger_path) else 0
        out = call(toolkit, name, **kwargs)
        if toolkit.ledger_path and os.path.exists(toolkit.ledger_path):
            rec.count("tools.ledger_bytes", os.path.getsize(toolkit.ledger_path) - before)
        return out

    rec.replace(tools.Toolkit, "call", rec.wrap(toolkit_call, "tools.call"))
    rec.patch_method(server.RpcServer, "handle", "server.handle")
    rec.patch_function(server, "json_safe", "server.json_safe")

    for mod_name, fn in LLM_FUNCTIONS:
        mod = importlib.import_module(f"analyst_toolkit_spark.llm.{mod_name}")
        after = None
        if fn == "minhash_dedup_pairs":
            after = _deferred_count(rec, "llm.verified_pairs")
        rec.patch_function(mod, fn, f"llm.{fn}", after=after)
    rec.patch_function(dedup, "minhash_candidates", "llm.minhash_candidates",
                       after=_deferred_count(rec, "llm.candidate_pairs"))


def _deferred_count(rec: Recorder, name: str):
    """Count a returned DataFrame's rows after the op's counters are read, so
    the extra Spark job lands in no op's window."""

    def after(df, _args, _kw):
        op_id = rec.context()[1]
        rec.deferred.append(lambda: rec.counts.__setitem__(
            (op_id, name), rec.counts.get((op_id, name), 0) + df.count()))

    return after


@dataclass
class OpTrace:
    op_id: int
    kind: str
    start: float  # perf_counter
    end: float
    jobs: list[dict] = field(default_factory=list)  # foreground jobs in the op window
    stages: dict = field(default_factory=dict)  # stage_totals() of those jobs
    response_bytes: int = 0


def layer_metrics(rec: Recorder, ops: list[OpTrace], heal_jobs: list[dict], cores: int,
                  epoch_offset: float, overhead_s: float, peak_rss_mb: float) -> dict[str, dict]:
    """Per-op means of every metric in :data:`METRICS` over the traced ops;
    ``jobs.*`` are means per background job and ``process.peak_rss_mb`` is
    the run's peak resident memory (driver Python plus JVM)."""
    n = max(len(ops), 1)
    fg = {o.op_id: o for o in ops}
    spans = [s for s in rec.spans if s["op"] in fg]
    selfs = self_times(spans)
    totals = {name: 0.0 for name, _ in METRICS}

    def jobs_in(span: dict) -> int:
        lo, hi = (span["start"] + epoch_offset) * 1e3, (span["end"] + epoch_offset) * 1e3
        return sum(1 for j in fg[span["op"]].jobs if j["submissionTime"] and lo <= j["submissionTime"] <= hi)

    def add_span(metric: str, name: str, kinds: tuple[str, ...] | None = None) -> None:
        group = [s for s in outermost(spans, name) if kinds is None or fg[s["op"]].kind in kinds]
        totals[f"{metric}.s"] += sum(s["end"] - s["start"] for s in group)
        if f"{metric}.self_s" in totals:
            totals[f"{metric}.self_s"] += sum(selfs[s["id"]] for s in spans if s["name"] == name)
        if f"{metric}.jobs" in totals:
            totals[f"{metric}.jobs"] += sum(jobs_in(s) for s in group)

    for o in ops:
        totals["spark.jobs"] += len(o.jobs)
        for key, value in o.stages.items():
            totals[f"spark.{key}"] += value
        totals["spark.slot_busy_frac"] += o.stages.get("executor_run_s", 0.0) / ((o.end - o.start) * cores)
        totals["server.response_bytes"] += o.response_bytes
    add_span("plans.run_pipeline", "plans.run_pipeline")
    add_span("plans.consume", "consume", kinds=("pipeline",))
    add_span("llm.consume", "consume", kinds=("curation",))
    add_span("plans.pipeline_config", "plans.pipeline_config")
    for mod in OPERATOR_MODULES:
        add_span(f"operators.{mod}", f"operators.{mod}")
    add_span("ingest.with_row_id", "ingest.with_row_id")
    add_span("sources.load_any", "sources.load_any")
    add_span("state.save", "state.save")
    add_span("state.get", "state.get")
    add_span("tools.call", "tools.call")
    add_span("server.handle", "server.handle")
    add_span("server.json_safe", "server.json_safe")
    for _, fn in LLM_FUNCTIONS:
        add_span(f"llm.{fn}", f"llm.{fn}")
    for (op_id, name), value in rec.counts.items():
        if op_id in fg and name in totals:
            totals[name] += value

    out = {name: totals[name] / n for name, _ in METRICS}
    out["llm.verify_yield"] = (totals["llm.verified_pairs"] / totals["llm.candidate_pairs"]
                               if totals["llm.candidate_pairs"] else 0.0)
    done = [j for j in heal_jobs if j.get("started_at") and j.get("finished_at")]
    if done:
        out["jobs.queue_wait_s"] = sum(j["started_at"] - j["created_at"] for j in done) / len(done)
        out["jobs.run_s"] = sum(j["finished_at"] - j["started_at"] for j in done) / len(done)
    out["trace.overhead_s"] = overhead_s
    out["process.peak_rss_mb"] = peak_rss_mb
    units = dict(METRICS)
    return {name: {"value": out[name], "unit": units[name]} for name, _ in METRICS}
