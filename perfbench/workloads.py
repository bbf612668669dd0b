"""The three benchmark workloads, driven only through the engine's public API.

A workload builds its seeded inputs in ``__init__`` (part of set-up) and then
hands out one operation at a time: ``op(i)`` returns an :class:`Op` whose
``call`` is the timed user action and whose ``check`` validates the result
against the generator's facts. Checks ride on the consumer's own action
(``DataFrame.observe`` on the noop write) or read values the call already
returned, so they add no Spark job of their own.

- ``qa_pipeline``: the config-driven M01-M10 chain on ~150k dirty ``orders``
  rows; plans, operators and Spark compute dominate.
- ``agent_session``: JSON-RPC ``tools/call`` requests on raw bytes against one
  tool server with a persisted session store, plus one background
  ``auto_heal`` per episode; per-call overhead dominates.
- ``llm_curation``: near-duplicate text clustering, exact kNN and semantic
  dedup on seeded corpora; the dedup and similarity kernels dominate.

``BENCHMARK.json`` lists agent_session and llm_curation: together they reach
every layer, and three workloads of steady length do not fit the time budget
of a full benchmark pass (each run pays a JVM start and a cold first op).
qa_pipeline is run by name, e.g. as direct evidence for a change to the
pipeline chain.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Any, Callable

import gen

NOOP = "noop"


@dataclass
class Op:
    kind: str
    call: Callable[[], Any]
    check: Callable[[Any], str | None]  # None when the output is right, else why not
    rows: int  # input rows the op reads
    response_bytes: Callable[[Any], int] = lambda out: 0


def noop_write(df) -> None:
    df.write.format(NOOP).mode("overwrite").save()


def observe_and_write(df, name: str, *exprs):
    """Consume ``df`` with a noop write and return the observed aggregates."""
    from pyspark.sql import Observation

    obs = Observation(name)
    noop_write(df.observe(obs, *exprs))
    return obs.get


class Workload:
    name = ""

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def close(self) -> None:
        """Wait for anything the workload left running."""


#: Warm-up variants are numbered from here, so they never repeat a timed one.
WARM_VARIANT = 1000


def _variants(work_dir: str, prefix: str, make, seed: int, count: int, small: bool, **sizes):
    """``count`` seeded variants written as parquet: [(path, facts)]."""
    first = WARM_VARIANT if small else 0
    os.makedirs(work_dir, exist_ok=True)
    out = []
    for v in range(first, first + count):
        table, facts = make(seed, v, **sizes)
        out.append((gen.write(table, os.path.join(work_dir, f"{prefix}_{v}.parquet")), facts))
    return out


# -- qa_pipeline ---------------------------------------------------------------

QA_MODULES = {
    "diagnostics": {"run": True},
    "validation": {"run": True, "config": {"validation": {"schema_validation": {"rules": {
        "expected_columns": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                             "o_orderdate", "o_orderpriority"],
        "categorical_values": {"o_orderstatus": ["O", "F", "P"]},
        "numeric_ranges": {"o_totalprice": {"min": 0}},
    }}}}},
    "normalization": {"run": True, "config": {"normalization": {"rules": {
        "standardize_text_columns": ["o_orderstatus", "o_orderpriority"],
        "parse_datetimes": {"o_orderdate": {"format": "%Y-%m-%d", "errors": "coerce"}},
    }}}},
    "duplicates": {"run": True, "config": {"duplicates": {"mode": "remove", "keep": "first"}}},
    "outlier_detection": {"run": True, "config": {"outlier_detection": {
        "detection_specs": {"o_totalprice": {"method": "iqr", "iqr_multiplier": 1.5}},
        "exclude_columns": ["o_orderkey", "o_custkey", "_row_id"],
    }}},
    "outlier_handling": {"run": True, "config": {"outlier_handling": {
        "handling_specs": {"o_totalprice": {"strategy": "clip"}},
    }}},
    "imputation": {"run": True, "config": {"imputation": {"rules": {"strategies": {
        "o_totalprice": "median", "o_custkey": "median",
    }}}}},
    "final_audit": {"run": True, "config": {"final_audit": {"certification": {"schema_validation": {
        "rules": {"disallowed_null_columns": ["o_orderkey", "o_custkey", "o_totalprice"]},
    }}}}},
}

QA_HISTORY = ["diagnostics", "validation", "normalization", "duplicates", "outliers",
              "outlier_handling", "imputation", "final_audit"]


class QaPipeline(Workload):
    name = "qa_pipeline"

    def __init__(self, spark, work_dir: str, seed: int, pool: int, small: bool = False):
        self.spark = spark
        self.inputs = _variants(work_dir, "orders", gen.orders_variant, seed, pool, small,
                                n=5_000 if small else 150_000)

    def op(self, i: int) -> Op:
        from pyspark.sql import functions as F

        from analyst_toolkit_spark.plans import config as C
        from analyst_toolkit_spark.plans.pipeline import run_pipeline

        path, facts = self.inputs[i % len(self.inputs)]
        master = {"run_id": f"qa{i}", "pipeline_entry_path": path, "modules": QA_MODULES}

        def call():
            run = run_pipeline(self.spark, C.pipeline_config(master))
            seen = observe_and_write(
                run.df, f"qa{i}", F.count(F.lit(1)).alias("rows"),
                *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in facts["imputed"]],
            )
            return run, seen

        def check(out) -> str | None:
            run, seen = out
            history = [(h["module"], h["status"]) for h in run.history]
            if history != [(m, "completed") for m in QA_HISTORY]:
                return f"history {history}"
            dups = next(h["summary"]["duplicate_count"] for h in run.history if h["module"] == "duplicates")
            if dups != facts["duplicates"]:
                return f"duplicate_count {dups} != {facts['duplicates']}"
            if seen["rows"] != facts["unique_rows"]:
                return f"rows {seen['rows']} != {facts['unique_rows']}"
            nulls = {c: seen[c] for c in facts["imputed"] if seen[c]}
            return f"nulls left in imputed columns {nulls}" if nulls else None

        return Op("pipeline", call, check, facts["rows"])


# -- agent_session -------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# (tool, arguments beyond session_id, which input rows the call reads)
EPISODE = [
    ("load_session", None, "rows"),
    ("auto_heal", None, "rows"),
    ("diagnostics", {}, "rows"),
    ("validation", {"validation": {"schema_validation": {"rules": {
        "categorical_values": {"c_mktsegment": _SEGMENTS},
        "numeric_ranges": {"c_acctbal": {"min": -1000}},
    }}}}, "rows"),
    ("normalization", {"normalization": {"rules": {"standardize_text_columns": ["c_mktsegment"]}}}, "rows"),
    ("duplicates", {"duplicates": {"mode": "remove"}}, "rows"),
    ("outlier_detection", {"outlier_detection": {
        "detection_specs": {"c_acctbal": {"method": "iqr"}},
        "exclude_columns": ["c_custkey", "c_nationkey"],
    }}, "unique_rows"),
    ("outlier_handling", {"outlier_handling": {"handling_specs": {"c_acctbal": {"strategy": "clip"}}}},
     "unique_rows"),
    ("imputation", {"imputation": {"rules": {"strategies": {
        "c_acctbal": "median", "c_mktsegment": "mode",
    }}}}, "unique_rows"),
    ("infer_configs", None, "unique_rows"),
    ("data_dictionary", None, "unique_rows"),
    ("data_health", None, None),
    ("run_history", None, None),
    ("final_audit", {"final_audit": {"certification": {"schema_validation": {
        "rules": {"disallowed_null_columns": ["c_custkey", "c_acctbal"]},
    }}}}, "unique_rows"),
    ("get_job_status", None, None),
]


class AgentSession(Workload):
    name = "agent_session"

    def __init__(self, spark, work_dir: str, seed: int, pool: int, small: bool = False):
        from analyst_toolkit_spark.server import RpcServer
        from analyst_toolkit_spark.tools import Toolkit

        self.inputs = _variants(work_dir, "customer", gen.customer_variant, seed, pool, small,
                                n=500 if small else 15_000)
        self.toolkit = Toolkit(
            spark,
            ledger_path=os.path.join(work_dir, "ledger.jsonl"),
            persist_dir=os.path.join(work_dir, "sessions"),
        )
        self.server = RpcServer(self.toolkit)
        self.job_id: str | None = None
        self.heal_jobs: list[dict] = []  # terminal job records, for queue/run times

    def _arguments(self, tool: str, config, episode: int, path: str) -> dict:
        sid = f"ep{episode}"
        if tool == "load_session":
            return {"session_id": sid, "input_path": path}
        if tool == "auto_heal":
            # heals the raw input file, not the session, so the background job
            # never writes the frame the foreground calls are working on
            return {"input_path": path, "async_mode": True, "run_id": f"heal{episode}"}
        if tool == "get_job_status":
            return {"job_id": self.job_id}
        if tool in ("data_health", "run_history"):
            return {}
        args: dict = {"session_id": sid}
        if config is not None:
            args["config"] = config
        return args

    def _wait_for_heal(self, timeout_s: float = 120.0) -> None:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            job = self.toolkit.jobs.get(self.job_id)
            if job and job["state"] in ("succeeded", "failed", "cancelled"):
                return
            time.sleep(0.02)

    def close(self) -> None:
        if self.job_id:
            self._wait_for_heal()

    def op(self, i: int) -> Op:
        episode, step = divmod(i, len(EPISODE))
        tool, config, rows_key = EPISODE[step]
        path, facts = self.inputs[episode % len(self.inputs)]
        if tool == "get_job_status":
            self._wait_for_heal()  # untimed: the client waits for the job, then asks
        raw = json.dumps({
            "jsonrpc": "2.0", "id": i, "method": "tools/call",
            "params": {"name": tool, "arguments": self._arguments(tool, config, episode, path)},
        }).encode()

        def call():
            resp = self.server.handle_json(raw)
            return resp, json.dumps(resp).encode()

        def check(out) -> str | None:
            resp, _ = out
            if "error" in resp:
                return f"{tool}: rpc error {resp['error'].get('message')}"
            result = resp["result"]
            if tool == "auto_heal":
                self.job_id = result.get("job_id")
                return None if result.get("status") == "accepted" else f"auto_heal {result.get('status')}"
            if tool == "data_health":  # its status is the health colour
                return None if "overall_score" in result else f"data_health {result}"
            if result.get("status") != "pass":
                return f"{tool}: status {result.get('status')}"
            if tool == "duplicates" and result["summary"]["duplicate_count"] != facts["duplicates"]:
                return f"duplicate_count {result['summary']['duplicate_count']} != {facts['duplicates']}"
            if tool == "get_job_status":
                self.heal_jobs.append(result["job"])
                if result["job"]["state"] != "succeeded":
                    return f"heal {result['job']['state']}: {result['job'].get('error')}"
            return None

        return Op(tool, call, check, facts[rows_key] if rows_key else 0, lambda out: len(out[1]))


# -- llm_curation --------------------------------------------------------------


class LlmCuration(Workload):
    name = "llm_curation"
    knn_k = 10

    def __init__(self, spark, work_dir: str, seed: int, pool: int, small: bool = False):
        self.spark = spark
        docs = {"n": 300, "n_copies": 15} if small else {"n": 5000, "n_copies": 250}
        embs = {"n": 300, "n_copies": 20} if small else {"n": 2000, "n_copies": 50}
        self.docs = _variants(work_dir, "documents", gen.documents_variant, seed, pool, small, **docs)
        self.embs = _variants(work_dir, "embeddings", gen.embeddings_variant, seed, pool, small, **embs)

    def op(self, i: int) -> Op:
        from pyspark.sql import functions as F

        from analyst_toolkit_spark.llm.dedup import near_dedup_components
        from analyst_toolkit_spark.llm.similarity import knn_join, semantic_dedup

        doc_path, doc_facts = self.docs[i % len(self.docs)]
        emb_path, emb_facts = self.embs[i % len(self.embs)]
        off, k = gen.COPY_OFFSET, self.knn_k

        def call():
            docs = self.spark.read.parquet(doc_path)
            emb = self.spark.read.parquet(emb_path)
            comps, _ = near_dedup_components(docs, key="text", id_col="doc_id", threshold=0.8)
            node, comp = F.col("node"), F.col("component")
            cc = observe_and_write(
                comps, f"cc{i}", F.count(F.lit(1)).alias("rows"),
                F.sum((node == comp).cast("long")).alias("originals"),
                F.sum((node - comp == off).cast("long")).alias("copies"),
            )
            queries = emb.filter(F.col("vec_id") >= off)
            knn = observe_and_write(
                knn_join(queries, emb, k=k), f"knn{i}", F.count(F.lit(1)).alias("rows"),
                F.sum((F.col("corpus_id") == F.col("query_id") - off).cast("long")).alias("hits"),
            )
            vid = F.col("vec_id")
            sem = observe_and_write(
                semantic_dedup(emb, dim=emb_facts["dim"], threshold=0.9), f"sem{i}",
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("is_rep").cast("long")).alias("reps"),
                F.sum((vid - comp == off).cast("long")).alias("merged"),
                F.sum(((comp != vid) & (vid - comp != off)).cast("long")).alias("wrong"),
            )
            return cc, knn, sem

        def check(out) -> str | None:
            cc, knn, sem = out
            pairs = doc_facts["near_dup_pairs"]
            if (cc["rows"], cc["originals"], cc["copies"]) != (2 * pairs, pairs, pairs):
                return f"near-dup components {cc} != {pairs} injected pairs"
            copies = emb_facts["copies"]
            if (knn["rows"], knn["hits"]) != (copies * k, copies):
                return f"knn {knn} != {copies} queries x k={k}"
            if sem["rows"] != emb_facts["rows"] or sem["wrong"] or sem["reps"] != sem["rows"] - sem["merged"]:
                return f"semantic_dedup {sem}"
            # hyperplane LSH recall is probabilistic; 8 planes miss a copy at
            # cosine 0.9999 well under 1% of the time
            if sem["merged"] < 0.9 * copies:
                return f"semantic_dedup merged {sem['merged']} of {copies} copies"
            return None

        # the embeddings file is scanned three times: kNN queries, kNN corpus
        # and semantic dedup
        return Op("curation", call, check, doc_facts["rows"] + 3 * emb_facts["rows"])


WORKLOADS = {w.name: w for w in (QaPipeline, AgentSession, LlmCuration)}
