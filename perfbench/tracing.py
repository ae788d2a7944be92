"""Spans around the calls into each ``pyld_spark`` module, plus Spark's
per-stage counters for the jobs each span ran.

A span records name, layer, start, end, parent and run id; spans are kept in
memory and summarised once the traced iteration ends. Every span sets its own
Spark job group, so each job is attributed to the innermost span that ran it;
its stages are read afterwards from the driver's ``AppStatusStore`` (works
with ``spark.ui.enabled=false``).

Tracing is installed by replacing a module's public functions with wrappers
(:func:`instrument`) and removed again by :func:`restore`. Callers that import
a function at call time (``Pipeline.run`` does) pick up the wrapper. A wrapped
function that returns a lazy ``DataFrame`` is forced inside its span with the
``noop`` sink, so the layer's work lands in its own span; the caller then
recomputes it, which is part of the reported tracing overhead.
"""

from __future__ import annotations

import functools
import importlib
import time
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

#: layer (module) -> (import path, traced public functions)
LAYERS = {
    "transcripts": ("pyld_spark.transcripts", ["assemble_documents"]),
    "linking": ("pyld_spark.operators.linking",
                ["extract_mentions", "link_entities", "entity_table"]),
    "expand_stage": ("pyld_spark.operators.expand_stage", ["docs_to_triples"]),
    "canonicalize": ("pyld_spark.operators.canonicalize",
                     ["first_degree_hashes", "canonical_labels", "canonicalize_triples"]),
    "nquads_io": ("pyld_spark.sources.nquads_io", ["write_nquads", "read_nquads"]),
    "fromrdf_stage": ("pyld_spark.operators.fromrdf_stage", ["triples_to_documents"]),
    "frame_stage": ("pyld_spark.operators.frame_stage", ["frame_corpus_stats"]),
    "kg_query": ("pyld_spark.operators.kg_query", ["bgp_match"]),
}
#: Pipeline methods traced as the ``pipeline`` layer
PIPELINE_METHODS = ["run", "run_incremental"]
SPARK_LAYERS = list(LAYERS) + ["pipeline"]
#: plan node names that run Python code on the executors
PYTHON_NODES = ("MapInArrow", "MapInPandas", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython")


def python_plan_nodes(df: DataFrame) -> int:
    """Python operators in ``df``'s optimized logical plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(line.lstrip(" :+-").startswith(PYTHON_NODES) for line in plan.splitlines())


class Tracer:
    def __init__(self, spark):
        self.spark, self.sc = spark, spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.plan_nodes: dict[str, int] = {}

    def span(self, layer: str, name: str):
        return _Span(self, layer, name)

    # -- summary --------------------------------------------------------------

    def plan_node_rows(self, span_name: str, node: str) -> tuple[int, int]:
        """(plan nodes named ``node``, their summed output rows) in the SQL
        executions that ran inside spans named ``span_name``, read from the
        SQL status store: what the program's own plan did, not a recount."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        tracker = self.sc.statusTracker()
        jobs = {j for s in self.spans if s["name"] == span_name
                for j in tracker.getJobIdsForGroup(s["group"])}
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        found = rows = 0
        for ex in conv.asJava(sql_store.executionsList()):
            if not jobs & set(conv.asJava(ex.jobs()).keySet()):
                continue
            values = conv.asJava(sql_store.executionMetrics(ex.executionId()))
            for n in conv.asJava(sql_store.planGraph(ex.executionId()).allNodes()):
                if n.name() != node:
                    continue
                found += 1
                for m in conv.asJava(n.metrics()):
                    if m.name() == "number of output rows":
                        rows += int((values.get(m.accumulatorId()) or "0").replace(",", ""))
        return found, rows

    def _stage_totals(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(("tasks", "failed_tasks", "busy_ms", "shuffle_write_bytes",
                             "shuffle_read_bytes", "spill_bytes"), 0)
        stage_ids = set()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage never ran
                continue
            out["tasks"] += s.numTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["busy_ms"] += s.executorRunTime()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def summary(self, cores: int) -> dict:
        """Per-layer self time and Spark counters, per-function span totals."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        layer_self: dict[str, float] = {}
        layer_ctr: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            key = f"{s['layer']}.{s['name']}_s"
            out[key] = out.get(key, 0.0) + dur
            own = dur - child_s.get(s["id"], 0.0)
            layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + own
            if s["layer"] in SPARK_LAYERS:
                tot = layer_ctr.setdefault(s["layer"], {})
                for k, v in self._stage_totals(s["group"]).items():
                    tot[k] = tot.get(k, 0) + v
        for layer in SPARK_LAYERS:
            self_s = layer_self.get(layer, 0.0)
            ctr = layer_ctr.get(layer, {})
            busy_s = ctr.get("busy_ms", 0) / 1000.0
            out[f"{layer}.self_s"] = self_s
            out[f"{layer}.tasks"] = ctr.get("tasks", 0)
            out[f"{layer}.failed_tasks"] = ctr.get("failed_tasks", 0)
            out[f"{layer}.busy_s"] = busy_s
            out[f"{layer}.busy_share"] = busy_s / (self_s * cores) if self_s > 0 else 0.0
            for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
                out[f"{layer}.{k}"] = ctr.get(k, 0)
        return out


class _Span:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.t = tracer
        self.rec = {"id": len(tracer.spans), "run": tracer.run_id, "layer": layer,
                    "name": name, "parent": None, "start": 0.0, "end": 0.0,
                    "group": f"perfbench-{tracer.run_id}-{len(tracer.spans)}"}
        tracer.spans.append(self.rec)

    def __enter__(self):
        stack = self.t._stack
        if stack:
            self.rec["parent"] = stack[-1]["id"]
        stack.append(self.rec)
        self.t.sc.setJobGroup(self.rec["group"], self.rec["name"])
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        stack = self.t._stack
        stack.pop()
        if stack:
            self.t.sc.setJobGroup(stack[-1]["group"], stack[-1]["name"])
        else:
            self.t.sc.setLocalProperty("spark.jobGroup.id", None)
            self.t.sc.setLocalProperty("spark.job.description", None)
        return False


def _wrap(tracer: Tracer, layer: str, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(layer, name):
            result = fn(*args, **kwargs)
            if isinstance(result, DataFrame):
                if layer == "expand_stage":
                    tracer.plan_nodes[name] = python_plan_nodes(result)
                result.write.format("noop").mode("overwrite").save()
        return result
    return traced


def instrument(tracer: Tracer) -> list:
    """Install span wrappers; returns what :func:`restore` needs."""
    from pyld_spark.plans.pipeline import Pipeline

    saved = []
    for layer, (mod_name, names) in LAYERS.items():
        mod = importlib.import_module(mod_name)
        for name in names:
            fn = getattr(mod, name)
            saved.append((mod, name, fn))
            setattr(mod, name, _wrap(tracer, layer, name, fn))
    for name in PIPELINE_METHODS:
        fn = getattr(Pipeline, name)
        saved.append((Pipeline, name, fn))

        def method(self, *args, _fn=fn, _name=name, **kwargs):
            with tracer.span("pipeline", _name):
                return _fn(self, *args, **kwargs)
        setattr(Pipeline, name, method)
    return saved


def restore(saved: list) -> None:
    for owner, name, fn in saved:
        setattr(owner, name, fn)
