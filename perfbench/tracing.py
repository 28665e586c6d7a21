"""Tracing for the benchmark's traced run: spans, job groups, SQL node metrics.

Everything here observes the program from outside:

- ``Tracer.install`` wraps the public functions of each layer module (and the
  ``Pipeline``/``PipelineDAG``/``ConfigLoader`` entry methods) so that every
  call -- and, for factories, every call of the closure they return -- runs
  inside a span.  ``uninstall`` puts the originals back.
- A span is (name, start, end, parent, iteration).  Each span runs its calls
  under its own Spark job group, so the jobs, stages and tasks a call
  launched are read back from the status tracker when the span closes.
- After each traced iteration the SQL executions it ran are read from the
  session's SQL status store; each plan node's metrics are folded into the
  layer that built the node (see ``node_layer``).

Spans are kept in memory and written once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import re
import time
from collections import defaultdict

# Public entry points wrapped in a traced run: (module, attribute, layer).
# Factories return a closure that is wrapped too, so the time a source,
# transform or sink spends when the pipeline finally calls it is attributed
# to its own layer.
FACTORY_MODULES = {
    "mini_etl_spark.sources": "sources",
    "mini_etl_spark.operators": "operators",
    "mini_etl_spark.sinks": "sinks",
}
CALLS = [
    ("mini_etl_spark.functions.corpus", "clean_corpus", "functions"),
    ("mini_etl_spark.functions.corpus", "semantic_dedup", "functions"),
]
METHODS = [
    ("mini_etl_spark.config", "ConfigLoader", "load", "config"),
    ("mini_etl_spark.config", "ConfigLoader", "build_pipeline", "config"),
    ("mini_etl_spark.pipeline", "Pipeline", "run", "pipeline"),
    ("mini_etl_spark.dag", "PipelineDAG", "build", "dag"),
    ("mini_etl_spark.dag", "PipelineDAG", "run", "dag"),
]

_FILE_SCAN = re.compile(r"^Scan (csv|parquet|json|orc|text|binaryFile)\b", re.I)
_PYTHON_NODE = re.compile(r"(EvalPython|InPandas|InArrow|PythonUDF)", re.I)
_WRITE_NODE = re.compile(r"(WriteFiles|InsertIntoHadoopFsRelation|Execute .*Command)")


def node_layer(name: str, transform_layer: str) -> str:
    """Module that built a physical plan node, judged by the node's kind.

    File scans come from ``sources`` and file writes from ``sinks``; Python
    evaluation nodes exist only through ``functions``.  Every other node --
    exchange, aggregate, join, sort, project, cached-relation scan -- was built
    by the calls that shaped the frame between read and write, which in each
    workload of this benchmark is a single module (``transform_layer``).
    """
    if _FILE_SCAN.search(name):
        return "sources"
    if _WRITE_NODE.search(name):
        return "sinks"
    if _PYTHON_NODE.search(name):
        return "functions"
    return transform_layer


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric string as bytes, seconds or a count.

    The status store keeps display strings: ``"1,234"`` for a sum, or
    ``"total (min, med, max ...)\\n12.5 MiB (...)"`` for size and timing
    metrics, whose total is the first value on the second line.
    """
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "iteration", "group",
                 "jobs", "stages", "tasks", "failed_tasks", "count_s")

    def __init__(self, name, layer, parent, iteration, group):
        self.name, self.layer, self.parent = name, layer, parent
        self.iteration, self.group = iteration, group
        self.start = time.perf_counter()
        self.end = None
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0
        self.count_s = 0.0  # tracer's own time reading job info after the span

    def as_dict(self, t0: float) -> dict:
        return {
            "name": self.name, "layer": self.layer, "parent": self.parent,
            "iteration": self.iteration, "start": self.start - t0,
            "end": self.end - t0, "jobs": self.jobs, "stages": self.stages,
            "tasks": self.tasks, "failed_tasks": self.failed_tasks,
            "count_s": self.count_s,
        }


class NullTracer:
    """Tracer stand-in for untraced runs: spans cost nothing."""

    active = False

    def span(self, name: str, layer: str):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self, spark, transform_layer: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.transform_layer = transform_layer
        self.t0 = time.perf_counter()
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.iteration = -1
        self.active = False
        self.sql = defaultdict(float)  # (iteration, "layer|SQL metric name") -> total
        self.counts = defaultdict(float)  # (iteration, metric) -> value
        self.sql_nodes = defaultdict(int)  # node name -> count, for the report
        self._patches: list[tuple[object, str, object]] = []
        self._next_execution = self._sql_store_size()

    # -- spans ----------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        group = f"perfbench-{idx}"
        parent = self.stack[-1] if self.stack else None
        s = Span(name, layer, parent, self.iteration, group)
        self.spans.append(s)
        self.stack.append(idx)
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if self.stack:
                outer = self.spans[self.stack[-1]]
                self.sc.setJobGroup(outer.group, outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count_jobs(s)
            s.count_s = time.perf_counter() - s.end

    def _drain_listeners(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _count_jobs(self, s: Span) -> None:
        self._drain_listeners()
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(s.group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            s.jobs += 1
            for stage_id in info.stageIds:
                st = tracker.getStageInfo(stage_id)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped stage: its shuffle output was reused
                s.stages += 1
                s.tasks += st.numCompletedTasks + st.numFailedTasks
                s.failed_tasks += st.numFailedTasks

    # -- iterations -----------------------------------------------------------
    @contextlib.contextmanager
    def iteration_scope(self, iteration: int, traced: bool):
        self.iteration = iteration
        if traced:
            self.install()
        self.active = traced
        try:
            with self.span("iteration", "bench"):
                yield
        finally:
            self.active = False
            if traced:
                self.uninstall()
            self._fold_sql(iteration if traced else None)

    # -- SQL status store -----------------------------------------------------
    def _store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _sql_store_size(self) -> int:
        return int(self._store().executionsCount())

    def _fold_sql(self, iteration: int | None) -> None:
        """Fold every SQL execution that finished since the last call."""
        self._drain_listeners()
        store = self._store()
        while True:
            opt = store.execution(self._next_execution)
            if opt.isEmpty():
                break
            eid = self._next_execution
            self._next_execution += 1
            if iteration is None:
                continue
            values = {}
            entries = store.executionMetrics(eid).toSeq()
            for i in range(entries.size()):
                kv = entries.apply(i)
                values[int(kv._1())] = kv._2()
            nodes = store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                if name.startswith("WholeStageCodegen"):
                    continue
                self.sql_nodes[name.split(" (")[0]] += 1
                layer = node_layer(name, self.transform_layer)
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    text = values.get(int(m.accumulatorId()))
                    if text is not None:
                        self.sql[(iteration, f"{layer}|{m.name()}")] += parse_metric(text)

    # -- wrapping the program's entry points ----------------------------------
    def _wrap_call(self, fn, name: str, layer: str, on_result=None):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        traced.__wrapped__ = fn
        return traced

    def _wrap_factory(self, fn, name: str, layer: str):
        tracer = self

        def traced_factory(*args, **kwargs):
            with tracer.span(name, layer):
                result = fn(*args, **kwargs)
            if callable(result) and not isinstance(result, type):
                return tracer._wrap_call(result, f"{name}.call", layer)
            return result

        traced_factory.__wrapped__ = fn
        return traced_factory

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        import importlib

        for modname, layer in FACTORY_MODULES.items():
            mod = importlib.import_module(modname)
            for attr in mod.__all__:
                fn = getattr(mod, attr)
                if callable(fn) and not isinstance(fn, type):
                    self._patch(mod, attr, self._wrap_factory(fn, f"{layer}.{attr}", layer))
        for modname, attr, layer in CALLS:
            mod = importlib.import_module(modname)
            self._patch(mod, attr, self._wrap_call(getattr(mod, attr), f"{layer}.{attr}", layer))
        for modname, cls_name, attr, layer in METHODS:
            cls = getattr(importlib.import_module(modname), cls_name)
            hook = self._count_persisted if (cls_name, attr) == ("PipelineDAG", "build") else None
            self._patch(cls, attr, self._wrap_call(getattr(cls, attr), f"{layer}.{attr}", layer, hook))

    def _count_persisted(self, outputs: dict) -> None:
        """``PipelineDAG.build`` returns every node's frame; count the persisted ones."""
        frames = {id(df): df for df in outputs.values()}
        self.counts[(self.iteration, "dag.persisted_nodes")] += sum(
            1 for df in frames.values() if df.is_cached)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def dump(self) -> list[dict]:
        return [s.as_dict(self.t0) for s in self.spans]
