"""Per-layer tracing for the benchmark's traced run.

Everything here lives outside the engine: spans are recorded by
wrapping the public functions of the engine's modules at run time, and
Spark-side counts come from the driver's status tracker, a
``QueryExecutionListener`` and a ``StreamingQueryListener``.

- A span records its name, layer, start, end, parent span, query and
  pass.  Spans stay in memory until the run ends.  A span's self time is
  its duration minus the time its child spans cover.
- Each span runs its Spark jobs under a job group of its own (set when
  the span starts, restored when it ends), so every job launched on the
  calling thread belongs to exactly one span.  Micro-batch jobs run on
  the stream's own thread under the stream's run id; jobs with no group
  at all are counted as ungrouped.
- Operator counts come from walking the executed plan of every query
  execution the listener reports, descending into AQE query stages.
  Catalyst planning time is the optimizer and planner phases of the
  timed action's own execution, from its planning tracker.
- Wrappers and listeners stay installed for the rest of the run and do
  nothing while ``enabled`` is off, so untraced passes can run between
  traced ones.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import statistics
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "nyc_taxi_data_prediction_pyspark_spark"

# layer -> modules whose public functions (and public methods of the
# classes they define) open a span of that layer; a (module, names)
# entry restricts the module to those names.
LAYER_MODULES: dict[str, list] = {
    "catalog": ["catalog"],
    "py": ["functions.udafs", "functions.udtfs", "ml.embeddings", "operators.multimodal"],
    "iter": [
        "operators.graph",
        "operators.clustering",
        "operators.mining",
        ("operators.dedup", {"connected_components", "coverage_greedy_selection"}),
    ],
    "text": ["operators.text", "operators.similarity", ("operators.dedup", "_pairs")],
    "stream": ["streaming.pipeline", "streaming.stateful"],
    "warehouse": ["sources.warehouse", "operators.merge", "operators.ivm"],
}
# span layers opened by the runner itself around each query
RUNNER_LAYERS = ("build", "exec")
# the name a QueryExecutionListener gets for the timed df.write.mode("overwrite") action
ACTION_NAME = "overwrite"

_JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    query: str | None
    pass_no: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        # children run one after another on the span's own thread
        return self.dur - sum(c.dur for c in self.children)

    def record(self, t0: float) -> list:
        """[id, name, layer, parent, query, pass, start, end], times relative to t0."""
        return [self.id, self.name, self.layer, self.parent, self.query, self.pass_no,
                round(self.start - t0, 6), round(self.end - t0, 6)]


class Tracer:
    """Span recorder bound to one SparkContext; spans on threads other
    than the one that created the tracer are not recorded."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._thread = threading.get_ident()
        self.query: str | None = None
        self.pass_no: int | None = None
        self.enabled = True

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans),
            name=name,
            layer=layer,
            parent=parent.id if parent else None,
            query=self.query,
            pass_no=self.pass_no,
            group=f"perfbench-span-{len(self.spans)}",
        )
        self.spans.append(sp)
        if parent:
            parent.children.append(sp)
        self._stack.append(sp)
        prev = self.sc.getLocalProperty(_JOB_GROUP)
        self.sc.setLocalProperty(_JOB_GROUP, sp.group)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.sc.setLocalProperty(_JOB_GROUP, prev)
            self._stack.pop()

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled or threading.get_ident() != tracer._thread:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        traced.__perfbench_original__ = fn
        return traced

    def install(self) -> int:
        """Wrap every traced module function and rebind each by-name
        import of one (``__spark_entry__`` binds ``load`` by name).
        Returns the number of functions wrapped."""
        originals: dict[int, object] = {}
        for layer, entries in LAYER_MODULES.items():
            for entry in entries:
                modname, keep = entry if isinstance(entry, tuple) else (entry, None)
                mod = importlib.import_module(f"{PKG}.{modname}")
                for attr, obj in list(vars(mod).items()):
                    if not _selected(attr, keep) or getattr(obj, "__module__", None) != mod.__name__:
                        continue
                    if inspect.isclass(obj):
                        for mname, meth in list(vars(obj).items()):
                            if not mname.startswith("_") and inspect.isfunction(meth):
                                setattr(obj, mname, self.wrap(meth, f"{attr}.{mname}", layer))
                    elif inspect.isfunction(obj) and not hasattr(obj, "evalType"):
                        wrapped = self.wrap(obj, f"{modname}.{attr}", layer)
                        originals[id(obj)] = wrapped
                        setattr(mod, attr, wrapped)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == "__spark_entry__" or modname.startswith(PKG)):
                continue
            for attr, obj in list(vars(mod).items()):
                wrapped = originals.get(id(obj))
                if wrapped is not None and getattr(wrapped, "__perfbench_original__", None) is obj:
                    setattr(mod, attr, wrapped)
        return len(originals)


def _selected(attr: str, keep) -> bool:
    if attr.startswith("_"):
        return False
    if keep is None:
        return True
    if isinstance(keep, str):
        return attr.endswith(keep)
    return attr in keep


class ExecutionListener:
    """py4j implementation of Spark's QueryExecutionListener: keeps every
    reported (function name, QueryExecution) until the runner collects it."""

    def __init__(self):
        self.events: list = []
        self.enabled = True
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        if self.enabled:
            with self._lock:
                self.events.append((func_name, qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java interface)
        if self.enabled:
            with self._lock:
                self.events.append((func_name, qe))

    def take(self) -> list:
        with self._lock:
            out, self.events = self.events, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def make_stream_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamListener(StreamingQueryListener):
        """Collects micro-batch progress and the run id of every stream."""

        def __init__(self):
            self.run_ids: list[str] = []
            self.progress: list = []
            self.enabled = True
            self._lock = threading.Lock()

        def onQueryStarted(self, event):  # noqa: N802
            if self.enabled:
                with self._lock:
                    self.run_ids.append(str(event.runId))

        def onQueryProgress(self, event):  # noqa: N802
            if self.enabled:
                with self._lock:
                    self.progress.append(event.progress)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

        def take(self) -> tuple[list[str], list]:
            with self._lock:
                out = (self.run_ids, self.progress)
                self.run_ids, self.progress = [], []
            return out

    return StreamListener()


# ---------------------------------------------------------------- plan walk


def planning_seconds(qe) -> float:
    """Optimizer plus physical-planning time of one QueryExecution, from
    its QueryPlanningTracker (millisecond resolution)."""
    phases = qe.tracker().phases()
    return sum(
        phases.get(k).get().durationMs() for k in ("optimization", "planning") if phases.contains(k)
    ) / 1000.0


_PLAN_KEYS = (
    "numOutputRows",
    "shuffleBytesWritten",
    "shuffleRecordsWritten",
    "spillSize",
    "numFiles",
    "numOutputBytes",
    "filesSize",
    "pythonDataSent",
    "pythonDataReceived",
    "pythonNumRowsReceived",
)


def _is_python_node(cls: str) -> bool:
    return "Python" in cls or "Pandas" in cls or "InArrow" in cls


def walk_plan(plan, acc: Counter, top: list) -> None:
    """Add one executed plan's operator counts to ``acc``; the first
    ``numOutputRows`` met in pre-order is appended to ``top``."""
    cls = plan.getClass().getSimpleName()
    if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
        return  # counted where the reused plan ran
    metrics = plan.metrics()
    keys = set(str(metrics.keys().mkString("\x1f")).split("\x1f")) & set(_PLAN_KEYS)
    vals = {k: int(metrics.apply(k).value()) for k in keys}
    if "numOutputRows" in vals and not top:
        top.append(vals["numOutputRows"])
    if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
        acc["exchanges"] += 1
    elif cls == "SortMergeJoinExec":
        acc["smj"] += 1
    elif cls == "BroadcastHashJoinExec":
        acc["bhj"] += 1
    elif cls == "BroadcastNestedLoopJoinExec":
        acc["bnlj"] += 1
    if "Scan" in cls and "numOutputRows" in vals:
        acc["scan_rows"] += vals["numOutputRows"]
    if _is_python_node(cls) and cls.endswith("Exec"):
        acc["py_nodes"] += 1
        acc["py_rows"] += vals.get("pythonNumRowsReceived", 0)
        acc["py_bytes"] += vals.get("pythonDataSent", 0) + vals.get("pythonDataReceived", 0)
    acc["shuffle_bytes"] += vals.get("shuffleBytesWritten", 0)
    acc["shuffle_records"] += vals.get("shuffleRecordsWritten", 0)
    acc["spill_bytes"] += vals.get("spillSize", 0)
    acc["write_files"] += vals.get("numFiles", 0)
    acc["write_bytes"] += vals.get("numOutputBytes", 0)
    acc["input_bytes"] += vals.get("filesSize", 0)
    if cls == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [plan.plan()]
    else:
        ch = plan.children()
        kids = [ch.apply(i) for i in range(ch.size())]
        subs = plan.subqueries()
        kids += [subs.apply(i) for i in range(subs.size())]
    for k in kids:
        walk_plan(k, acc, top)


# ---------------------------------------------------------------- job ledger


class JobLedger:
    """Spark-side counters read through the driver's status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()

    def total_jobs(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    def settle(self) -> None:
        """Wait until every listener has seen every event posted so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def ungrouped(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def stage_counts(self, job_ids) -> Counter:
        out: Counter = Counter()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self.tracker.getStageInfo(s)
                if st is None or (st.numCompletedTasks == 0 and st.numFailedTasks == 0):
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompletedTasks + st.numFailedTasks
                out["failed_tasks"] += st.numFailedTasks
        return out


def jvm_gc_seconds(jvm) -> float:
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1000.0


def jvm_heap_pools(jvm) -> list:
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    heap = jvm.java.lang.management.MemoryType.HEAP
    return [pools.get(i) for i in range(pools.size()) if pools.get(i).getType() == heap]


def stream_numbers(progress: list) -> dict:
    """Micro-batch counts from StreamingQueryProgress objects."""
    out = Counter()
    trig = []
    last_state: dict = {}
    for p in progress:
        d = p.durationMs or {}
        if p.numInputRows is None:
            continue
        out["batches"] += 1
        out["input_rows"] += p.numInputRows
        out["add_batch_ms"] += d.get("addBatch", 0)
        out["commit_ms"] += d.get("commitOffsets", 0) + d.get("walCommit", 0)
        trig.append(d.get("triggerExecution", 0))
        for i, s in enumerate(p.stateOperators or []):
            out["state_commit_ms"] += s.commitTimeMs or 0
            last_state[(str(p.runId), i)] = (s.numRowsTotal or 0, s.memoryUsedBytes or 0)
    out["state_rows"] = sum(r for r, _ in last_state.values())
    out["state_bytes"] = sum(b for _, b in last_state.values())
    out["batch_p50_ms"] = statistics.median(trig) if trig else 0.0
    return out
