"""Spans, counters and the Spark-side probes of a traced run.

A span is (name, start, end, parent, op id); spans stay in memory and are
written once, when the run ends. With tracing off, ``Tracer.span`` is a
shared no-op context manager, so the timed loop pays one attribute lookup
per layer call.

The Spark probes read the JVM through py4j after each op:

- ``QueryListener``: a ``QueryExecutionListener`` that keeps every
  completed ``QueryExecution`` of the current op;
- ``plan_metrics``: Catalyst phase times from each execution's
  ``QueryPlanningTracker`` and operator-family SQL metrics from its
  executed plan, walked through adaptive query stages;
- ``job_counts``: jobs, stages and tasks of the op's job group, from the
  status tracker.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field

_NULL = contextlib.nullcontext()


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    _stack: list[int] = field(default_factory=list)
    op_id: int | None = None

    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[name] += value

    def self_times(self, op_only: bool = True) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by child
        spans. ``op_only`` keeps spans that belong to a timed op."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if op_only and s.op is None:
                continue
            out[s.name] += (s.end - s.start) - child[i]
        return dict(out)

    def dump(self, path: str, meta: dict, metrics: dict, ops: int) -> None:
        self_s = self.self_times(op_only=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "meta": meta,
                    "metrics": {k: v["value"] for k, v in metrics.items()},
                    "counters": dict(self.counters),
                    "self_s_per_op": {k: v / ops for k, v in self_s.items()},
                    "spans": [
                        [s.name, s.start, s.end, s.parent, s.op] for s in self.spans
                    ],
                },
                f,
            )


class QueryListener:
    """Keeps the ``QueryExecution`` of every action that completes."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.executions: list = []
        outer = self

        class _L:
            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

            def onSuccess(self, func_name, qe, duration_ns):
                outer.executions.append(qe)

            def onFailure(self, func_name, qe, exception):
                outer.executions.append(qe)

        self._handle = _L()
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self._handle)

    def drain(self) -> list:
        out, self.executions = self.executions, []
        return out

    def close(self) -> None:
        self._manager.unregister(self._handle)


_PHASES = ("analysis", "optimization", "planning")
_SCAN_NODES = ("FileSourceScanExec", "BatchScanExec")
_PYTHON_NODES = (
    "ArrowEvalPythonExec", "BatchEvalPythonExec", "MapInPandasExec",
    "MapInArrowExec", "FlatMapGroupsInPandasExec", "FlatMapCoGroupsInPandasExec",
    "AggregateInPandasExec", "WindowInPandasExec", "ArrowWindowPythonExec",
    "ArrowAggregatePythonExec", "PythonMapInArrowExec",
)


def _metric(node, name: str) -> float:
    opt = node.metrics().get(name)
    return float(opt.get().value()) if opt.isDefined() else 0.0


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "CommandResultExec":
        return [node.commandPhysicalPlan()]
    kids = node.children()
    out = [kids.apply(i) for i in range(kids.size())]
    subs = node.subqueries()
    out += [subs.apply(i) for i in range(subs.size())]
    return out


def phase_times(qe, out: dict[str, float]) -> None:
    """Add the Catalyst phase times one ``QueryExecution`` recorded."""
    phases = qe.tracker().phases()
    for p in _PHASES:
        opt = phases.get(p)
        if opt.isDefined():
            out[f"spark.{p}_s"] += opt.get().durationMs() / 1000.0


def plan_metrics(spark, qe, out: dict[str, float]) -> None:
    """Add one execution's phase times and SQL metrics into ``out``."""
    phase_times(qe, out)
    jvm = spark._jvm
    session = spark._jsparkSession
    cache_manager = session.sharedState().cacheManager()
    ident = jvm.java.lang.System.identityHashCode
    stack = [qe.executedPlan()]
    seen = set()
    while stack:
        node = stack.pop()
        key = ident(node)
        if key in seen:
            continue
        seen.add(key)
        cls = node.getClass().getSimpleName()
        if cls in _SCAN_NODES:
            out["exec.scan_bytes"] += _metric(node, "filesSize")
            out["exec.scan_files"] += _metric(node, "numFiles")
        elif cls == "ShuffleExchangeExec":
            out["exec.exchanges"] += 1
            out["exec.shuffle_bytes"] += _metric(node, "dataSize")
        elif cls == "BroadcastExchangeExec":
            out["exec.broadcasts"] += 1
        elif cls in _PYTHON_NODES:
            out["exec.python_rows"] += _metric(node, "pythonNumRowsReceived")
        elif cls == "InMemoryTableScanExec":
            out["storage.cache_scans"] += 1
            builder = node.relation().cacheBuilder()
            held = cache_manager.lookupCachedData(session, builder.logicalPlan())
            live = held.isDefined() and ident(
                held.get().cachedRepresentation().cacheBuilder()
            ) == ident(builder)
            if not live:
                out["storage.released_scans"] += 1
        out["exec.spill_bytes"] += _metric(node, "spillSize")
        stack.extend(_children(node))


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) run under ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            st = tracker.getStageInfo(s)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return len(jobs), stages, tasks


def storage_bytes(sc) -> int:
    """Bytes of RDD blocks held in memory and on disk right now."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def gc_seconds(jvm) -> float:
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def diff(a_path: str, b_path: str) -> list[tuple[str, float, float]]:
    """Layer-by-layer comparison of two traced records: every per-layer
    metric and every span name's self time per op, as (name, a, b)."""
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    rows = []
    for section in ("metrics", "self_s_per_op"):
        for k in sorted(set(a[section]) | set(b[section])):
            rows.append((f"{section}:{k}", a[section].get(k, 0.0), b[section].get(k, 0.0)))
    return rows


if __name__ == "__main__":
    import sys

    if len(sys.argv) != 3:
        sys.exit("usage: python3 perfbench/trace.py A.json B.json")
    print(f"{'layer':48s} {'A':>14s} {'B':>14s} {'B/A':>8s}")
    for name, va, vb in diff(sys.argv[1], sys.argv[2]):
        ratio = f"{vb / va:8.3f}" if va else "       -"
        print(f"{name:48s} {va:14.6g} {vb:14.6g} {ratio}")
