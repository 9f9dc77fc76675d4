"""Per-layer ledger read from Spark's own bookkeeping.

After an operation, the SQL status store
(``sharedState().statusStore()``) holds every SQL execution the
operation ran, with its plan graph and per-node metric values as
formatted strings; the application status store holds the jobs and
stages with their times. Both work with ``spark.ui.enabled=false``.
This module parses the strings, maps plan nodes onto layers named after
the engine's modules, and computes fixed overhead as the op's wall time
not covered by any stage's run interval.

Node metrics nest: a whole-stage-codegen pipeline's duration runs from
its first row to its last, so it includes the scan feeding it and any
Python UDF it waits on. The reconciliation therefore sums only the
outermost timed unit of each stage (a pipeline, or a Python operator
outside any pipeline) plus task-side commits, and compares that sum,
read from the plan, with the executor run time the stage records report.
"""

from __future__ import annotations

import re
import time

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3}
_NUM_UNIT = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)$")


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric value, in base units (ms, bytes,
    or a count). Accepts the per-task summary form
    ``"total (min, med, max (stageId: taskId))\\n432 ms (99 ms, ...)"``
    and plain values such as ``"1024.0 KiB"``, ``"6 ms"``, ``"1.2 s"``
    or ``"100,000"``."""
    text = text.strip()
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    elif text.startswith("(min"):
        # an average metric's summary carries no total; report the median
        text = text.split("\n", 1)[1].strip("()").split(",")[1]
    head = text.split(" (", 1)[0].strip()
    m = _NUM_UNIT.match(head)
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    if unit:
        raise ValueError(f"unknown metric unit {unit!r} in {text!r}")
    return value


# (node-name prefix, metric name) -> ledger key; values are summed.
_NODE_METRICS = {
    ("Scan", "scan time"): "scan.ms",
    ("Scan", "number of output rows"): "scan.rows",
    ("Scan", "size of files read"): "scan.bytes",
    ("WholeStageCodegen", "duration"): "codegen.pipeline_ms",
    ("Exchange", "shuffle write time"): "shuffle.write_ms",
    ("Exchange", "shuffle bytes written"): "shuffle.bytes",
    ("Exchange", "shuffle records written"): "shuffle.records",
    ("Exchange", "records read"): "shuffle.records_read",
    ("BroadcastExchange", "data size"): "broadcast.bytes",
    ("BroadcastExchange", "time to build"): "broadcast.build_ms",
    ("BroadcastExchange", "number of output rows"): "broadcast.rows",
    ("HashAggregate", "spill size"): "agg.spill_bytes",
    ("Sort", "spill size"): "agg.spill_bytes",
    ("HashAggregate", "peak memory"): "agg.peak_mem_bytes",
    ("Sort", "peak memory"): "agg.peak_mem_bytes",
    ("Execute InsertIntoHadoopFsRelationCommand", "task commit time"): "sink.task_commit_ms",
    ("Execute InsertIntoHadoopFsRelationCommand", "job commit time"): "sink.write_ms",
    ("Execute InsertIntoHadoopFsRelationCommand", "number of written files"): "sink.files",
    ("Execute InsertIntoHadoopFsRelationCommand", "written output"): "sink.bytes",
    ("Execute InsertIntoHadoopFsRelationCommand", "number of output rows"): "sink.rows",
    ("BroadcastHashJoin", "number of output rows"): "join.rows",
    ("SortMergeJoin", "number of output rows"): "join.rows",
    ("ShuffledHashJoin", "number of output rows"): "join.rows",
    ("BroadcastNestedLoopJoin", "number of output rows"): "join.rows",
}
# Python-boundary operators (Arrow UDFs, mapInPandas, cogroups, ...)
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
                 "FlatMapCoGroupsInPandas", "MapInArrow", "ArrowWindowPython",
                 "AggregateInPandas", "PythonMapInArrow")
_PYTHON_METRICS = {
    "time to run Python workers": "python.ms",
    "time to initialize Python workers": "python.init_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


# stage boundaries: the plan below one runs in other tasks (or jobs)
_BOUNDARIES = ("Exchange", "BroadcastExchange", "ReusedExchange", "Subquery", "ReusedSubquery")
_PIPELINE = "WholeStageCodegen"


def _node_key(name: str, metric: str) -> str | None:
    if name.startswith("FlatMapCoGroupsInPandas") and metric == "number of output rows":
        return "python.cogroup_rows"
    if name.startswith(_PYTHON_NODES):
        return _PYTHON_METRICS.get(metric)
    for (prefix, mname), key in _NODE_METRICS.items():
        if metric == mname and name.startswith(prefix):
            return key
    return None


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt(option):
    return option.get() if option.isDefined() else None


class Tracer:
    """Snapshots the status stores before an op and reads what it added."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc.statusStore()

    def mark(self) -> dict:
        execs = self._sql.executionsList()
        return {
            "exec": max((e.executionId() for e in _seq(execs)), default=-1),
            "job": max(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1),
            "t": time.time(),
        }

    def _settled(self, before: dict, after: dict, deadline: float) -> list:
        """Executions started between the marks, once all have completed
        (bounded wait: end events reach the store asynchronously)."""
        while True:
            self._sc.listenerBus().waitUntilEmpty()
            new = [e for e in _seq(self._sql.executionsList())
                   if before["exec"] < e.executionId() <= after["exec"]]
            if all(e.completionTime().isDefined() for e in new) or time.time() > deadline:
                return new
            time.sleep(0.02)

    def read(self, before: dict, after: dict) -> dict:
        """Ledger of everything that ran between two marks."""
        led: dict[str, float] = {"shuffle.double_read_exchanges": 0.0,
                                 "codegen.fallback_nodes": 0.0, "task.attributed_ms": 0.0}
        new = self._settled(before, after, time.time() + 3.0)
        for ex in new:
            metrics = self._sql.executionMetrics(ex.executionId())
            graph = self._sql.planGraph(ex.executionId())
            nodes = {}
            for node in _seq(graph.allNodes()):
                vals = {}
                for m in _seq(node.metrics()):
                    val = metrics.get(m.accumulatorId())
                    if val.isDefined():
                        vals[m.name()] = val.get()
                members = [n.id() for n in _seq(node.nodes())] \
                    if node.name().startswith(_PIPELINE) else []
                nodes[node.id()] = PlanNode(node.name(), vals, members)
            edges = [(e.fromId(), e.toId()) for e in _seq(graph.edges())]
            add_plan(led, nodes, edges)
        jobs = [j for j in self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
                if before["job"] < j <= after["job"]]
        intervals, stages, tasks, run_ms = [], 0, 0, 0.0
        for jid in jobs:
            for sid in _seq(self._app.job(jid).stageIds()):
                st = self._app.lastStageAttempt(sid)
                start, end = _opt(st.submissionTime()), _opt(st.completionTime())
                if start is None or end is None:
                    continue  # skipped: its output was reused
                stages += 1
                tasks += st.numTasks()
                run_ms += st.executorRunTime()
                intervals.append((start.getTime() / 1e3, end.getTime() / 1e3))
        wall = after["t"] - before["t"]
        covered = union_length(intervals, before["t"], after["t"])
        led.update({
            "overhead.jobs": float(len(jobs)),
            "overhead.stages": float(stages),
            "overhead.tasks": float(tasks),
            "overhead.s": wall - covered,
            "stages.covered_s": covered,
            "executor.run_ms": run_ms,
            "wall_s": wall,
            "sql.executions": float(len(new)),
        })
        return led


class PlanNode:
    """One plan-graph node: its name, its formatted metric values by
    metric name, and for a codegen pipeline the ids of its members."""

    def __init__(self, name: str, values: dict, members: list):
        self.name, self.values, self.members = name, values, members

    def metric(self, name: str) -> float:
        text = self.values.get(name)
        return parse_metric(text) if text is not None else 0.0


def add_plan(led: dict, nodes: dict, edges: list) -> None:
    """Add one SQL execution's plan graph to the ledger `led`: summed
    per-layer node metrics, the shuffle read ratio, codegen fallbacks,
    and the task time of each stage's outermost timed unit."""
    for node in nodes.values():
        seen = {}
        for mname in node.values:
            key = _node_key(node.name, mname)
            if key is not None:
                seen[key] = node.metric(mname)
                led[key] = led.get(key, 0.0) + seen[key]
        # an exchange read more often than written was read again
        # (a global sort's range sampler re-reads its child's output)
        written = seen.get("shuffle.records", 0)
        if written:
            ratio = seen.get("shuffle.records_read", 0) / written
            led["shuffle.read_ratio"] = max(led.get("shuffle.read_ratio", 0.0), ratio)
            led["shuffle.double_read_exchanges"] += ratio > 1
    parents: dict[int, list[int]] = {}
    for child, parent in edges:
        parents.setdefault(child, []).append(parent)
    pipeline_of = {m: nid for nid, n in nodes.items() for m in n.members}
    # timed units: codegen pipelines and Python operators (never codegen)
    units = {nid: n.metric("duration") for nid, n in nodes.items() if n.members}
    units.update({nid: n.metric("time to run Python workers") for nid, n in nodes.items()
                  if n.name.startswith(_PYTHON_NODES)})
    for nid, ms in units.items():
        node = nodes[nid]
        if node.members and _fell_back(node, nodes):
            led["codegen.fallback_nodes"] += 1
        if not _nested(nid, node.members or [nid], nodes, parents, pipeline_of, units):
            led["task.attributed_ms"] += ms
    led["task.attributed_ms"] += led.get("sink.task_commit_ms", 0.0)


def _fell_back(pipeline: PlanNode, nodes: dict) -> bool:
    """Whether a codegen pipeline fell back to interpreted execution (the
    64 KB method limit, or a compile error): several tasks reported
    metrics of its members, yet none reported the pipeline's duration.
    A summary value (``"total (min, med, max ...)"``) means at least two
    tasks reported; one task, or none, gives a plain value. A fallback in
    a single-task stage therefore goes unseen."""
    duration = pipeline.values.get("duration", "")
    if duration.startswith("total") or pipeline.metric("duration") != 0:
        return False
    return any(text.startswith("total") for m in pipeline.members if m in nodes
               for text in nodes[m].values.values())


def _nested(unit: int, members: list, nodes: dict, parents: dict, pipeline_of: dict,
            units: dict) -> bool:
    """Whether another timed unit of the same stage sits above `unit`."""
    stack = [p for m in members for p in parents.get(m, []) if pipeline_of.get(p) != unit]
    seen = set()
    while stack:
        nid = stack.pop()
        if nid in seen or nid not in nodes:
            continue
        seen.add(nid)
        if nodes[nid].name.startswith(_BOUNDARIES):
            continue
        if pipeline_of.get(nid, nid) in units:
            return True
        stack.extend(parents.get(nid, []))
    return False


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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
