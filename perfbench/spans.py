"""Spans for the traced run, and the Spark SQL executions under them.

A :class:`Tracer` keeps spans in memory (name, start, end, parent,
counts) and writes them out once, when the run ends.  The benchmark
opens spans around its own calls into the program; under each such
call :meth:`Tracer.add_executions` adds one child span per Spark SQL
execution, read back from the session's SQL status store (which works
with ``spark.ui.enabled=false``).  Each execution span carries its plan
nodes' SQL metrics as counts.

Times are ``time.perf_counter`` seconds.  Execution times come from the
JVM as epoch milliseconds and are moved onto that clock, then clipped to
their parent span.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4,
}
_VALUE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)(?: (KiB|MiB|GiB|TiB|ms|B|s|m|h))?")
_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


@dataclass
class Metric:
    """One SQL metric as the status store prints it, parsed.

    ``total`` is in seconds for timings, bytes for sizes, else a count.
    ``min``/``med``/``max`` are per-task values; Spark prints them only
    when more than one task reported, otherwise all three equal the
    total.  ``stage`` is the stage of the task that took the maximum, or
    None when Spark did not print it.
    """

    total: float
    min: float
    med: float
    max: float
    stage: int | None

    @classmethod
    def parse(cls, raw: str) -> "Metric":
        body = raw.split("\n", 1)[-1]
        values = [float(n.replace(",", "")) * _UNITS.get(u, 1.0)
                  for n, u in _VALUE.findall(body)]
        stage = _STAGE.search(body)
        if len(values) >= 4:
            return cls(values[0], values[1], values[2], values[3],
                       int(stage.group(1)) if stage else None)
        total = values[0] if values else 0.0
        return cls(total, total, total, total, None)


@dataclass
class Node:
    id: int
    name: str
    desc: str
    metrics: dict[str, Metric]

    def total(self, metric: str) -> float:
        m = self.metrics.get(metric)
        return m.total if m else 0.0


@dataclass
class Execution:
    id: int
    root_id: int
    start_unix: float
    end_unix: float
    jobs: list[int]
    nodes: list[Node]
    edges: list[tuple[int, int]]

    def find(self, name: str) -> list[Node]:
        return [n for n in self.nodes if n.name.strip() == name]

    def neighbours(self, node: Node) -> list[Node]:
        ids = {a if b == node.id else b for a, b in self.edges if node.id in (a, b)}
        return [n for n in self.nodes if n.id in ids]


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    counts: dict = field(default_factory=dict)


class SqlStatus:
    """Read finished SQL executions and Spark jobs of one session."""

    def __init__(self, spark, timeout_s: float = 30.0):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._tracker = spark.sparkContext.statusTracker()
        self._timeout_s = timeout_s

    def mark(self) -> tuple[int, set[int]]:
        return self._store.executionsCount(), set(self._tracker.getJobIdsForGroup(None))

    def jobs_since(self, mark: tuple[int, set[int]]) -> list[int]:
        return sorted(set(self._tracker.getJobIdsForGroup(None)) - mark[1])

    def completed_tasks(self, job_ids: list[int]) -> int:
        n = 0
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                stage = self._tracker.getStageInfo(s)
                n += stage.numCompletedTasks if stage else 0
        return n

    def stage_tasks(self, stage_id: int) -> int:
        stage = self._tracker.getStageInfo(stage_id)
        return stage.numTasks if stage else 0

    def executions_since(self, mark: tuple[int, set[int]]) -> list[Execution]:
        """Executions started after ``mark``, once the listener has
        recorded their end (it runs asynchronously to the action)."""
        deadline = time.monotonic() + self._timeout_s
        while True:
            count = self._store.executionsCount()
            rows = self._store.executionsList(mark[0], count - mark[0])
            datas = [rows.apply(i) for i in range(rows.size())]
            if all(d.completionTime().isDefined() for d in datas):
                break
            if time.monotonic() > deadline:
                raise TimeoutError("SQL executions did not finish in the status store")
            time.sleep(0.05)
        return [self._execution(d) for d in datas]

    def _execution(self, data) -> Execution:
        eid = data.executionId()
        values = self._store.executionMetrics(eid)
        nodes = []
        graph = self._store.planGraph(eid)
        graph_nodes = graph.allNodes()
        for i in range(graph_nodes.size()):
            gn = graph_nodes.apply(i)
            metrics = {}
            declared = gn.metrics()
            for k in range(declared.size()):
                m = declared.apply(k)
                raw = values.get(m.accumulatorId())
                if raw.isDefined():
                    metrics[m.name()] = Metric.parse(raw.get())
            nodes.append(Node(gn.id(), gn.name(), gn.desc(), metrics))
        graph_edges = graph.edges()
        edges = [(e.fromId(), e.toId())
                 for e in (graph_edges.apply(i) for i in range(graph_edges.size()))]
        jobs = []
        it = data.jobs().keys().iterator()
        while it.hasNext():
            jobs.append(int(it.next()))
        return Execution(
            id=eid, root_id=data.rootExecutionId(),
            start_unix=data.submissionTime() / 1000.0,
            end_unix=data.completionTime().get().getTime() / 1000.0,
            jobs=sorted(jobs), nodes=nodes, edges=edges,
        )


class Tracer:
    """In-memory span recorder."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # perf_counter = unix time - offset
        self._offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str):
        sp = self._open(name, time.perf_counter(), {})
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def _open(self, name: str, start: float, counts: dict,
              parent: int | None = None) -> Span:
        if parent is None and self._stack:
            parent = self._stack[-1]
        sp = Span(len(self.spans), name, start, start, parent, counts)
        self.spans.append(sp)
        return sp

    def add_executions(self, parent: Span, executions: list[Execution]) -> None:
        """One child span of ``parent`` per root SQL execution; nested
        executions become children of their root execution's span."""
        by_exec: dict[int, Span] = {}
        for e in sorted(executions, key=lambda e: (e.root_id != e.id, e.id)):
            owner = by_exec.get(e.root_id, parent) if e.root_id != e.id else parent
            start = max(owner.start, e.start_unix - self._offset)
            end = min(owner.end, max(start, e.end_unix - self._offset))
            counts: dict[str, float] = {"jobs": len(e.jobs)}
            for n in e.nodes:
                for k, m in n.metrics.items():
                    key = f"{n.name.strip()}.{k}"
                    counts[key] = counts.get(key, 0.0) + m.total
            by_exec[e.id] = self._open(f"sql.execution.{e.id}", start, counts,
                                       parent=owner.id)
            by_exec[e.id].end = end

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        children = sorted((c.start, c.end) for c in self.spans if c.parent == span.id)
        covered, cursor = 0.0, span.start
        for s, e in children:
            s, e = max(s, cursor), min(e, span.end)
            if e > s:
                covered += e - s
                cursor = e
        return (span.end - span.start) - covered

    def self_times_by(self, layer_of) -> dict[str, float]:
        """Self time summed per layer, ``layer_of(span) -> layer name``."""
        out: dict[str, float] = {}
        for sp in self.spans:
            key = layer_of(sp)
            out[key] = out.get(key, 0.0) + self.self_time(sp)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.id, "name": sp.name, "parent": sp.parent,
                    "start_s": sp.start, "end_s": sp.end,
                    "self_s": self.self_time(sp), "counts": sp.counts,
                }) + "\n")
