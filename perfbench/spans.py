"""Spans around the benchmark's calls into the engine's layers.

A span records name, start, end, parent span and op id (the id of the
top-level benchmark operation it belongs to). While a span is open its
Spark jobs run under a job group of their own, so the Spark job,
stage and task counts of each call are read back from the status
tracker when it closes. Spans stay in memory; :meth:`Tracer.dump`
writes them out when the run ends.

``NullTracer`` is the tracing-off twin used for the end-to-end
numbers: same call sites, no job groups, no bookkeeping.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    op_id: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None

    @contextmanager
    def op(self):
        yield

    def note(self, name: str, **attrs) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self._n_ops = 0

    @property
    def sc(self):
        # the session is restarted between set-up repetitions
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    @contextmanager
    def op(self):
        """Group the spans of one benchmark operation under one id."""
        self._n_ops += 1
        prev, self._op = self._op, self._n_ops
        try:
            yield
        finally:
            self._op = prev

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name=name,
            span_id=len(self.spans),
            parent=parent.span_id if parent else None,
            op_id=self._op,
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        group = f"perfbench-{s.span_id}"
        self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent.span_id}", parent.name)
            else:
                self.sc._jsc.clearJobGroup()
            self._count_jobs(s, group)

    def note(self, name: str, **attrs) -> None:
        """Attach counts measured outside any span (a zero-length
        span, so per-layer aggregation sees them)."""
        now = time.perf_counter()
        s = Span(name, len(self.spans), None, self._op, now, now,
                 attrs=dict(attrs))
        self.spans.append(s)

    def _count_jobs(self, s: Span, group: str) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            s.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is None:
                    continue
                s.stages += 1
                s.tasks += stage.numTasks
                s.failed_tasks += stage.numFailedTasks

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _subtree(spans: list[Span], root: Span) -> list[Span]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.span_id, []))
    return out


def layer_metrics(spans: list[Span], layers: list[str]) -> dict[str, float]:
    """Per layer: ``.calls``, ``.wall_ms_p50``, ``.wall_ms_sum`` and
    the Spark ``.jobs`` / ``.tasks`` / ``.failed_tasks`` run while one
    of its calls was open (nested calls into other layers included:
    Spark runs a lazy layer's work inside whichever call materializes
    it). Spans that are only notes do not count as calls."""
    out: dict[str, float] = {}
    by_id = {s.span_id: s for s in spans}
    for layer in layers:
        mine = [
            s for s in spans
            if (s.name == layer or s.name.startswith(layer + "."))
            and s.end > s.start
        ]
        # a layer span nested in another span of the same layer is
        # already inside its ancestor's wall time and job counts
        ids = {s.span_id for s in mine}

        def nested(s: Span) -> bool:
            p = s.parent
            while p is not None:
                if p in ids:
                    return True
                p = by_id[p].parent
            return False

        tops = [s for s in mine if not nested(s)]
        sub = [t for s in tops for t in _subtree(spans, s)]
        walls = [s.ms for s in tops]
        out[f"{layer}.calls"] = len(tops)
        out[f"{layer}.wall_ms_p50"] = statistics.median(walls) if walls else 0.0
        out[f"{layer}.wall_ms_sum"] = sum(walls)
        out[f"{layer}.jobs"] = sum(s.jobs for s in sub)
        out[f"{layer}.tasks"] = sum(s.tasks for s in sub)
        out[f"{layer}.failed_tasks"] = sum(s.failed_tasks for s in sub)
    return out


def p50_ms(spans: list[Span], name: str) -> float:
    walls = [s.ms for s in spans if s.name == name and s.end > s.start]
    return statistics.median(walls) if walls else 0.0


def attr_sum(spans: list[Span], name: str, key: str) -> float:
    return float(sum(s.attrs.get(key, 0) for s in spans if s.name == name))


def scan_rows(df, path_fragment: str) -> int:
    """``numOutputRows`` summed over the executed plan's file scans
    whose root path contains ``path_fragment`` — rows a layer actually
    read. Call after the DataFrame's action has run."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            todo.append(node.child())
            continue
        if cls == "FileSourceScanExec" and path_fragment in str(
            node.relation().location().rootPaths()
        ):
            total += int(node.metrics().apply("numOutputRows").value())
        kids = node.children()
        for i in range(kids.size()):
            todo.append(kids.apply(i))
    return total
