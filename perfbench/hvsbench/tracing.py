"""Spans recorded from outside the program, around the calls into each layer.

``Tracer`` keeps spans in memory (name, start, end, parent span, request id)
and writes them as JSON lines when the run ends. ``patched_layers`` wraps the
public functions ``api`` calls — ``knn``, ``query_vector``,
``bm25.bm25_scores``, ``bm25.fulltext`` and ``fusion.score_fusion`` — in this
process only: each wrapper records a build span under the current request
span and keeps the lazy DataFrame it returns, so the caller can collect it
alone after the request and time that layer's execution.

``spark_counts`` reads job, task and failed-task counts of one job group from
the Spark status tracker. ``executed_plan`` reads the row counts Spark's SQL
metrics recorded on each physical operator of a DataFrame's last execution;
the work figures of a layer (rows scored, postings matched, pairs joined)
are taken from them.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Iterator


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request_id: int | None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class RequestContext:
    request_id: int
    captured: list[tuple[str, Any]] = field(default_factory=list)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[tuple[int, int | None]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @property
    def request(self) -> RequestContext | None:
        return getattr(self._local, "request", None)

    @contextlib.contextmanager
    def span(self, name: str, *, request_id: int | None = None, **attrs) -> Iterator[dict]:
        stack = self._stack()
        parent, inherited = stack[-1] if stack else (None, None)
        rid = request_id if request_id is not None else inherited
        with self._lock:
            sid = next(self._ids)
        stack.append((sid, rid))
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, rid, attrs))

    @contextlib.contextmanager
    def request_span(self, name: str, request_id: int, **attrs) -> Iterator[RequestContext]:
        ctx = RequestContext(request_id)
        self._local.request = ctx
        try:
            with self.span(name, request_id=request_id, **attrs):
                yield ctx
        finally:
            self._local.request = None

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "request_id": s.request_id,
                            **s.attrs,
                        }
                    )
                    + "\n"
                )


# (module attribute path, span name, capture key or None)
LAYER_CALLS = (
    ("api", "query_vector", "embed.query_vector", None),
    ("api", "knn", "knn.build", "knn"),
    ("bm25", "bm25_scores", "bm25.scores_build", "bm25.scores"),
    ("bm25", "fulltext", "bm25.fulltext_build", "bm25.fulltext"),
    ("fusion", "score_fusion", "fusion.build", None),
)


@contextlib.contextmanager
def patched_layers(tracer: Tracer) -> Iterator[None]:
    from hybrid_vector_search_spark import api
    from hybrid_vector_search_spark.operators import bm25, fusion

    modules = {"api": api, "bm25": bm25, "fusion": fusion}
    originals = []

    def wrap(fn, span_name, key):
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                out = fn(*args, **kwargs)
            ctx = tracer.request
            if key is not None and ctx is not None:
                ctx.captured.append((key, out))
            return out

        return wrapper

    for mod_name, attr, span_name, key in LAYER_CALLS:
        mod = modules[mod_name]
        fn = getattr(mod, attr)
        originals.append((mod, attr, fn))
        setattr(mod, attr, wrap(fn, span_name, key))
    try:
        yield
    finally:
        for mod, attr, fn in originals:
            setattr(mod, attr, fn)


@dataclass
class SparkCounts:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0


def drain_listener_bus(sc) -> None:
    """Wait until the status store has seen every finished job's events."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def spark_counts(sc, group: str) -> SparkCounts:
    drain_listener_bus(sc)
    st = sc.statusTracker()
    out = SparkCounts()
    for job_id in st.getJobIdsForGroup(group):
        out.jobs += 1
        info = st.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            stage = st.getStageInfo(stage_id)
            if stage is not None:
                out.tasks += stage.numCompletedTasks
                out.failed_tasks += stage.numFailedTasks
    return out


@contextlib.contextmanager
def job_group(sc, group: str) -> Iterator[str]:
    sc.setJobGroup(group, group)
    try:
        yield group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@dataclass(frozen=True)
class PlanNode:
    name: str
    depth: int
    rows: int | None  # numOutputRows, for operators that count their output
    leaf: bool


def executed_plan(df) -> list[PlanNode]:
    """The physical operators that ran ``df``'s last action, in pre-order.
    Adaptive-execution wrappers and query stages are looked through, so the
    list holds the operators of the final plan."""
    out: list[PlanNode] = []

    def visit(node, depth: int) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return visit(node.executedPlan(), depth)
        if cls.endswith("QueryStageExec"):
            return visit(node.plan(), depth)
        if cls == "ReusedExchangeExec":
            return visit(node.child(), depth)
        children = node.children()
        kids = [children.apply(i) for i in range(children.size())]
        metric = node.metrics().get("numOutputRows")
        rows = int(metric.get().value()) if metric.isDefined() else None
        out.append(PlanNode(str(node.nodeName()), depth, rows, not kids))
        for kid in kids:
            visit(kid, depth + 1)

    visit(df._jdf.queryExecution().executedPlan(), 0)
    return out


def rows_into_root(plan: list[PlanNode]) -> int:
    """Rows reaching the plan's top operator: the first row count below it
    (for knn, what the scan and pre-filter hand to the scorer)."""
    return next((n.rows for n in plan[1:] if n.rows is not None), 0)


def rows_into_lowest(plan: list[PlanNode], name: str) -> int:
    """Rows reaching the deepest operator called ``name`` (0 without one)."""
    at = [i for i, n in enumerate(plan) if n.name == name]
    if not at:
        return 0
    i = max(at, key=lambda j: plan[j].depth)
    for n in plan[i + 1 :]:
        if n.depth <= plan[i].depth:
            break
        if n.rows is not None:
            return n.rows
    return 0


def join_rows(plan: list[PlanNode]) -> int:
    """Rows produced by the plan's join operators."""
    return sum(n.rows or 0 for n in plan if n.name.endswith("Join") or n.name == "CartesianProduct")


def scanned_rows(plan: list[PlanNode], prefix: str = "") -> int:
    """Rows returned by the plan's leaf scans whose name starts with ``prefix``."""
    return sum(n.rows or 0 for n in plan if n.leaf and n.name.startswith(prefix))
