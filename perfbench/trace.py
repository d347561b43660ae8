"""Span recorder, self-time arithmetic and the per-request Spark harvest.

Spans are recorded only around calls the benchmark itself makes into the
program, or around methods of objects the benchmark owns (an engine, an
ANN artifact, a DataFrame it was handed back), by replacing the bound
method on that one instance. Nothing in the program is patched.

A span is (id, name, start, end, parent, request id). Spans stay in
memory until the run ends; ``write_trace`` dumps them with the Spark
figures harvested per request and the per-layer summary.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    req: int | None


class Tracer:
    """Thread-aware span recorder. Recording is switched per thread
    (``recording``); outside it a wrapped call costs one attribute test,
    so a traced run can time the same phase untraced and traced."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def on(self) -> bool:
        return getattr(self._local, "on", False)

    def current(self) -> str | None:
        st = self._stack()
        return st[-1].name if st else None

    @contextmanager
    def recording(self, req: int):
        """Record spans on this thread, tagged with request id ``req``."""
        self._local.on, self._local.req = True, req
        try:
            yield
        finally:
            self._local.on, self._local.req = False, None

    @contextmanager
    def span(self, name: str, req: int | None = None):
        if not self.on():
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if req is None:
            req = parent.req if parent else getattr(self._local, "req", None)
        s = Span(next(self._ids), name, time.perf_counter(), 0.0,
                 parent.sid if parent else None, req)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, obj, method: str, name: str, on_result=None) -> None:
        """Replace ``obj.method`` (on this instance only) by a version
        that runs inside span ``name``; ``on_result(result)`` may hook
        the return value (e.g. wrap a returned DataFrame's collect)."""
        fn = getattr(obj, method)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.on():
                return fn(*args, **kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
            return on_result(out) if on_result else out

        setattr(obj, method, traced)


# ---------------------------------------------------------------------------
# self time
# ---------------------------------------------------------------------------

def union_length(intervals: list[tuple[float, float]],
                 lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals``, clipped to [lo, hi]."""
    pts = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            pts.append((a, b))
    pts.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in pts:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> its duration minus the part of its interval that its
    child spans cover (seconds)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        cover = union_length([(c.start, c.end) for c in kids.get(s.sid, [])],
                             s.start, s.end)
        out[s.sid] = (s.end - s.start) - cover
    return out


def layer_coverage(spans: list[Span], root_name: str,
                   skip: tuple[str, ...] = ()) -> dict[int, float]:
    """For each span named ``root_name`` (by id): the share of its wall
    time covered by its descendant spans, leaving out those named in
    ``skip`` (a wrapper such as the command dispatcher, which would cover
    everything below it by construction)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)

    def below(sid):
        for c in kids.get(sid, []):
            if c.name not in skip:
                yield c
            yield from below(c.sid)

    out = {}
    for s in spans:
        if s.name == root_name and s.end > s.start:
            cov = union_length([(c.start, c.end) for c in below(s.sid)],
                               s.start, s.end)
            out[s.sid] = cov / (s.end - s.start)
    return out


# ---------------------------------------------------------------------------
# Spark: per-request job group harvest, Catalyst phases, plan metrics
# ---------------------------------------------------------------------------

PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
            "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
            "MapInArrow", "PythonMapInArrow", "AggregateInPandas",
            "WindowInPandas")
JOIN_NODES = ("SortMergeJoinExec", "BroadcastHashJoinExec",
              "ShuffledHashJoinExec", "BroadcastNestedLoopJoinExec",
              "CartesianProductExec")


class SparkHarvest:
    """Reads jobs, stages and tasks of one job group from Spark's
    status store (populated with the UI disabled), Catalyst phase times
    from a DataFrame's QueryPlanningTracker, and SQL metrics from its
    executed (final adaptive) plan."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._jvm = self.sc._jvm
        # epoch-ms <-> perf_counter mapping for attributing jobs to spans
        self.wall0 = time.time()
        self.pc0 = time.perf_counter()

    def to_pc(self, epoch_ms: float) -> float:
        return self.pc0 + (epoch_ms / 1000.0 - self.wall0)

    def wait_idle(self, timeout_ms: int = 10_000) -> None:
        """Let the listener bus drain so finished jobs show as finished."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)
        except Exception:                               # noqa: BLE001
            time.sleep(0.2)

    def jobs(self, group: str) -> list[dict]:
        out = []
        empty_list = self._jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(self._jvm.double, 0)
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self.store.job(jid)
            sub = jd.submissionTime()
            done = jd.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            shuffle = 0
            sids = jd.stageIds()
            for i in range(sids.size()):
                sds = self.store.stageData(sids.apply(i), False, empty_list,
                                           False, no_q)
                for k in range(sds.size()):
                    sd = sds.apply(k)
                    if str(sd.status()) == "COMPLETE":
                        shuffle += sd.shuffleWriteBytes()
            out.append({
                "job": int(jid),
                "start": self.to_pc(sub.get().getTime()),
                "end": self.to_pc(done.get().getTime()),
                "stages": int(jd.numCompletedStages()),
                "tasks": int(jd.numCompletedTasks()),
                "failed_tasks": int(jd.numFailedTasks()),
                "shuffle_bytes": int(shuffle),
            })
        return out

    @staticmethod
    def catalyst_ms(df) -> float:
        ph = df._jdf.queryExecution().tracker().phases()
        total = 0.0
        for p in ("analysis", "optimization", "planning"):
            o = ph.get(p)
            if o.isDefined():
                total += float(o.get().durationMs())
        return total

    @staticmethod
    def plan_nodes(df) -> list[tuple[str, str, dict]]:
        """(node class, directories a file scan reads, metrics) for every
        node of the executed plan, descending through adaptive query
        stages."""
        plan = df._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()
        out = []

        def walk(n):
            name = n.getClass().getSimpleName()
            vals = {}
            it = n.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                vals[kv._1()] = kv._2().value()
            # a file scan is named by the directories it reads
            desc = (n.relation().location().rootPaths().mkString(",")
                    if name == "FileSourceScanExec" else "")
            out.append((name, desc, vals))
            if name.endswith("QueryStageExec"):
                walk(n.plan())
            elif name == "ReusedExchangeExec":
                walk(n.child())
            ch = n.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

        walk(plan)
        return out


def plan_figures(nodes, path_marks: dict[str, str]) -> dict[str, float]:
    """Python time, join output rows and per-artifact scan rows from a
    ``plan_nodes`` listing. ``path_marks`` maps a figure name to a path
    fragment naming an artifact directory."""
    fig = {"python_ms": 0.0, "join_rows_max": 0.0}
    for k in path_marks:
        fig[k] = 0.0
    for name, desc, m in nodes:
        if any(name.startswith(p) for p in PY_NODES):
            fig["python_ms"] += float(m.get("pythonTotalTime", 0))
        if name in JOIN_NODES:
            fig["join_rows_max"] = max(fig["join_rows_max"],
                                       float(m.get("numOutputRows", 0)))
        if desc:
            for k, frag in path_marks.items():
                if frag in desc:
                    fig[k] += float(m.get("numOutputRows", 0))
    return fig


def attribute_jobs(jobs: list[dict], spans: list[Span]) -> dict[int, list]:
    """span id -> jobs submitted inside it (the innermost span wins)."""
    out: dict[int, list] = {}
    for j in jobs:
        best = None
        for s in spans:
            if s.start <= j["start"] <= s.end and (
                    best is None or s.start >= best.start):
                best = s
        if best is not None:
            out.setdefault(best.sid, []).append(j)
    return out


def write_trace(path: str, tracer: Tracer, requests: list[dict],
                summary: dict) -> None:
    with open(path, "w") as f:
        json.dump({"spans": [asdict(s) for s in tracer.spans],
                   "requests": requests, "summary": summary}, f)
