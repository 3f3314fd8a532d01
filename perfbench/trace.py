"""Spans and Spark counters, recorded from outside the program.

A span is (layer, start, end, parent, op). Spans nest by call order on
the benchmark's thread. Calls the benchmark makes are wrapped directly;
calls one layer makes into another (the planner from ``within``, the
geohash kernel from the planner, ...) are wrapped by replacing the
imported name in the calling module for the traced run only, so the
program's files stay untouched.

Spark's own counters are read after each span that runs jobs: the job
group names the op, the status store gives jobs, stages, tasks, task
time, input records and shuffle bytes, and the executed plan gives files
and rows read by each scan. Each job becomes a child interval named
``spark`` of the span that ran it, so the calling layer's self time
excludes time spent inside Spark jobs.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list = field(default_factory=list)  # (start, end) intervals
    counters: dict = field(default_factory=dict)


def _union(intervals, lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Records spans when enabled; with ``enabled=False`` every method is
    a no-op, so the untraced run pays only a function call per span."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1
        self._group = None
        self._seen_jobs: set[int] = set()
        # JVM job times are epoch milliseconds; spans use perf_counter
        self._epoch_offset = time.time() - time.perf_counter()

    # ------------------------------------------------------------ spans

    def begin_op(self, op: int) -> None:
        self.op = op
        if self.enabled and self.spark is not None:
            self._group = f"perfbench-op-{op}"
            self.spark.sparkContext.setJobGroup(self._group, self._group, False)

    @contextmanager
    def span(self, layer: str, spark_jobs: bool = False):
        if not self.enabled:
            yield None
            return
        s = Span(layer, self.op, self._stack[-1] if self._stack else None,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if spark_jobs and self._group is not None:
                self._attach_jobs(s)

    def wrap(self, owner, name, layer: str) -> None:
        """Replace ``owner.name`` (``owner[name]`` for a dict) with a
        spanned wrapper."""
        is_dict = isinstance(owner, dict)
        fn = owner[name] if is_dict else getattr(owner, name)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(layer):
                return fn(*a, **kw)

        if is_dict:
            owner[name] = spanned
        else:
            setattr(owner, name, spanned)

    # -------------------------------------------------- Spark counters

    def _attach_jobs(self, s: Span) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        new = [j for j in sc.statusTracker().getJobIdsForGroup(self._group)
               if j not in self._seen_jobs]
        self._seen_jobs.update(new)
        no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        c = {"jobs": len(new), "stages": 0, "tasks": 0, "task_s": 0.0,
             "input_records": 0, "output_records": 0, "output_bytes": 0,
             "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
        for j in new:
            jd = store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                s.jobs.append((sub.get().getTime() / 1e3 - self._epoch_offset,
                               done.get().getTime() / 1e3 - self._epoch_offset))
            sids = jd.stageIds()
            for i in range(sids.size()):
                attempts = store.stageData(sids.apply(i), False, [], False,
                                           no_quantiles)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if st.status().toString() != "COMPLETE":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["task_s"] += st.executorRunTime() / 1e3
                    c["input_records"] += st.inputRecords()
                    c["output_records"] += st.outputRecords()
                    c["output_bytes"] += st.outputBytes()
                    c["shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
        s.counters.update(c)

    def plan_metrics(self, s: Span | None, df) -> None:
        """Files and rows read by the scans of ``df``'s executed plan, and
        rows into and out of each join (candidate counts)."""
        if s is None:
            return
        nodes: list = []
        _walk(df._jdf.queryExecution().executedPlan(), nodes)
        files = rows = 0
        joins = []  # (rows in from the left side, rows out), top first
        for cls, node in nodes:
            if cls == "FileSourceScanExec":
                files += _metric(node, "numFiles")
                rows += _metric(node, "numOutputRows")
            elif cls.endswith("JoinExec"):
                joins.append((_rows_in(node), _metric(node, "numOutputRows")))
        s.counters.update(files_read=files, rows_read=rows, joins=joins)

    # ------------------------------------------------------------ output

    def self_times(self) -> list[tuple[Span, float, float]]:
        """(span, self seconds, seconds inside Spark jobs) per span."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        out = []
        for i, s in enumerate(self.spans):
            spark_s = _union(s.jobs, s.start, s.end)
            covered = _union(kids.get(i, []) + s.jobs, s.start, s.end)
            out.append((s, (s.end - s.start) - covered, spark_s))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "layer": s.layer, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, "jobs": s.jobs,
                    "counters": s.counters,
                }) + "\n")


def _walk(node, out: list) -> None:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _walk(node.executedPlan(), out)
    if cls.endswith("QueryStageExec"):
        return _walk(node.plan(), out)
    if cls == "ReusedExchangeExec":  # its scan is counted where it ran
        return None
    out.append((cls, node))
    ch = node.children()
    for i in range(ch.size()):
        _walk(ch.apply(i), out)
    return None


def _rows_in(node) -> int:
    """Rows entering ``node`` from its first child: the output count of
    the nearest node down that side that keeps one (codegen'd
    projections, sorts and exchanges keep none)."""
    ch = node.children()
    while ch.size():
        child = ch.apply(0)
        cls = child.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            child = child.executedPlan()
        elif cls.endswith("QueryStageExec"):
            child = child.plan()
        m = child.metrics().get("numOutputRows")
        if m.isDefined():
            return int(m.get().value())
        ch = child.children()
    return 0


def _metric(node, name: str) -> int:
    m = node.metrics().get(name)
    return int(m.get().value()) if m.isDefined() else 0
