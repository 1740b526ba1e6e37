"""Spans around calls into the engine's public functions, plus the Spark
work each span caused.

A span records name, layer, op id, parent, start and end. Spans that can
launch Spark jobs run under their own job group; after each op the
recorder reads, from the in-process status stores (no UI needed), the
jobs of every group, their stages (tasks, run time, shuffle bytes, input
rows, submit/complete times) and the SQL metrics of the executions those
jobs belong to (``pythonTotalTime`` / ``pythonBootTime`` of the
``MapInPandas`` fold).

Wrapping is installed only in the traced run; with tracing off every
``span`` is a no-op context manager.
"""

from __future__ import annotations

import functools
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

PY_METRICS = {  # SQL metric display name -> key
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
}


@dataclass
class Span:
    name: str
    layer: str
    op: int
    parent: Optional[int]
    start: float
    end: float = 0.0
    group: Optional[str] = None
    jobs: int = 0
    stages: List[dict] = field(default_factory=list)
    metrics: Dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``enabled`` is toggled per op by the traced run, so
    traced and untraced ops interleave and their gap is the overhead."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: List[Span] = []
        self._stack: List[int] = []
        self._op = -1
        self._wrapped: List[Tuple[object, str, object]] = []
        self._sql_seen = 0
        self.collect_s: List[float] = []
        self.bookkeeping_s = 0.0  # tracer time inside ops (nested spans)

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str, spark: bool = True):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, layer, self._op, parent, 0.0)
        if spark:
            s.group = f"pb{idx}"
            self.sc.setJobGroup(s.group, name)
        self.spans.append(s)
        self._stack.append(idx)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if spark:
                g = self._enclosing_group()
                if g is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(g, g)
            if parent is not None:  # the root span opens outside the op's timer
                self.bookkeeping_s += (s.start - t0) + (time.perf_counter() - s.end)

    def _enclosing_group(self) -> Optional[str]:
        for i in reversed(self._stack):
            if self.spans[i].group is not None:
                return self.spans[i].group
        return None

    @contextmanager
    def op(self, kind: str, traced: bool):
        """Root span of one benchmark op (layer ``bench``: the loop's own
        glue between engine calls)."""
        self._op += 1
        self.enabled = traced
        first = len(self.spans)
        try:
            with self.span(kind, "bench") as s:
                yield s
        finally:
            self.enabled = False
            if traced:
                t0 = time.perf_counter()
                self._collect(first)
                self.collect_s.append(time.perf_counter() - t0)

    def wrap(self, owner, attr: str, name: str, layer: str, spark: bool = True) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(name, layer, spark):
                return orig(*a, **kw)

        self._wrapped.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._wrapped):
            setattr(owner, attr, orig)
        self._wrapped.clear()

    # -- Spark metrics ---------------------------------------------------------

    def _collect(self, first: int) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        job_to_span: Dict[int, Span] = {}
        seen_stages = set()
        for s in self.spans[first:]:
            if s.group is None:
                continue
            for jid in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                job_to_span[jid] = s
                for sid in info.stageIds:
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    st = _stage(store, sid)
                    if st is not None:
                        s.stages.append(st)
        if job_to_span:
            self._collect_sql(job_to_span)

    def _collect_sql(self, job_to_span: Dict[int, Span]) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        new = max(0, n - self._sql_seen)
        self._sql_seen = n
        if new == 0:
            return
        execs = sql.executionsList(max(0, n - new), new)
        for k in range(execs.size()):
            ex = execs.apply(k)
            jobs = ex.jobs().keySet().toSeq()
            span = None
            for j in range(jobs.size()):
                span = job_to_span.get(int(jobs.apply(j)))
                if span is not None:
                    break
            if span is None:
                continue
            wanted = {}
            nodes = sql.planGraph(ex.executionId()).allNodes()
            for i in range(nodes.size()):
                ms = nodes.apply(i).metrics()
                for m in range(ms.size()):
                    pm = ms.apply(m)
                    key = PY_METRICS.get(pm.name())
                    if key is not None:
                        wanted[pm.accumulatorId()] = key
            if not wanted:
                continue
            # iterate the Scala map: py4j boxes small ids as Integer, so a
            # keyed lookup against its Long keys would miss
            values = sql.executionMetrics(ex.executionId()).toSeq()
            for i in range(values.size()):
                kv = values.apply(i)
                key = wanted.get(int(kv._1()))
                if key is not None:
                    span.metrics[key] = span.metrics.get(key, 0.0) + parse_metric_seconds(kv._2())


def _stage(store, sid: int) -> Optional[dict]:
    try:
        sd = store.lastStageAttempt(sid)
    except Exception:  # stage never attempted (py4j NoSuchElementException)
        return None
    sub, comp = sd.submissionTime(), sd.completionTime()
    if not sub.isDefined() or not comp.isDefined():
        return None  # skipped: its output was reused from an earlier job
    return {
        "id": sid,
        "submit": sub.get().getTime() / 1000.0,
        "complete": comp.get().getTime() / 1000.0,
        "tasks": sd.numTasks(),
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "input_records": sd.inputRecords(),
    }


_DURATION = re.compile(r"([0-9][0-9.,]*)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric_seconds(text: str) -> float:
    """Total of a formatted Spark timing metric, in seconds. Multi-task
    metrics read ``total (min, med, max ...)\\n<total> (<min>, ...)``."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _DURATION.search(body)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


# -- reductions over recorded spans ------------------------------------------


def self_times(spans: List[Span]) -> List[float]:
    """Per span: its duration minus the part covered by its child spans
    (children of one span never overlap: the loop is single-threaded)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.dur
    return [max(0.0, s.dur - c) for s, c in zip(spans, child)]


def union_length(intervals: List[Tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def ops(spans: List[Span]) -> Dict[int, List[int]]:
    """op id -> indexes of its spans (the root first)."""
    out: Dict[int, List[int]] = {}
    for i, s in enumerate(spans):
        out.setdefault(s.op, []).append(i)
    return out


def op_summary(spans: List[Span], idxs: List[int], wall_offset: float) -> dict:
    """Jobs, stage time and Spark-driver idle time of one op. ``wall_offset``
    maps ``perf_counter`` onto epoch seconds (stage times are epoch)."""
    root = spans[idxs[0]]
    stages = [st for i in idxs for st in spans[i].stages]
    lo, hi = root.start + wall_offset, root.end + wall_offset
    busy = union_length([(max(lo, st["submit"]), min(hi, st["complete"]))
                         for st in stages if st["complete"] > lo and st["submit"] < hi])
    return {
        "kind": root.name,
        "wall_s": root.dur,
        "jobs": sum(spans[i].jobs for i in idxs),
        "stage_busy_s": busy,
        "idle_s": max(0.0, root.dur - busy),
    }


def clock_offset() -> float:
    """epoch seconds minus ``perf_counter`` seconds, now."""
    return time.time() - time.perf_counter()
