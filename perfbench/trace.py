"""In-memory span recorder plus Spark status-store harvesting.

Spans are recorded only from the benchmark's own files: ``Tracer.wrap``
replaces a public function on the module (or class) that its callers
look it up on, so a layer that calls another through a module-global
name is traced at that global. Each span has a name, start, end,
parent and request id; Spark jobs are attributed to the innermost open
span through the thread's job group. After every operation ``harvest``
reads the status stores through py4j (the stores keep only the last
few hundred jobs, so waiting until the end would lose them):

- job and stage counts, and per-stage run/CPU/GC/shuffle/spill;
- per-operator SQL metrics from the SQL status store's plan graphs.

Spans stay in memory; ``dump`` writes them out at the end.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import re
import threading
import time
from collections import defaultdict

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "min": 6e4, "h": 3.6e6,
}
_NUM = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: '5,000', '12.0 KiB', '1.2 s' or
    'total (min, med, max ...)\\n39 ms (3 ms, ...)'. Times come out in
    ms, sizes in bytes."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "rid", "thread", "attrs")

    def __init__(self, sid, name, start, parent, rid, thread, attrs):
        self.id, self.name, self.start, self.end = sid, name, start, None
        self.parent, self.rid, self.thread, self.attrs = parent, rid, thread, attrs

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "start": self.start, "end": self.end,
            "parent": self.parent, "rid": self.rid, "thread": self.thread, "attrs": self.attrs,
        }


# SQL plan-graph metrics the per-layer report reads: (node, metric) -> counters
OPERATOR_METRICS = {
    ("MapInPandas", "time to run Python workers"): ("rangejoin.kernel_ms",),
    ("ArrowEvalPython", "time to run Python workers"): ("ip.parse_udf_ms",),
    ("FlatMapGroupsInPandas", "time to run Python workers"): ("interval.flatten_ms",),
    ("MapInPandas", "data sent to Python workers"): ("exec.python_bytes_sent",),
    ("ArrowEvalPython", "data sent to Python workers"): ("exec.python_bytes_sent",),
    ("FlatMapGroupsInPandas", "data sent to Python workers"): ("exec.python_bytes_sent",),
    ("MapInPandas", "number of output rows"): ("exec.python_rows_sent",),
    ("ArrowEvalPython", "number of output rows"): ("exec.python_rows_sent",),
    ("FlatMapGroupsInPandas", "number of output rows"): ("exec.python_rows_sent", "interval.flatten_rows"),
    ("BroadcastExchange", "time to build"): ("exec.broadcast_build_ms",),
}


class Tracer:
    """Spans + Spark counters for one traced run. ``spark`` may be set
    after construction (the session is itself a traced call)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spark = None
        self._last_job = -1
        self._last_exec = -1
        self._span_of_group: dict[str, int] = {}
        self.span_jobs: dict[int, list[int]] = defaultdict(list)
        # counters per operation id (op = top-level span id)
        self.op_counters: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.overhead_s = 0.0
        self._wrapped: list[tuple[object, str, object]] = []
        # spans opened on threads the benchmark did not start (the
        # refresh's foreachBatch callbacks) hang under this span
        self.adopt: Span | None = None
        self.owner_threads = {"MainThread", "api-client"}
        # (span id, epoch start, epoch end) of adopting windows: jobs a
        # foreign thread submits without a job group land in the window's span
        self.adopt_windows: list[list] = []
        self.unattributed_jobs = 0
        self._epoch_offset = time.time() - time.perf_counter()

    # -- spans --------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", f"span-{span.id}" if span else None)

    def open(self, name: str, rid=None, **attrs) -> Span:
        t = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        if parent is None and threading.current_thread().name not in self.owner_threads:
            parent = self.adopt
        if rid is None and parent is not None:
            rid = parent.rid
        span = Span(next(self._ids), name, t, parent.id if parent else None, rid,
                    threading.current_thread().name, attrs)
        with self._lock:
            self.spans.append(span)
            self._span_of_group[f"span-{span.id}"] = span.id
        st.append(span)
        self._set_group(span)
        self.overhead_s += time.perf_counter() - t
        return span

    def close(self, span: Span) -> None:
        t = time.perf_counter()
        span.end = t
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        if not st and threading.current_thread().name not in self.owner_threads:
            # keep attributing a foreign thread's later jobs (the refresh
            # writes after its build callback returns) to the adopting span
            self._set_group(self.adopt)
        else:
            self._set_group(st[-1] if st else None)
        self.overhead_s += time.perf_counter() - t

    def add_span(self, name: str, start: float, end: float) -> Span:
        """A finished top-level span for a phase timed before tracing began."""
        span = Span(next(self._ids), name, start, None, None, threading.current_thread().name, {})
        span.end = end
        with self._lock:
            self.spans.append(span)
        return span

    @contextlib.contextmanager
    def adopting(self):
        """While open, spans from foreign threads become children of the
        calling thread's current span."""
        st = self._stack()
        self.adopt = st[-1] if st else None
        if self.adopt is not None:
            self.adopt_windows.append([self.adopt.id, time.time(), None])
        try:
            yield
        finally:
            if self.adopt is not None:
                self.adopt_windows[-1][2] = time.time()
            self.adopt = None

    @contextlib.contextmanager
    def span(self, name: str, rid=None, **attrs):
        s = self.open(name, rid, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, owner, attr: str, name: str, tag=None, rows=False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``tag(args, kwargs)`` adds attributes; ``rows`` records len()
        of the result."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = tag(args, kwargs) if tag else {}
            s = tracer.open(name, **attrs)
            try:
                out = fn(*args, **kwargs)
                if rows:
                    s.attrs["rows"] = len(out)
                return out
            finally:
                tracer.close(s)

        self._wrapped.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._wrapped):
            setattr(owner, attr, fn)
        self._wrapped.clear()

    # -- Spark status stores ----------------------------------------------
    def _root_of(self, sid: int) -> int:
        by_id = self._by_id()
        s = by_id[sid]
        while s.parent is not None:
            s = by_id[s.parent]
        return s.id

    def _by_id(self) -> dict[int, Span]:
        cache = getattr(self, "_by_id_cache", None)
        if cache is None or len(cache) != len(self.spans):
            with self._lock:
                cache = self._by_id_cache = {s.id: s for s in self.spans}
        return cache

    def harvest(self) -> None:
        """Read jobs, stages and SQL executions finished since the last
        harvest and attribute them to spans and operations."""
        if self.spark is None:
            return
        with self.span("trace.harvest"):
            self._harvest()

    def _harvest(self) -> None:
        t = time.perf_counter()
        sc = self.spark.sparkContext
        jss = sc._jsc.sc().statusStore()
        new_jobs = []
        it = jss.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid > self._last_job:
                new_jobs.append(j)
        job_op: dict[int, int] = {}
        for j in new_jobs:
            jid = j.jobId()
            grp = j.jobGroup().get() if j.jobGroup().isDefined() else None
            sid = self._span_of_group.get(grp)
            if sid is None and j.submissionTime().isDefined():
                sid = self._adopted_at(j.submissionTime().get().getTime() / 1e3)
            if sid is None:
                self.unattributed_jobs += 1
                continue
            self.span_jobs[sid].append(jid)
            op = self._root_of(sid)
            job_op[jid] = op
            c = self.op_counters[op]
            c["exec.jobs"] += 1
            stages = j.stageIds()
            for k in range(stages.size()):
                try:
                    sd = jss.lastStageAttempt(stages.apply(k))
                except Exception:  # skipped stages have no attempt
                    continue
                c["exec.stages"] += 1
                c["exec.tasks"] += sd.numTasks()
                c["exec.executor_run_ms"] += sd.executorRunTime()
                c["exec.executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                c["exec.gc_ms"] += sd.jvmGcTime()
                c["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        if new_jobs:
            self._last_job = max(j.jobId() for j in new_jobs)
        sq = self.spark._jsparkSession.sharedState().statusStore()
        it = sq.executionsList().iterator()
        max_exec = self._last_exec
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            if eid <= self._last_exec or not ex.completionTime().isDefined():
                continue
            max_exec = max(max_exec, eid)
            jobs = ex.jobs().keys().iterator()
            op = None
            while jobs.hasNext() and op is None:
                op = job_op.get(jobs.next())
            if op is None:
                continue
            c = self.op_counters[op]
            values = sq.executionMetrics(eid)
            nodes = sq.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    keys = OPERATOR_METRICS.get((node.name(), m.name()))
                    if keys is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        for key in keys:
                            c[key] += parse_metric(v.get())
        self._last_exec = max_exec
        self.overhead_s += time.perf_counter() - t

    def _adopted_at(self, epoch: float) -> int | None:
        """The innermost foreign-thread span open at ``epoch``, else the
        adopting span whose window holds it."""
        t = epoch - self._epoch_offset
        inner = None
        for s in self.spans:
            if s.thread not in self.owner_threads and s.start <= t and (s.end is None or t <= s.end):
                if inner is None or s.start > inner.start:
                    inner = s
        if inner is not None:
            return inner.id
        for sid, start, end in self.adopt_windows:
            if start <= epoch and (end is None or epoch <= end):
                return sid
        return None

    # -- reports ------------------------------------------------------
    def _self_intervals(self, thread: str | None) -> list[tuple[Span, list[tuple[float, float]]]]:
        """Each finished span with the parts of its interval that no child
        span covers. With ``thread``, only spans whose root span ran on
        that thread (adopted spans included)."""
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None and s.end is not None:
                children[s.parent].append(s)
        out = []
        for s in self.spans:
            if s.end is None or (thread and self._by_id()[self._root_of(s.id)].thread != thread):
                continue
            gaps, pos = [], s.start
            for c in sorted(children[s.id], key=lambda c: c.start):
                if c.start > pos:
                    gaps.append((pos, min(c.start, s.end)))
                pos = max(pos, c.end)
            if pos < s.end:
                gaps.append((pos, s.end))
            out.append((s, gaps))
        return out

    def self_times(self, thread: str | None = None) -> dict[str, float]:
        """Self time (s) per span name: duration minus the part of the
        interval its child spans cover."""
        out: dict[str, float] = defaultdict(float)
        for s, gaps in self._self_intervals(thread):
            out[s.name] += sum(b - a for a, b in gaps)
        return dict(out)

    def coverage(self, thread: str = "MainThread") -> float:
        """Share of the traced wall time (first span start to last span
        end) during which some span names a layer: the union of the self
        intervals of every span except the catch-alls, i.e. root spans
        that have children (an operation's or set-up's untraced glue) and
        ``process.start`` (interpreter start and imports). Spans that run
        side by side on other threads count once."""
        parents = {s.parent for s in self.spans if s.parent is not None}
        named = sorted(
            gap for s, gaps in self._self_intervals(thread)
            if not (s.parent is None and (s.id in parents or s.name == "process.start"))
            for gap in gaps
        )
        covered, end = 0.0, None
        for a, b in named:
            if end is None or a > end:
                covered += b - a
                end = b
            elif b > end:
                covered += b - end
                end = b
        first = min(s.start for s in self.spans)
        last = max(s.end for s in self.spans if s.end is not None)
        return covered / (last - first)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.as_dict(), default=str) + "\n")
