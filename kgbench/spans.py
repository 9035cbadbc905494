"""In-memory spans around the calls the benchmark makes into each layer.

A span records its name, start, end, parent and trace id (one trace per
timed op), and the range of Spark job ids started while it was open
(Spark numbers jobs in submission order, on every thread, including
the threads of streaming queries and of the HTTP server). A span's own
jobs are its range minus its children's; their task counts are read
from ``statusTracker`` when the span ends. Spans stay in memory; the
caller reads them once, when the run ends. One op is in flight at a
time, so concurrent ops never share a job range.

Layer calls are wrapped by replacing module or class attributes from
the benchmark's own files (``Tracer.wrap``); nothing under
``multivac_spark/`` changes. While the tracer is inactive a wrapper is
a plain pass-through.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ACCOUNTING = "trace.accounting"


@dataclass
class Span:
    name: str
    trace_id: int
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    job0: int = 0
    job1: int = 0
    counts: dict = field(default_factory=dict)
    scratch: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.active = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # span stack of the thread running the op in flight: its top is
        # the parent of spans opened on threads with an empty stack
        # (the HTTP server's handler)
        self._op_stack: list[Span] | None = None
        self._patches: list[tuple] = []
        self._persisted: list = []
        self.job_tasks: dict[int, int] = {}

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _next_job(self) -> int:
        return self.sc._jsc.sc().dagScheduler().nextJobId()

    def _record(self, s: Span) -> None:
        with self._lock:
            self.spans.append(s)

    def _account(self, s: Span) -> None:
        """Close ``s``'s job range and record the tasks of its jobs."""
        # job-end events reach the status store through the listener
        # bus; drain it so the span's last job is visible
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        s.job1 = self._next_job()
        st = self.sc.statusTracker()
        for jid in range(s.job0, s.job1):
            if jid in self.job_tasks:
                continue
            info = st.getJobInfo(jid)
            self.job_tasks[jid] = sum(
                si.numCompletedTasks for si in
                (st.getStageInfo(sid) for sid in
                 (info.stageIds if info else ()))
                if si is not None)

    @contextmanager
    def span(self, name: str, root: bool = False):
        """Open a span; yields it (None while inactive). ``root`` starts
        a new trace and makes the span the parent of spans opened on
        other threads until it ends."""
        if not self.active:
            yield None
            return
        stack = self._stack()
        with self._lock:
            op_stack = self._op_stack
        parent = (stack[-1] if stack
                  else op_stack[-1] if op_stack and not root else None)
        sid = next(self._ids)
        s = Span(name, parent.trace_id if parent else sid, sid,
                 parent.span_id if parent else None, time.perf_counter(),
                 job0=self._next_job())
        if root:
            with self._lock:
                self._op_stack = stack
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            acc = Span(ACCOUNTING, s.trace_id, next(self._ids),
                       s.parent, s.end)
            self._account(s)
            acc.end = time.perf_counter()
            if root:
                with self._lock:
                    self._op_stack = None
            self._record(s)
            if s.parent is not None:
                # accounting time is overhead: it must not inflate the
                # parent's self time
                self._record(acc)

    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Replace ``owner.attr`` by a wrapper that runs the call in a
        span. ``before(span, args, kwargs)`` runs first;
        ``after(span, result, args, kwargs)`` may replace the result."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name) as s:
                if before:
                    before(s, args, kwargs)
                out = orig(*args, **kwargs)
                if after:
                    out = after(s, out, args, kwargs)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def materialize(self, df):
        """Run a lazy DataFrame inside the current span, so the layer
        that built it is charged with its execution. Returns the
        cached frame and its row count."""
        df = df.persist()
        self._persisted.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()


def _children(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return kids


def self_jobs(spans: list[Span]) -> dict[int, set[int]]:
    """span_id → ids of the Spark jobs no child span started."""
    kids = _children(spans)
    out = {}
    for s in spans:
        own = set(range(s.job0, s.job1))
        for c in kids.get(s.span_id, ()):
            own -= set(range(c.job0, c.job1))
        out[s.span_id] = own
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id → duration minus the part of it covered by child spans."""
    kids = _children(spans)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s.start
        for c in sorted(kids.get(s.span_id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s.span_id] = (s.end - s.start) - covered
    return out
