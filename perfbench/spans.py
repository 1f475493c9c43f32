"""Spans and Spark counters recorded from outside the program.

A traced run wraps the public functions the runner and the benchmark call
(module attributes are swapped for timing wrappers, so the program's own
code is unchanged).  Each span keeps name, start, end, parent and run id in
memory; ``Tracer.dump`` writes them out when the run ends.

Spark work is attributed by job-id deltas: the next job id is read when a
span opens and when it closes, so a span owns every job submitted while it
was open, including jobs a streaming micro-batch submits on its own thread.
The benchmark has one client, so no other caller submits jobs meanwhile.
"""

from __future__ import annotations

import importlib
import json
import threading
import time
import uuid


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs", "job0", "job1")

    def __init__(self, sid, name, parent, start):
        self.id, self.name, self.parent, self.start = sid, name, parent, start
        self.end = None
        self.attrs: dict = {}
        self.job0 = self.job1 = 0


class Tracer:
    """In-memory span recorder.  ``active`` toggles recording without
    removing the wrappers, so one run can alternate traced and untraced
    passes and measure the tracing overhead."""

    def __init__(self, run_id: str | None = None):
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.active = False
        self.sc = None
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- spark counters ---------------------------------------------------
    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def next_job_id(self) -> int:
        if self.sc is None:
            return 0
        return int(self.sc._jsc.sc().dagScheduler().numTotalJobs())

    def job_counts(self, job0: int, job1: int) -> dict:
        """Jobs, stages, tasks and failed tasks of job ids [job0, job1)."""
        out = {"jobs": job1 - job0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        if self.sc is None:
            return out
        st = self.sc.statusTracker()
        for jid in range(job0, job1):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is None:
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompletedTasks + s.numFailedTasks
                out["failed_tasks"] += s.numFailedTasks
        return out

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, **attrs) -> Span | None:
        if not self.active:
            return None
        stack = self._stack()
        # a callback thread (foreachBatch) nests under the main thread's
        # open span, which is blocked waiting for it
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, parent.id if parent else None,
                      time.perf_counter())
            self.spans.append(sp)
        sp.attrs.update(attrs)
        sp.job0 = self.next_job_id()
        stack.append(sp)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.job1 = self.next_job_id()
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def wrap(self, module: str, attr: str, name: str | None = None,
             attrs_fn=None, post_fn=None) -> None:
        """Replace ``module.attr`` by a timing wrapper (kept until
        ``unwrap``).  ``attrs_fn(args, kwargs)`` and ``post_fn(result,
        args, kwargs)`` add span attributes before and after the call."""
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)
        span_name = name or f"{module.split('.')[1]}.{attr}"
        tracer = self

        def wrapper(*args, **kwargs):
            extra = attrs_fn(args, kwargs) if attrs_fn and tracer.active else {}
            sp = tracer.open(span_name, **extra)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer.close(sp)
            if sp is not None and post_fn is not None:
                sp.attrs.update(post_fn(result, args, kwargs))
            return result

        wrapper.__wrapped__ = orig
        setattr(mod, attr, wrapper)
        self._patched.append((mod, attr, orig))

    def unwrap(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    # -- analysis ---------------------------------------------------------
    def finished(self) -> list[Span]:
        return [s for s in self.spans if s.end is not None]

    def counts(self, sp: Span) -> dict:
        c = sp.attrs.get("_counts")
        if c is None:
            c = sp.attrs["_counts"] = self.job_counts(sp.job0, sp.job1)
        return c

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.finished():
                f.write(json.dumps({
                    "run": self.run_id, "id": s.id, "name": s.name,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "jobs": (s.job0, s.job1),
                    "attrs": {k: v for k, v in s.attrs.items() if not k.startswith("_")},
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer, name, attrs):
        self.tracer, self.name, self.attrs, self.sp = tracer, name, attrs, None

    def __enter__(self):
        self.sp = self.tracer.open(self.name, **self.attrs)
        return self.sp

    def __exit__(self, *exc):
        self.tracer.close(self.sp)
        return False


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer (first component of the span name): span duration minus
    the part of it that child spans cover, summed over ``spans``."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = _union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])])
        layer = s.name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + (s.end - s.start) - covered
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
