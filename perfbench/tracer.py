"""Spans around calls into the engine's public functions.

The tracer lives in the benchmark, not in the package: ``Tracer.patch``
swaps a module attribute for a wrapper that records one span per call
(``Tracer.wrap`` builds such a wrapper for functions held elsewhere, such
as the ``ENTITY_PIPELINES`` normalizers), and ``Tracer.close`` puts every
original back.

A span records name, start, end, parent span and trace id. Each span also
owns a Spark job group (``SparkContext.setJobGroup``); when it ends, the
jobs of that group are counted through ``statusTracker()`` with their
stages and tasks. A job is counted in the innermost open span on the
thread that launched it, so a parent's counts exclude its children's.

Disabled, the tracer patches nothing and ``span`` is a no-op, which keeps
the untraced run's numbers free of its cost.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

# local properties setJobGroup sets; saved and restored around each span
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list = []

    # -- spans --

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        """Time the block as a child of the thread's innermost open span."""
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace or (parent["trace"] if parent else f"t{sid}"),
            **attrs,
        }
        prev = [self.sc.getLocalProperty(p) for p in _GROUP_PROPS]
        group = f"perfbench-{sid}"
        self.sc.setJobGroup(group, name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            for p, v in zip(_GROUP_PROPS, prev):
                self.sc.setLocalProperty(p, v)
            rec.update(self._count(group))
            with self._lock:
                self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def _count(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def record(self, name: str, start: float, end: float, trace: str) -> dict | None:
        """A span measured elsewhere (a micro-batch, timed by the stream's
        progress report). Parentless spans that started inside it become
        its children and join its trace."""
        if not self.enabled:
            return None
        rec = {"id": next(self._ids), "name": name, "parent": None, "trace": trace,
               "start": start, "end": end, "jobs": 0, "stages": 0, "tasks": 0}
        with self._lock:
            for s in self.spans:
                if s["parent"] is None and start <= s["start"] < end:
                    s["parent"] = rec["id"]
                    for d in self._descendants(s["id"]):
                        d["trace"] = trace
                    s["trace"] = trace
            self.spans.append(rec)
        return rec

    def _descendants(self, sid: int) -> list[dict]:
        out = [s for s in self.spans if s["parent"] == sid]
        for s in list(out):
            out.extend(self._descendants(s["id"]))
        return out

    # -- wrapping --

    def wrap(self, fn, name: str, attrs_of=None, on_result=None):
        """``fn`` with a span called ``name`` around each call.
        ``attrs_of(args, kwargs)`` adds span fields; ``on_result(span,
        result)`` records facts about the result."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = attrs_of(args, kwargs) if attrs_of else {}
            with self.span(name, **attrs) as rec:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, result)
                return result

        return wrapper

    def patch(self, owner, attr: str, name: str, attrs_of=None, on_result=None) -> None:
        """Replace module attribute ``owner.attr`` by its wrapped form until
        ``close``. Disabled, nothing is replaced."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        setattr(owner, attr, self.wrap(orig, name, attrs_of, on_result))
        self.on_close(lambda: setattr(owner, attr, orig))

    def on_close(self, undo) -> None:
        self._undo.append(undo)

    def close(self) -> None:
        while self._undo:
            self._undo.pop()()

    # -- summaries --

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in children.get(s["id"], [])]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "self_s": self.self_times(), "spans": spans}, f, indent=1)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
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
