"""Spans around the engine's public functions, kept in memory.

``Tracer.patch`` replaces a function where its caller looks it up (a
module attribute or a class attribute) with a wrapper that opens a span.
Each span runs its Spark jobs under its own job group, so the event log
attributes every job to exactly one span; the previous group is restored
when the span ends. ``Tracer.restore`` puts the original functions back.
"""

from __future__ import annotations

import functools
import importlib
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"


@dataclass
class Span:
    sid: int
    prefix: str
    name: str
    parent: int | None
    start: float  # epoch seconds, to line up with the event log
    end: float = 0.0
    # durations come from the monotonic clock the calls are timed with
    t0: float = field(default_factory=time.perf_counter)
    t1: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-{self.prefix}-{self.sid}"

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


def _active_context():
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return sc if sc is not None and sc._jsc is not None else None


class Tracer:
    def __init__(self, prefix: str = "") -> None:
        self.prefix = prefix  # keeps job groups unique across tracers
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), self.prefix, name, parent, time.time())
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(s.sid)
        sc = _active_context()
        saved = None
        if sc is not None:
            saved = (sc.getLocalProperty(GROUP_KEY), sc.getLocalProperty(DESC_KEY))
            sc.setLocalProperty(GROUP_KEY, s.group)
            sc.setLocalProperty(DESC_KEY, name)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.t1, s.end = time.perf_counter(), time.time()
            # the job may have stopped the session (materialize_features
            # ends with spark.stop()); then there is nothing to restore
            sc_now = _active_context()
            if sc_now is not None and sc_now is sc and saved is not None:
                sc.setLocalProperty(GROUP_KEY, saved[0])
                sc.setLocalProperty(DESC_KEY, saved[1])

    def patch(self, target: str, attr: str, name: str) -> None:
        """Wrap ``target.attr``; ``target`` is a module path, optionally
        followed by ``:Class``."""
        mod_name, _, cls_name = target.partition(":")
        owner = importlib.import_module(mod_name)
        if cls_name:
            owner = getattr(owner, cls_name)
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def self_time(self, s: Span) -> float:
        return s.wall - sum(self.spans[c].wall for c in s.children)

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s.sid]
        while todo:
            sp = self.spans[todo.pop()]
            out.append(sp)
            todo.extend(sp.children)
        return out
