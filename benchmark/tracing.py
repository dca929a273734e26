"""Spans recorded by the benchmark around its calls into the engine.

A span has a name, start and end (epoch seconds, the clock Spark's event
log uses), a parent and a request id.  Spans stay in memory until the run
ends.  While a span is open its id is the thread's Spark job group
(``span:<id>``), so the event-log fold can charge every job to the
innermost span that started it.

``Tracer.wrap`` swaps a module attribute for a spanned wrapper, which is
how spans reach calls the engine makes internally (``train_als`` inside
``run_offline_recommender``) without editing the engine.  Functions that
return a lazy DataFrame get a second span of the same name around the
write that executes it, so their time includes the work they describe.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PREFIX = "span:"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    req: object
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lazy: dict[int, str] = {}
        self._restore: list = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, req=None, tag_jobs: bool = True):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if req is None and parent is not None:
            req = parent.req
        s = Span(next(self._ids), name, parent.id if parent else None, req, time.time())
        self.spans.append(s)
        stack.append(s)
        prev = None
        if tag_jobs and self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{s.id}")
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if tag_jobs and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def wrap(
        self, module, attr: str, name: str, lazy: bool = False,
        tag_jobs: bool = True, req_fn=None,
    ):
        """Replace ``module.attr`` with a spanned call; ``unwrap`` undoes it.
        ``req_fn`` names the request of spans that have no open parent."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            req = req_fn() if req_fn is not None else None
            with self.span(name, req=req, tag_jobs=tag_jobs):
                out = fn(*args, **kwargs)
            if lazy:
                self._lazy[id(out)] = name
            return out

        setattr(module, attr, spanned)
        self._restore.append((module, attr, fn))

    def wrap_writer(self, module, attr: str):
        """Span a sink call under the name of the lazy producer whose
        DataFrame it executes, else as ``io.write``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(df, *args, **kwargs):
            with self.span(self._lazy.pop(id(df), "io.write")):
                return fn(df, *args, **kwargs)

        setattr(module, attr, spanned)
        self._restore.append((module, attr, fn))

    def unwrap(self) -> None:
        while self._restore:
            module, attr, fn = self._restore.pop()
            setattr(module, attr, fn)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.dur - covered
    return out


def layer_of(name: str) -> str:
    """Layer of a span: its name up to the first dot (``ml.als_fit`` → ml)."""
    return name.split(".", 1)[0]
