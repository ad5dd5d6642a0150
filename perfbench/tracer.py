"""In-memory span tracer with function wrapping.

A span records a name, start, end, parent span and run id. Spans are
kept in memory and written as one JSON file at the end. Wrapping
replaces a module attribute with a timing wrapper and restores it on
``unwrap_all``; wrap an attribute in the module that *binds* it (e.g.
``encode.encode_array``, which ``encode`` imported from ``codec``), or
the engine's calls will not see the wrapper.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "attrs")

    def __init__(self, sid: int, name: str, start: float, parent: int | None):
        self.id, self.name, self.start, self.parent = sid, name, start, parent
        self.end = start
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._wrapped: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent)
        s.attrs.update(attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str, before=None,
             on_call=None) -> None:
        """Time every call of ``module.attr`` as a span named ``name``.
        ``before(span, args, kwargs)`` and ``on_call(span, args, kwargs,
        result)`` may annotate the span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                if before is not None:
                    before(s, args, kwargs)
                result = orig(*args, **kwargs)
                if on_call is not None:
                    on_call(s, args, kwargs, result)
                return result

        setattr(module, attr, wrapper)
        self._wrapped.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._wrapped:
            module, attr, orig = self._wrapped.pop()
            setattr(module, attr, orig)

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the time its child spans cover
        (children of one span never overlap: tracing is single-threaded)."""
        kids = self.children()
        return {s.id: s.dur - sum(c.dur for c in kids.get(s.id, []))
                for s in self.spans}

    def subtree(self, root: Span) -> list[Span]:
        kids = self.children()
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += kids.get(s.id, [])
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        """Write every span (with its self time and scalar attributes)
        and ``extra`` as one JSON file."""
        selfs = self.self_times()
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            json.dump({
                **(extra or {}),
                "run_id": self.run_id,
                "spans": [{
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "run_id": self.run_id,
                    "start_s": s.start - t0, "end_s": s.end - t0,
                    "self_s": selfs[s.id],
                    **{k: v for k, v in s.attrs.items()
                       if isinstance(v, (int, float, str, bool))},
                } for s in self.spans],
            }, f)
