"""Span recording for the traced run, and the hooks that produce spans.

A span is one timed call at a layer boundary: name, start, end, parent
and run id. Spans stay in memory while the run measures and are written
out once, at exit. The hooks time calls into the engine's public entry
points from outside; nothing in the engine is edited, and the hooks are
removed again when tracing stops.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    run_id: str
    name: str
    start: float
    end: float
    attrs: dict

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @property
    def current(self) -> Span:
        """The innermost open span."""
        return self._stack[-1]

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), parent, self.run_id, name, time.time(), 0.0, attrs)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    def add(self, name: str, start: float, end: float, parent: Span, **attrs) -> None:
        """Record a span measured elsewhere (Catalyst phases are timed
        by the JVM), clamped into its parent so nesting holds."""
        start = min(max(start, parent.start), parent.end)
        end = min(max(end, start), parent.end)
        self.spans.append(
            Span(next(self._ids), parent.id, self.run_id, name, start, end, attrs)
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: (s.start, s.id)):
                f.write(json.dumps(asdict(s)) + "\n")


def check_nesting(spans: list[Span], slack: float = 1e-6) -> list[str]:
    """Every child must lie inside its parent; returns the violations."""
    by_id = {s.id: s for s in spans}
    bad = []
    for s in spans:
        if s.end < s.start:
            bad.append(f"span {s.id} {s.name} ends before it starts")
        if s.parent is None:
            continue
        p = by_id.get(s.parent)
        if p is None:
            bad.append(f"span {s.id} {s.name} has unknown parent {s.parent}")
        elif s.start < p.start - slack or s.end > p.end + slack:
            bad.append(f"span {s.id} {s.name} leaves parent {p.id} {p.name}")
    return bad


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the durations of its direct children."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.seconds
    return {s.id: s.seconds - child[s.id] for s in spans}


def by_root(spans: list[Span], roots: list[Span]) -> dict[int, list[Span]]:
    """The spans below each of `roots` (roots themselves excluded)."""
    parent = {s.id: s.parent for s in spans}
    root_ids = {r.id for r in roots}
    memo: dict[int, int | None] = {}

    def root_of(i):
        path = []
        while i is not None and i not in root_ids and i not in memo:
            path.append(i)
            i = parent.get(i)
        r = memo.get(i, i)
        for p in path:
            memo[p] = r
        return r

    out = {r.id: [] for r in roots}
    for s in spans:
        if s.id not in root_ids:
            r = root_of(s.id)
            if r in out:
                out[r].append(s)
    return out


class Hooks:
    """Wraps engine entry points so each call becomes a span.

    `wrap(owner, attr, name)` replaces `owner.attr` with a timing
    wrapper; `restore()` puts every original back. A module-level
    function imported by name into other modules (`load_table`) is
    replaced in each of those modules as well."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str, on_call=None, on_return=None, extra_owners=()):
        """`on_call(*args)` runs before the call, `on_return(result, *args)`
        after its span has closed."""
        orig = getattr(owner, attr)
        tracer = self.tracer

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if on_call is not None:
                on_call(*args, **kwargs)
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if on_return is not None:
                on_return(result, *args, **kwargs)
            return result

        for o in (owner, *extra_owners):
            if getattr(o, attr, None) is orig:
                self._saved.append((o, attr, orig))
                setattr(o, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
