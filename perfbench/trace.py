"""In-memory spans recorded from outside the engine.

A ``Tracer`` wraps module attributes and methods of the engine (the calls
into each layer) so that every call opens a span. Spans carry the id of the
request (one generation or one query) they belong to and the span that
caused them; they stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_THIS_FILE = os.path.abspath(__file__)


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    kind: str  # "request" | "layer" | "plan" | "action"
    request: str | None
    start: float  # epoch seconds, comparable with Spark's job times
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the part of ``[lo, hi]`` covered by the union of
    ``intervals`` (pairs of start, end)."""
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


def caller_site(root: str) -> str:
    """``file:line`` of the innermost frame outside pyspark and this
    module, relative to ``root`` when it lies below it."""
    f = sys._getframe(1)
    while f is not None:
        path = os.path.abspath(f.f_code.co_filename)
        if path != _THIS_FILE and f"{os.sep}pyspark{os.sep}" not in path:
            rel = os.path.relpath(path, root)
            shown = path if rel.startswith("..") else rel
            return f"{shown}:{f.f_lineno}"
        f = f.f_back
    return "?"


class Tracer:
    """Records spans; ``on_action(span)`` runs after every action span so
    the caller can attach Spark's own statistics to it. Time spent in
    ``on_action`` and in the tracer's own bookkeeping is summed in
    ``overhead_s``."""

    def __init__(self, root: str, on_action=None):
        self.root = root
        self.on_action = on_action
        self.spans: list[Span] = []
        self.request: str | None = None
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, kind: str = "layer", **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, kind, self.request,
                 time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def in_action(self) -> bool:
        return any(s.kind == "action" for s in self._stack)

    def wrap(self, owner, attr: str, name: str, kind: str = "layer") -> None:
        """Replace ``owner.attr`` by a wrapper that opens a span per call.

        Action spans record their calling ``file:line``; an action called
        from inside another action's span is not traced again."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if kind == "action" and self.in_action():
                return original(*args, **kwargs)
            t0 = time.perf_counter()
            attrs = {"site": caller_site(self.root)} if kind == "action" else {}
            self.overhead_s += time.perf_counter() - t0
            with self.span(name, kind, **attrs) as s:
                result = original(*args, **kwargs)
            if kind == "action" and self.on_action is not None:
                t0 = time.perf_counter()
                self.on_action(s)
                self.overhead_s += time.perf_counter() - t0
            return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """The span's duration minus the time its child spans cover."""
        kids = [(c.start, c.end) for c in self.children(span)]
        return span.duration - covered(kids, span.start, span.end)

    def within(self, span: Span) -> list[Span]:
        """Every span nested (at any depth) inside ``span``."""
        out, frontier = [], [span.id]
        while frontier:
            pid = frontier.pop()
            for s in self.spans:
                if s.parent == pid:
                    out.append(s)
                    frontier.append(s.id)
        return out

    def dump(self, path: str) -> None:
        rows = []
        for s in self.spans:
            row = asdict(s)
            row["self_s"] = self.self_time(s)
            rows.append(row)
        with open(path, "w") as fh:
            json.dump(rows, fh, default=str)
