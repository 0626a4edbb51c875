"""In-memory spans recorded around calls into the engine's layers.

The engine is not edited: :meth:`Tracer.wrap` replaces a public function or
method on its module or class with a wrapper that opens a span for the
duration of the call, and :meth:`Tracer.unwrap_all` puts the originals back.
Spans nest by call order (one thread), so each span knows the span that
caused it.  A span's *self time* is its duration minus the part of that
interval covered by its children.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered_length(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of it its children cover (child
    intervals are clipped to the parent and overlaps counted once)."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end is not None
    ]
    return span.duration - covered_length(clipped)


class Tracer:
    """Records spans; optional ``on_enter``/``on_exit`` hooks see the span
    stack, e.g. to label the Spark jobs a span launches."""

    def __init__(
        self,
        clock: Callable[[], float] = time.perf_counter,
        on_enter: Callable[["Tracer", Span], None] | None = None,
        on_exit: Callable[["Tracer", Span], None] | None = None,
    ):
        self.clock = clock
        self.on_enter = on_enter
        self.on_exit = on_exit
        self.enabled = True
        #: wall seconds spent in the hooks: the in-process cost of tracing
        self.hook_s = 0.0
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def _open(self, name: str, attrs: dict) -> Span:
        parent = self.current
        sp = Span(len(self.spans), name, None if parent is None else parent.id,
                  self.clock(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        if self.on_enter:
            t = time.perf_counter()
            self.on_enter(self, sp)
            self.hook_s += time.perf_counter() - t
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = self.clock()
        self._stack.pop()
        if self.on_exit:
            t = time.perf_counter()
            self.on_exit(self, sp)
            self.hook_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = self._open(name, attrs)
        try:
            yield sp
        finally:
            self._close(sp)

    def wrap(
        self,
        owner: object,
        attr: str,
        name: str | None = None,
        describe: Callable[..., dict] | None = None,
    ) -> None:
        """Wrap ``owner.attr`` (a module function or a class's method) in a
        span named ``name``.  ``describe(args, kwargs, result)`` returns
        attributes recorded on the span after the call."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, (staticmethod, classmethod)) else orig
        label = name or f"{getattr(owner, '__name__', owner)}.{attr}"
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sp = tracer._open(label, {})
            try:
                result = fn(*args, **kwargs)
                if describe is not None:
                    sp.attrs.update(describe(args, kwargs, result))
                return result
            finally:
                tracer._close(sp)

        if isinstance(orig, staticmethod):
            wrapper = staticmethod(wrapper)
        elif isinstance(orig, classmethod):
            wrapper = classmethod(wrapper)
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- queries ------------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def self_times(self) -> dict[int, float]:
        kids = self.children()
        return {sp.id: self_time(sp, kids.get(sp.id, [])) for sp in self.spans}

    def ancestors(self, sp: Span):
        while sp.parent is not None:
            sp = self.spans[sp.parent]
            yield sp

    def to_rows(self) -> list[dict]:
        st = self.self_times()
        return [
            {
                "id": sp.id, "name": sp.name, "parent": sp.parent,
                "start": sp.start, "end": sp.end, "self_s": st[sp.id],
                **({"attrs": sp.attrs} if sp.attrs else {}),
            }
            for sp in self.spans
        ]
