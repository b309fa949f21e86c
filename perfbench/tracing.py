"""In-memory span recorder used by the traced run.

Spans are recorded from the benchmark's own files, around calls into the
program's layers: a wrapper replaces a public function or method, opens a
span named after the layer, and calls through. Each span keeps its name,
start, end, parent span and the request it belongs to. Nothing is written
until ``dump`` at exit. While ``active`` is false the wrappers call
straight through, except inside ``request`` on the same thread, so a
traced run can alternate traced and untraced rounds or requests;
``restore`` puts every replaced attribute back.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from typing import NamedTuple


class Span(NamedTuple):
    id: int
    parent: int
    name: str
    start: float
    end: float
    request: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = True
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    @contextmanager
    def request(self, request_id: str):
        """Trace this thread's calls, and tag every span it opens with
        `request_id`."""
        prev = getattr(self._tls, "request", "")
        self._tls.request = request_id
        try:
            yield
        finally:
            self._tls.request = prev

    def tracing(self) -> bool:
        return self.active or bool(getattr(self._tls, "request", ""))

    @contextmanager
    def span(self, name: str, on_enter=None, on_exit=None):
        """Record one span. `on_enter(span_id)` runs inside the span before
        the body, `on_exit(span_id)` after it (used to tag Spark jobs)."""
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else 0
        stack.append(sid)
        start = time.perf_counter()
        try:
            if on_enter is not None:
                on_enter(sid)
            yield sid
        finally:
            if on_exit is not None:
                on_exit(sid)
            end = time.perf_counter()
            stack.pop()
            self.spans.append(
                Span(sid, parent, name, start, end, getattr(self._tls, "request", ""))
            )

    def wrap(self, name: str, fn, on_enter=None, on_exit=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.tracing():
                return fn(*args, **kwargs)
            with self.span(name, on_enter, on_exit):
                return fn(*args, **kwargs)

        traced.__wrapped_by_perfbench__ = True
        return traced

    def patch(self, owner, attr: str, name: str, **hooks) -> None:
        fn = getattr(owner, attr)
        if getattr(fn, "__wrapped_by_perfbench__", False):
            return
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, self.wrap(name, fn, **hooks))

    def restore(self) -> None:
        """Undo every ``patch``, last first."""
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # -- queries over the recorded spans -----------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def child_seconds(self) -> dict[int, float]:
        """Span id -> time covered by its direct children. A span's self
        time is its duration minus this (children of one span run on its
        thread, one after another, so their durations add up)."""
        out: dict[int, float] = {}
        for s in self.spans:
            if s.parent:
                out[s.parent] = out.get(s.parent, 0.0) + s.seconds
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s._asdict() for s in self.spans], f)
