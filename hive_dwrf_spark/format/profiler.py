"""Read/write phase profiler for the DWRF format core.

Re-expresses the reference's ``ReaderWriterProfiler``
(hive-dwrf-shims/src/main/java/org/apache/hadoop/hive/serde2/
ReaderWriterProfiler.java:33-56): six phase counters —
compression / encoding / serialization on the write path,
decompression / decoding / deserialization on the read path — plus
READ/WRITE wall totals. Like the reference it is disabled by default
(``hive.exec.profiler.readwrite`` there; ``enable()`` or the
``DWRF_PROFILE=1`` env var here) and adds only an ``if`` per call site
when off.

Counters are per-process (each Spark executor worker accumulates its
own) and summed over the threads that read or write: a profiled read
runs on the same stripe and column pools as an unprofiled one. Nesting
is tracked per thread, so nested phases of the same kind count wall
time once (the reference tracks this with its started/ended arrays),
and the counters are updated under one lock. Reported as
``{phase: {"seconds": float, "calls": int}}``; a phase's seconds are
summed over its threads, so a pooled read's phases may add up to more
than its wall time.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager

from .env import env_int

PHASES = (
    "compression",
    "encoding",
    "serialization",
    "decompression",
    "decoding",
    "deserialization",
    "read",
    "write",
)


class Profiler:
    def __init__(self) -> None:
        self.enabled = bool(env_int("DWRF_PROFILE", 0))
        self._lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.seconds = dict.fromkeys(PHASES, 0.0)
            self.calls = dict.fromkeys(PHASES, 0)
            self._local = threading.local()

    @property
    def _depth(self) -> dict[str, int]:
        """The calling thread's nesting depth per phase."""
        depth = getattr(self._local, "depth", None)
        if depth is None:
            depth = self._local.depth = dict.fromkeys(PHASES, 0)
        return depth

    def enable(self) -> None:
        self.enabled = True

    def disable(self) -> None:
        self.enabled = False

    @contextmanager
    def phase(self, name: str):
        """Time a phase. Nested phases of the same name (e.g. decode of a
        struct recursing into children) only count at the outermost level."""
        if not self.enabled:
            yield
            return
        depth = self._depth
        depth[name] += 1
        outermost = depth[name] == 1
        t0 = time.perf_counter() if outermost else 0.0
        try:
            yield
        finally:
            if outermost:
                took = time.perf_counter() - t0
                with self._lock:
                    self.seconds[name] += took
                    self.calls[name] += 1
            depth[name] -= 1

    def report(self) -> dict[str, dict[str, float | int]]:
        with self._lock:
            return {
                p: {"seconds": self.seconds[p], "calls": self.calls[p]}
                for p in PHASES
                if self.calls[p]
            }


#: module-level singleton, mirroring the reference's static instance
profiler = Profiler()
