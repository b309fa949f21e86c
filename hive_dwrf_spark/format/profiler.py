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
own), reentrant-safe (nested phases of the same kind count wall time
once — the reference tracks this with its started/ended arrays), and
reported as ``{phase: {"seconds": float, "calls": int}}``.
"""

from __future__ import annotations

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
        self.reset()

    def reset(self) -> None:
        self.seconds = dict.fromkeys(PHASES, 0.0)
        self.calls = dict.fromkeys(PHASES, 0)
        self._depth = dict.fromkeys(PHASES, 0)

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
        self._depth[name] += 1
        outermost = self._depth[name] == 1
        t0 = time.perf_counter() if outermost else 0.0
        try:
            yield
        finally:
            if outermost:
                self.seconds[name] += time.perf_counter() - t0
                self.calls[name] += 1
            self._depth[name] -= 1

    def report(self) -> dict[str, dict[str, float | int]]:
        return {
            p: {"seconds": self.seconds[p], "calls": self.calls[p]}
            for p in PHASES
            if self.calls[p]
        }


#: module-level singleton, mirroring the reference's static instance
profiler = Profiler()
