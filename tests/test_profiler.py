"""Read/write phase profiler (ReaderWriterProfiler.java:33-56 analog):
disabled by default, six phase counters + read/write totals, reentrant
nesting counts wall time once."""

from __future__ import annotations

import threading

import numpy as np
import pyarrow as pa

from hive_dwrf_spark.format import DwrfFile, write_arrow_table
from hive_dwrf_spark.format.profiler import profiler


def _table(n=20000):
    rng = np.random.default_rng(7)
    return pa.table(
        {
            "i": pa.array(rng.integers(0, 1000, n).astype(np.int32)),
            "l": pa.array(rng.integers(0, 10, n)),
            "s": pa.array([f"word{x}" for x in rng.integers(0, 50, n)]),
            # nested column: decode recursion must not double-count
            "arr": pa.array([[int(x), int(x) + 1] for x in rng.integers(0, 9, n)]),
        }
    )


def test_disabled_by_default_counts_nothing(tmp_path):
    profiler.reset()
    assert not profiler.enabled
    path = str(tmp_path / "t.dwrf")
    write_arrow_table(path, _table())
    with DwrfFile(path) as f:
        f.read()
    assert profiler.report() == {}


def test_phases_counted_once_per_nesting(tmp_path, monkeypatch):
    profiler.reset()
    profiler.enable()
    try:
        path = str(tmp_path / "t.dwrf")
        write_arrow_table(path, _table(), stripe_rows=5000)
        rep = profiler.report()
        for phase in ("write", "serialization", "encoding", "compression"):
            assert rep[phase]["calls"] > 0, phase
            assert rep[phase]["seconds"] >= 0.0
        # write total dominates its sub-phases (they nest inside it)
        assert rep["write"]["seconds"] >= rep["encoding"]["seconds"]
        assert rep["write"]["seconds"] >= rep["compression"]["seconds"]

        # a profiled read is the same read: its stripes decode on the
        # stripe pool, as they do unprofiled
        stripe_threads = set()
        read_stripe = DwrfFile.read_stripe

        def recording(self, *args, **kwargs):
            stripe_threads.add(threading.get_ident())
            return read_stripe(self, *args, **kwargs)

        monkeypatch.setattr(DwrfFile, "read_stripe", recording)
        profiler.reset()
        with DwrfFile(path) as f:
            got = f.read()
        rep = profiler.report()
        assert got.num_rows == 20000
        assert stripe_threads and threading.get_ident() not in stripe_threads
        for phase in ("read", "decompression", "decoding", "deserialization"):
            assert rep[phase]["calls"] > 0, phase
        assert rep["read"]["seconds"] >= rep["decoding"]["seconds"]
        # 4 stripes x 4 top-level columns = 16 outermost decodes; the
        # nested list child must NOT add extra outermost decode calls
        assert rep["decoding"]["calls"] == 16
    finally:
        profiler.disable()
        profiler.reset()


def test_reentrant_depth_restored_on_error():
    profiler.reset()
    profiler.enable()
    try:
        with profiler.phase("decoding"):
            try:
                with profiler.phase("decoding"):
                    raise ValueError("boom")
            except ValueError:
                pass
        assert profiler._depth["decoding"] == 0
        assert profiler.report()["decoding"]["calls"] == 1
    finally:
        profiler.disable()
        profiler.reset()


def test_threads_lose_no_counts():
    """8 threads (more than the cores) nest phases concurrently, with
    frequent thread switches: every outermost phase is counted once, and
    every thread's nesting depth returns to zero."""
    import sys

    per_thread = 300
    depths = []

    def work():
        for _ in range(per_thread):
            with profiler.phase("read"):
                with profiler.phase("decoding"):
                    with profiler.phase("decoding"):
                        pass
        depths.append(dict(profiler._depth))

    profiler.reset()
    profiler.enable()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        rep = profiler.report()
    finally:
        sys.setswitchinterval(old)
        profiler.disable()
        profiler.reset()
    assert rep["read"]["calls"] == rep["decoding"]["calls"] == 8 * per_thread
    assert len(depths) == 8 and all(not any(d.values()) for d in depths)
