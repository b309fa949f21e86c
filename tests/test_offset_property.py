"""Property test for the round-12 delta-offset protocol.

The planner's INTERNAL state (self._last, always the resolved inline
catalog) is the model; the EMITTED offset (inline below the threshold,
{base_ref, adds, removes, ...} above it) is the implementation under
test. For a random schedule of file arrivals, deletions and triggers,
at several delta thresholds:

- every emitted offset must RESOLVE (base + delta) to exactly the
  planner's internal catalog + watermark + late registry;
- a FRESH reader (simulating a restarted planner) must resolve the
  same offset to the same catalog from disk alone;
- consecutive resolved catalogs must keep the superset-modulo-
  retirement invariant: a name leaves only by falling below the
  watermark (the anchor-clobber regression class).

The listing is synthetic (the same monkeypatch the 1M stress row uses),
so the test exercises pure offset protocol — hundreds of schedules in
seconds, no Spark session. The base catalogs DO hit the real
filesystem (tmp dir), so atomic write + GC + resolution run for real.

The round-11 commit-log property test found a real parser bug
(torn-only logs); this is the same discipline applied to the offset
protocol the round-12 delta scheme introduced.
"""

from __future__ import annotations

import json
import shutil
import tempfile

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import LongType, StructField, StructType

SCHEMA = StructType([StructField("k", LongType())])

# one schedule step: (op, magnitude) — 0: add files, 1: delete oldest,
# 2: idle trigger (no listing change)
STEP = st.tuples(st.integers(0, 2), st.integers(1, 4))


@settings(max_examples=60, deadline=None)
@given(
    schedule=st.lists(STEP, min_size=1, max_size=25),
    threshold=st.sampled_from([0, 1, 3, 8]),
    cap=st.sampled_from([0, 2]),
)
def test_emitted_offsets_resolve_to_internal_state(schedule, threshold, cap):
    from hive_dwrf_spark.streaming.dwrf_stream import (
        _DwrfPartitionStreamReader,
    )

    src = tempfile.mkdtemp(prefix="offset_prop_")
    try:
        opts = {
            "path": src,
            "offsetDeltaThreshold": str(threshold),
            # a 30 s age window over 1 s-spaced mtimes forces retirement
            "maxFileAgeSec": "30",
        }
        if cap:
            opts["maxFilesPerTrigger"] = str(cap)
        rdr = _DwrfPartitionStreamReader(SCHEMA, opts)
        listing: dict = {}
        next_id = 0
        rdr._listing = lambda: dict(listing)
        rdr.initialOffset()

        prev_resolved: dict = {}
        prev_wm = 0
        for op, mag in schedule:
            if op == 0:
                for _ in range(mag):
                    listing[f"f{next_id:05d}.dwrf"] = (
                        (next_id + 1) * 1_000_000_000,
                        1024,
                    )
                    next_id += 1
            elif op == 1:
                for n in sorted(listing, key=lambda k: listing[k])[:mag]:
                    del listing[n]
            emitted = rdr.latestOffset()
            internal = rdr._last
            # shape contract: delta form only past the threshold
            n_names = len(internal["files"]) + len(internal.get("late", {}))
            if threshold and n_names > threshold:
                assert "base_ref" in emitted, (emitted, n_names)
                assert "files" not in emitted
            else:
                assert "base_ref" not in emitted

            # the same reader resolves its own emission exactly
            files, wm, late = rdr._resolve(emitted)
            assert files == internal["files"], (files, internal)
            assert wm == internal["watermark_ns"]
            assert late == internal.get("late", {})

            # a FRESH reader resolves it from disk alone (restart /
            # checkpoint interchange)
            rdr2 = _DwrfPartitionStreamReader(SCHEMA, dict(opts))
            f2, w2, l2 = rdr2._resolve(json.loads(json.dumps(emitted)))
            assert (f2, w2, l2) == (files, wm, late)

            # superset-modulo-retirement: a previously-admitted name
            # leaves the catalog only by falling below the watermark
            for n, m in prev_resolved.items():
                if n not in files:
                    assert m < wm, (n, m, wm)
            assert wm >= prev_wm  # the watermark never regresses
            prev_resolved, prev_wm = files, wm
    finally:
        shutil.rmtree(src, ignore_errors=True)
