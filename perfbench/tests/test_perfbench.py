"""Self-tests of the benchmark harness (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

from perfbench import common, dwrf_io, gen, lookup, pipeline, run, stream

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_limits(spec):
    e2e = spec["end_to_end"]
    per_layer = spec["per_layer"]
    assert 1 <= len(e2e) <= 16
    assert 1 <= len(per_layer) <= 128
    names = [m["name"] for m in e2e + per_layer] + [w["name"] for w in spec["workloads"]]
    assert all(NAME.fullmatch(n) for n in names), names
    assert len({m["name"] for m in e2e + per_layer}) == len(e2e) + len(per_layer)
    assert all(0 < m["bound"] <= 0.25 for m in e2e)
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in e2e


def test_spec_matches_code(spec):
    """BENCHMARK.json and the metrics the harness prints are one list."""
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in common.END_TO_END
    ]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == common.PER_LAYER
    assert tuple(w["name"] for w in spec["workloads"]) == run.WORKLOADS


def test_sample_count_rule():
    assert common.percentile(list(range(19)), 0.5) is None
    assert common.percentile(list(range(20)), 0.5) == 9.5
    assert common.percentile(list(range(99)), 0.9) is None
    assert common.percentile([float(i) for i in range(100)], 0.9) == pytest.approx(89.9)
    with pytest.raises(ValueError):
        common.percentile(list(range(1000)), 0.99)


def test_seed_determinism(tmp_path):
    from hive_dwrf_spark.format import write_arrow_table

    a = gen.lineitem(5, 2000, 500, 60, 10)
    assert a.equals(gen.lineitem(5, 2000, 500, 60, 10))
    assert not a.equals(gen.lineitem(6, 2000, 500, 60, 10))
    one, two = tmp_path / "a.dwrf", tmp_path / "b.dwrf"
    write_arrow_table(str(one), stream.slice_table(5, 3))
    write_arrow_table(str(two), stream.slice_table(5, 3))
    assert one.read_bytes() == two.read_bytes()
    tables = gen.star_schema(1, 0.001)
    again = gen.star_schema(1, 0.001)
    assert all(tables[k].equals(again[k]) for k in tables)
    assert pipeline.pass_order(5, 2) == pipeline.pass_order(5, 2)
    assert sorted(pipeline.pass_order(5, 2)) == sorted(pipeline.QUERIES)
    assert dwrf_io.key_range(5, a) == dwrf_io.key_range(5, a)
    r1 = lookup.Requests(5, 1000, 40_000, 1000)
    r2 = lookup.Requests(5, 1000, 40_000, 1000)
    assert [r1.request(c, j) for c in range(4) for j in range(10)] == [
        r2.request(c, j) for c in range(4) for j in range(10)
    ]


def test_pipeline_hashes_cover_queries():
    with open(pipeline.HASHES_FILE) as f:
        doc = json.load(f)
    assert set(doc["hashes"]) == set(pipeline.QUERIES)
    assert doc["data_seed"] == pipeline.DATA_SEED and doc["data_sf"] == pipeline.DATA_SF


def _common_prefix(a: list, b: list) -> int:
    n = 0
    while n < min(len(a), len(b)) and a[n] == b[n]:
        n += 1
    return n


def test_lookup_traced_run_issues_the_timed_requests(tmp_path, monkeypatch):
    """Run the lookup workload (small inputs, no Spark) untraced and
    traced, recording every call into the program by client thread: each
    client makes the same calls in the same order."""
    import threading

    from hive_dwrf_spark.format import lookup as lookup_mod
    from hive_dwrf_spark.format import reader

    monkeypatch.setattr(lookup, "KEY_ROWS", 8_000)
    monkeypatch.setattr(lookup, "ROW_ROWS", 32_000)
    monkeypatch.setattr(lookup, "SLICE_S", 0.05)
    calls: dict[str, list] = {}

    def record(kind, args):
        calls.setdefault(threading.current_thread().name, []).append((kind, tuple(args)))

    lookup_keys, read_rows_at = lookup_mod.lookup_keys, reader.DwrfFile.read_rows_at

    def keys_recorded(path, column, keys, **kw):
        record("key", keys)
        return lookup_keys(path, column, keys, **kw)

    def rows_recorded(self, rows, *a, **kw):
        record("row", rows)
        return read_rows_at(self, rows, *a, **kw)

    monkeypatch.setattr(lookup_mod, "lookup_keys", keys_recorded)
    monkeypatch.setattr(reader.DwrfFile, "read_rows_at", rows_recorded)
    runs = []
    for traced in (False, True):
        calls.clear()
        work = tmp_path / f"w{int(traced)}"
        work.mkdir()
        r = common.Run(
            "lookup", 7, 1.0, traced, ROOT, str(work),
            tracer=common.Tracer() if traced else None,
        )
        try:
            lookup.main(r)
        finally:
            if r.tracer is not None:
                r.tracer.restore()
        assert r.failed == 0, r.failures
        runs.append((r, dict(calls)))
    assert common._children() == []  # the input writer has ended
    (_, untraced), (r, traced) = runs
    assert r.tracer.named("lookup.lookup_keys") and r.tracer.named("format.read_rows_at")
    assert set(untraced) == set(traced) == {f"client{c}" for c in range(lookup.CLIENTS)}
    for client, seq in untraced.items():
        assert _common_prefix(seq, traced[client]) == min(len(seq), len(traced[client]))
        # the compared calls go beyond the warm-up
        assert min(len(seq), len(traced[client])) > lookup.WARMUP_REQUESTS + 1


def test_run_waits_for_orphaned_descendants():
    """A process whose parent ends first is waited for before a run ends."""
    code = (
        "import os, subprocess, time\n"
        "from perfbench.common import adopt_orphans, stop_children\n"
        "adopt_orphans()\n"
        "out = subprocess.run(['sh', '-c', 'sleep 1 >/dev/null 2>&1 & echo $!'],\n"
        "                     capture_output=True, text=True, check=True).stdout\n"
        "t0 = time.monotonic()\n"
        "stop_children()\n"
        "assert not os.path.exists(f'/proc/{int(out)}')\n"
        "assert time.monotonic() - t0 > 0.5\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True, timeout=60)


def test_pipeline_traced_run_issues_the_timed_queries(tmp_path, monkeypatch):
    """Run the pipeline workload on a stand-in session and registry,
    untraced and traced: both build the same queries in the same order."""
    from types import SimpleNamespace

    import hive_dwrf_spark.queries as queries_mod

    class Context:
        def __init__(self):
            self.props = {}

        def getLocalProperty(self, key):
            return self.props.get(key)

        def setLocalProperty(self, key, value):
            self.props[key] = value

        def statusTracker(self):
            return SimpleNamespace(getJobIdsForGroup=lambda group: [])

    built: list[str] = []

    def query(name):
        def build(spark, data_dir):
            built.append(name)
            return SimpleNamespace(collect=lambda: [])

        return build

    registry = {q: query(q) for q in pipeline.QUERIES}
    monkeypatch.setattr(queries_mod, "load_registry", lambda: (registry, None))
    monkeypatch.setattr(pipeline, "write_tables", lambda data_dir: None)
    monkeypatch.setattr(pipeline, "start_spark", lambda run: SimpleNamespace(sparkContext=Context()))
    monkeypatch.setattr(pipeline, "stop_spark", lambda spark: None)
    monkeypatch.setattr(pipeline, "_operator_modules", lambda: [])
    seqs = []
    for traced in (False, True):
        built.clear()
        r = common.Run(
            "pipeline", 7, 0.05, traced, ROOT, str(tmp_path),
            tracer=common.Tracer() if traced else None,
        )
        pipeline.main(r)
        seqs.append(list(built))
    untraced, traced = seqs
    assert r.tracer.named("queries.construct")
    assert "trace.overhead_ratio" in r.layers
    n = min(len(untraced), len(traced))
    assert n >= (pipeline.WARMUP_PASSES + 2) * len(pipeline.QUERIES)
    assert _common_prefix(untraced, traced) == n
