"""``lookup``: the serving path, no Spark.

Four client threads in a closed loop, each alternating two request types:

- ``key``: ``format.lookup.lookup_keys`` of 16 ``l_orderkey`` values over a
  directory of 8 range-sorted DWRF files (a lineitem of 600k rows). Keys
  are Zipf-skewed over a seeded permutation of the key space.
- ``row``: ``DwrfFile.read_rows_at`` of 16 rows on one long-lived handle
  over a 2.4M-row lineitem file (~180 MB decoded, about 3x the reader's
  64 MB stride cache). Rows are Zipf-skewed over the file's strides taken
  in seeded order, so the hot strides fit the cache and the tail does not.

Every returned table is compared with the source rows after the measured
phases. The traced run switches tracing off and on in turns of SLICE_S
seconds, so traced and untraced requests meet the same conditions.
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import sys
import threading
import time
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import gen
from .common import (
    CpuMeter, Run, Stopwatch, median_or_zero, op_latency_ms, percentile,
    window_peak_rss_mb,
)

KEY_ROWS = 600_000
KEY_FILES = 8
ROW_ROWS = 4 * KEY_ROWS
CLIENTS = 4
BATCH = 16
WARMUP_REQUESTS = 6  # per client
#: the timed phase reads peak RSS once per turn of this length; the
#: traced run switches tracing off and on in such turns
SLICE_S = 1.0


def key_table(seed: int, n: int) -> pa.Table:
    return gen.lineitem(seed, n, n // 4, n // 30, n // 600)


def row_table(seed: int, n: int) -> pa.Table:
    return gen.lineitem(seed + 1, n, n // 4, n // 30, n // 600)


class Requests:
    """The seeded request streams: client c's j-th request is a pure
    function of (seed, c, j)."""

    def __init__(self, seed: int, n_keys: int, n_rows: int, stride: int) -> None:
        self.seed = seed
        self.n_rows = n_rows
        self.stride = stride
        self.n_strides = math.ceil(n_rows / stride)
        self.key_perm = gen.rng_for(seed, "keyperm").permutation(n_keys)
        self.stride_perm = gen.rng_for(seed, "strideperm").permutation(self.n_strides)

    def request(self, client: int, j: int) -> tuple[str, list[int]]:
        rng = gen.rng_for(self.seed, f"c{client}r{j}")
        if (client + j) % 2 == 0:
            return "key", sorted(int(k) for k in self.key_perm[gen.zipf_ranks(rng, len(self.key_perm), BATCH)])
        strides = self.stride_perm[gen.zipf_ranks(rng, self.n_strides, BATCH)]
        rows = strides * self.stride + rng.integers(0, self.stride, BATCH)
        return "row", [int(r) for r in np.minimum(rows, self.n_rows - 1)]


def write_inputs(seed: int, work: str, key_rows: int, row_rows: int) -> None:
    """Write the key directory and the row file (runs in a child process,
    see ``main``)."""
    from hive_dwrf_spark.format import write_arrow_table

    keys = key_table(seed, key_rows)
    key_dir = os.path.join(work, "keys")
    os.makedirs(key_dir, exist_ok=True)
    per_file = math.ceil(keys.num_rows / KEY_FILES)
    for i in range(KEY_FILES):
        write_arrow_table(
            os.path.join(key_dir, f"part-{i:02d}.dwrf"), keys.slice(i * per_file, per_file)
        )
    write_arrow_table(os.path.join(work, "rows.dwrf"), row_table(seed, row_rows))


def main(run: Run) -> None:
    from hive_dwrf_spark.format import DwrfFile
    from hive_dwrf_spark.format import lookup as lookup_mod

    tracer = run.tracer
    if tracer is not None:
        tracer.active = False  # requests are traced one by one
    trace_now = [False]  # whether requests starting now are traced
    with Stopwatch() as setup:
        # The writer's transient memory (several times the table) would set
        # this process's peak RSS and make it a measure of set-up; writing
        # in a child keeps peak_rss_mb a measure of serving.
        # A plain subprocess, waited for: multiprocessing would also start
        # a resource tracker that outlives this process.
        subprocess.run(
            [sys.executable, "-c",
             "import sys; from perfbench.lookup import write_inputs; "
             "write_inputs(int(sys.argv[1]), sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))",
             str(run.seed), run.work, str(KEY_ROWS), str(ROW_ROWS)],
            cwd=run.root, check=True,
        )
        key_dir = run.path("keys")
        handle = DwrfFile(run.path("rows.dwrf"))
        reqs = Requests(run.seed, KEY_ROWS // 4, handle.num_rows, handle.footer.rowIndexStride)
        seen_strides: set[int] = set()  # strides any row request touched so far
        seen_lock = threading.Lock()

        def serve(kind: str, args: list[int], trace: dict | None):
            if kind == "key":
                return lookup_mod.lookup_keys(key_dir, "l_orderkey", args, trace=trace)
            return handle.read_rows_at(args)

        next_request = [0] * CLIENTS  # each client's stream continues across phases

        def client_loop(c: int, stop: threading.Event, limit: int | None, out: list):
            start = next_request[c]
            while not stop.is_set() and (limit is None or next_request[c] < start + limit):
                j = next_request[c]
                kind, args = reqs.request(c, j)
                traced = trace_now[0]
                trace = {} if traced and kind == "key" else None
                first = False
                if kind == "row":
                    strides = {r // reqs.stride for r in args}
                    with seen_lock:
                        first = not strides <= seen_strides
                        seen_strides.update(strides)
                t0 = time.perf_counter()
                err = None
                try:
                    if traced:
                        with tracer.request(f"{kind}:{c}:{j}"):
                            got = serve(kind, args, trace)
                    else:
                        got = serve(kind, args, trace)
                except Exception as e:  # a failed request, counted
                    got, err = None, f"{type(e).__name__}: {e}"
                out.append(Record(kind, args, time.perf_counter() - t0, got, err, trace, first, traced))
                next_request[c] = j + 1

        def phase(seconds: float | None, limit: int | None, every=None):
            """Run every client until `seconds` pass or each has issued
            `limit` requests; call `every()` each SLICE_S seconds."""
            stop = threading.Event()
            outs = [[] for _ in range(CLIENTS)]
            threads = [
                threading.Thread(target=client_loop, args=(c, stop, limit, outs[c]), name=f"client{c}")
                for c in range(CLIENTS)
            ]
            t0 = time.perf_counter()
            for t in threads:
                t.start()
            if seconds is not None:
                end = t0 + seconds
                while (left := end - time.perf_counter()) > 0:
                    time.sleep(min(SLICE_S, left))
                    if every is not None:
                        every()
                stop.set()
            for t in threads:
                t.join()
            return [r for o in outs for r in o], time.perf_counter() - t0

        t_warm = time.perf_counter()
        warm, _ = phase(None, WARMUP_REQUESTS)
        run.layers["session.warmup_s"] = time.perf_counter() - t_warm
    run.setup_s = setup.seconds
    run.report.update({"setup_wall_s": setup.wall, "setup_steal_share": setup.steal_share,
                       "warmup_s": run.layers["session.warmup_s"]})

    if not run.trace:
        # peak RSS per SLICE_S window of serving (the check tables are
        # built later); the median window, as one window's peak depends on
        # which requests happen to overlap
        window_peak_rss_mb()
        peaks: list[float] = []
        with CpuMeter() as cpu, Stopwatch() as clock:
            timed, wall = phase(run.seconds, None, every=lambda: peaks.append(window_peak_rss_mb()))
        run.e2e["peak_rss_mb"] = statistics.median(peaks)
        lat = by_kind(timed)
        run.e2e["op_latency_ms"] = op_latency_ms(lat) * (1.0 - clock.steal_share)
        run.report.update(
            {
                "op_latency_wall_ms": op_latency_ms(lat),
                "peak_rss_max_mb": max(peaks),
                "steal_share": clock.steal_share,
                "cpu_ms_per_op": cpu.ms_per(len(timed)),
                "key_lookup_ms_p50": _ms(percentile(lat["key"], 0.5)),
                "key_lookup_ms_p90": _ms(percentile(lat["key"], 0.9)),
                "row_lookup_ms_p50": _ms(percentile(lat["row"], 0.5)),
                "row_lookup_ms_p90": _ms(percentile(lat["row"], 0.9)),
                "requests_per_s": len(timed) / wall,
                "key_samples": len(lat["key"]),
                "row_samples": len(lat["row"]),
                "clients": CLIENTS,
            }
        )
    else:
        from hive_dwrf_spark.format import reader

        tracer.patch(reader.DwrfFile, "__init__", "format.open")
        tracer.patch(reader.DwrfFile, "read_rows_at", "format.read_rows_at")
        tracer.patch(lookup_mod, "lookup_keys", "lookup.lookup_keys")

        def switch():  # requests starting in every other turn are traced
            trace_now[0] = not trace_now[0]

        timed, _ = phase(2 * run.seconds, None, every=switch)
        on = [r for r in timed if r.traced]
        off = [r for r in timed if not r.traced]
        run.layers["trace.overhead_ratio"] = op_latency_ms(by_kind(on)) / op_latency_ms(by_kind(off)) - 1.0
        _layers(run, on)
    handle.close()
    keys = key_table(run.seed, KEY_ROWS)
    rows = row_table(run.seed, ROW_ROWS)
    _check(run, warm + timed, keys, rows)


class Record(NamedTuple):
    kind: str
    args: list[int]
    seconds: float
    got: pa.Table | None
    err: str | None
    trace: dict | None  # lookup_keys' own trace, in traced key requests
    first: bool  # a row request touching a stride no earlier request touched
    traced: bool


def by_kind(records: list[Record]) -> dict[str, list[float]]:
    """Latency in seconds of every request, by request type."""
    out: dict[str, list[float]] = {"key": [], "row": []}
    for r in records:
        out[r.kind].append(r.seconds)
    return out


def _ms(seconds: float | None) -> float | None:
    return None if seconds is None else seconds * 1000.0


def _check(run: Run, records: list[Record], keys: pa.Table, rows: pa.Table) -> None:
    """Compare every returned table with the source rows (after the
    measured phases): key lookups return the matching rows in file order,
    which is key order; row lookups return rows in request order."""
    for r in records:
        run.attempted += 1
        if r.err is not None:
            run.check(False, f"{r.kind} {r.args[:3]}: {r.err}"[:300])
            continue
        if r.kind == "key":
            want = keys.filter(pc.is_in(keys["l_orderkey"], value_set=pa.array(r.args)))
        else:
            want = rows.take(pa.array(r.args))
        run.check(r.got.equals(want.cast(r.got.schema)), f"{r.kind} {r.args[:3]}: rows differ")


def _layers(run: Run, traced: list[Record]) -> None:
    tracer = run.tracer
    key_traces = [r.trace for r in traced if r.kind == "key" and r.trace]
    total = {k: sum(t.get(k, 0) for t in key_traces) for k in
             ("files_total", "files_pruned", "strides_total", "strides_scanned")}
    n_key = sum(1 for r in traced if r.kind == "key")
    key_opens = [s for s in tracer.named("format.open") if s.request.startswith("key:")]
    rows_first = [r.seconds * 1000.0 for r in traced if r.kind == "row" and r.first]
    rows_repeat = [r.seconds * 1000.0 for r in traced if r.kind == "row" and not r.first]
    n_row = len(rows_first) + len(rows_repeat)
    run.layers.update(
        {
            "lookup.files_pruned_ratio": total["files_pruned"] / max(total["files_total"], 1),
            "lookup.strides_scanned_ratio": total["strides_scanned"] / max(total["strides_total"], 1),
            "lookup.opens_per_request": len(key_opens) / max(n_key, 1),
            "lookup.row_first_touch_share": len(rows_first) / max(n_row, 1),
            "lookup.row_first_touch_ms_p50": median_or_zero(rows_first),
            "lookup.row_repeat_ms_p50": median_or_zero(rows_repeat),
            "format.open_s": median_or_zero([s.seconds for s in tracer.named("format.open")]),
        }
    )
