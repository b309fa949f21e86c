"""``dwrf_io``: writing, scanning and streaming DWRF through Spark.

One round is four operations in a fixed order. The first three work on a
lineitem table generated from the seed (ordered by ``l_orderkey``):

- ``ingest``: ``df.write.format("dwrf")`` overwrites one directory;
- ``scan``: a full read of that directory, aggregated to a checksum
  (row count, per-column sums) that is compared with the source;
- ``pruned_scan``: two columns, an ``l_orderkey`` range holding ~3% of
  the rows, aggregated and compared with the same aggregate on the source;
- ``stream_batch``: one slice of events lands in the directory a running
  Structured Streaming query tails (see ``stream.py``).

The traced run alternates traced and untraced rounds, and adds in-process
probes of the format layer on the same
files (``write_arrow_table``, ``DwrfFile.read``) so the Spark-side latency
can be split into DataSource overhead and format work.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager, nullcontext

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import gen
from .common import (
    CpuMeter, Run, Stopwatch, median_or_zero, op_latency_ms, percentile,
    start_spark, stop_spark, timed_loop,
)
from .stream import StreamIngest

N_ROWS = 100_000
PRUNED_SHARE = 0.03
PROBE_REPEATS = 3
#: one round, in order
OPS = ("ingest", "scan", "pruned_scan", "stream_batch")


def source_table(seed: int) -> pa.Table:
    n_orders = N_ROWS // 4
    return gen.lineitem(seed, N_ROWS, n_orders, n_parts=N_ROWS // 30, n_supps=N_ROWS // 600)


def key_range(seed: int, table: pa.Table) -> tuple[int, int]:
    """A seeded [lo, hi) range of l_orderkey covering ~PRUNED_SHARE."""
    keys = table["l_orderkey"]
    top = pc.max(keys).as_py() + 1
    width = max(int(top * PRUNED_SHARE), 1)
    lo = int(gen.rng_for(seed, "range").integers(0, top - width))
    return lo, lo + width


def checksum_exprs(schema: pa.Schema):
    from pyspark.sql import functions as F

    out = [F.count(F.lit(1)).alias("rows")]
    for field in schema:
        c = F.col(field.name)
        if pa.types.is_string(field.type):
            out.append(F.sum(F.length(c)).alias(field.name))
        elif pa.types.is_timestamp(field.type):
            out.append(F.sum(F.unix_seconds(c.cast("timestamp"))).alias(field.name))
        else:
            out.append(F.sum(c).alias(field.name))
    return out


def expected_checksum(table: pa.Table) -> dict:
    out = {"rows": table.num_rows}
    for field in table.schema:
        col = table[field.name]
        if pa.types.is_string(field.type):
            out[field.name] = pc.sum(pc.utf8_length(col)).as_py()
        elif pa.types.is_timestamp(field.type):
            seconds = pc.divide(col.cast(pa.int64()), 1_000_000)  # whole days
            out[field.name] = pc.sum(seconds).as_py()
        else:
            out[field.name] = pc.sum(col).as_py()
    return out


def same(got: dict, want: dict) -> bool:
    """Integers exactly; float sums to 1e-9 relative (Spark adds in
    another order)."""
    if set(got) != set(want):
        return False
    for k, w in want.items():
        g = got[k]
        if isinstance(w, float):
            if g is None or not math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-6):
                return False
        elif g != w:
            return False
    return True


def expected_pruned(table: pa.Table, lo: int, hi: int) -> dict:
    keys = table["l_orderkey"]
    hit = table.filter(pc.and_(pc.greater_equal(keys, lo), pc.less(keys, hi)))
    return {
        "rows": hit.num_rows,
        "l_extendedprice": pc.sum(hit["l_extendedprice"]).as_py(),
        "l_orderkey": pc.sum(hit["l_orderkey"]).as_py(),
    }


def dwrf_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".dwrf")
    )


def main(run: Run) -> None:
    from pyspark.sql import functions as F

    setup = Stopwatch().start()
    table = source_table(run.seed)
    lo, hi = key_range(run.seed, table)
    want_scan = expected_checksum(table)
    want_pruned = expected_pruned(table, lo, hi)
    src = run.path("source.parquet")
    pq.write_table(table, src)
    out = run.path("ingested")
    stream = StreamIngest(run)
    spark = start_spark(run)
    try:
        src_df = spark.read.parquet(src)
        tracer = run.tracer
        if tracer is not None:
            tracer.active = False
        #: per kind: latency in seconds with the stolen share removed, and
        #: as the wall clock read it; in a traced run, of the traced rounds
        lat: dict[str, list[float]] = {kind: [] for kind in OPS}
        wall_lat: dict[str, list[float]] = {kind: [] for kind in OPS}
        untraced_lat: dict[str, list[float]] = {kind: [] for kind in OPS}
        bytes_per_row: list[float] = []
        groups: dict[str, list[str]] = {"ingest": [], "scan": []}

        def traced() -> bool:
            return tracer is not None and tracer.active

        def span(name):
            return tracer.span(name) if traced() else nullcontext()

        @contextmanager
        def job_group(kind: str, i: int):
            """In a traced round, tag the operation's Spark jobs so its
            task counts can be read back."""
            if not traced():
                yield
                return
            groups[kind].append(f"{kind}{i}")
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", f"{kind}{i}")
            try:
                yield
            finally:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

        def ingest(i):
            t0 = time.perf_counter()
            with job_group("ingest", i), span("sources.save"):
                src_df.write.format("dwrf").mode("overwrite").save(out)
            dt = time.perf_counter() - t0
            files = dwrf_files(out)
            bytes_per_row.append(sum(os.path.getsize(f) for f in files) / table.num_rows)
            return dt, bool(files)

        def load():
            with span("sources.load"):
                return spark.read.format("dwrf").load(out)

        def scan(i):
            t0 = time.perf_counter()
            with job_group("scan", i):
                got = load().agg(*checksum_exprs(table.schema)).collect()[0].asDict()
            return time.perf_counter() - t0, same(got, want_scan)

        def pruned(i):
            t0 = time.perf_counter()
            k = F.col("l_orderkey")
            got = (
                load()
                .select("l_orderkey", "l_extendedprice")
                .where((k >= lo) & (k < hi))
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum("l_extendedprice").alias("l_extendedprice"),
                    F.sum("l_orderkey").alias("l_orderkey"),
                )
                .collect()[0]
                .asDict()
            )
            return time.perf_counter() - t0, same(got, want_pruned)

        def stream_batch(_i):
            with span("streaming.batch"):
                dt = stream.batch()
            return dt, stream.sink_matches()

        fns = {"ingest": ingest, "scan": scan, "pruned_scan": pruned,
               "stream_batch": stream_batch}

        def one_round(i: int) -> None:
            mine = lat if traced() or tracer is None else untraced_lat
            for kind in OPS:
                fn = fns[kind]
                run.attempted += 1
                try:
                    with span(f"op.{kind}"), Stopwatch() as clock:
                        dt, ok = fn(i)
                except Exception as e:  # a failed operation, counted
                    run.check(False, f"{kind}: {type(e).__name__}: {e}"[:300])
                    continue
                mine[kind].append(dt * (1.0 - clock.steal_share))
                wall_lat[kind].append(dt)
                run.check(ok, f"{kind} {i}: output differs from the source")

        t_warm = time.perf_counter()
        run.attempted += 1
        stream.start(spark)
        run.check(stream.sink_matches(), "stream: first batch")
        one_round(-1)
        run.layers["session.warmup_s"] = time.perf_counter() - t_warm
        for v in [*lat.values(), *wall_lat.values(), *untraced_lat.values()]:
            v.clear()
        setup.stop()
        run.setup_s = setup.seconds
        run.report.update({"setup_wall_s": setup.wall, "setup_steal_share": setup.steal_share})

        if tracer is None:
            with CpuMeter() as cpu:
                timed_loop(run.seconds, one_round)
            all_lat = [x for v in lat.values() for x in v]
            run.e2e["op_latency_ms"] = op_latency_ms(lat)
            run.report.update(
                {f"{k}_s_p50": percentile(v, 0.5) for k, v in lat.items()}
                | {f"{k}_samples": len(v) for k, v in lat.items()}
                | {f"{k}_s_median": median_or_zero(v) for k, v in lat.items()}
                | {
                    "op_latency_wall_ms": op_latency_ms(wall_lat),
                    "cpu_ms_per_op": cpu.ms_per(len(all_lat)),
                    "dwrf_bytes_per_row": median_or_zero(bytes_per_row),
                    "rows": N_ROWS,
                    "ops_per_s": len(all_lat) / sum(all_lat),
                }
            )
        else:
            from hive_dwrf_spark.format import reader

            tracer.patch(reader.DwrfFile, "__init__", "format.open")
            n_progress = len(stream.query.recentProgress)

            # the rounds the untraced run times, tracing every other one
            def alternate(i: int) -> None:
                tracer.active = i % 2 == 1
                one_round(i)

            timed_loop(2 * run.seconds, alternate)
            tracer.active = True
            run.layers["trace.overhead_ratio"] = op_latency_ms(lat) / op_latency_ms(untraced_lat) - 1.0
            run.layers.update(stream.layers(n_progress))
            _spark_layers(run, spark, groups)
            _format_probes(run, table, dwrf_files(out), lo, hi)
            run.layers["sources.scan_overhead_s"] = (
                median_or_zero(untraced_lat["scan"]) - run.layers["format.read_s"]
            )
            run.layers["sources.ingest_overhead_s"] = (
                median_or_zero(untraced_lat["ingest"]) - run.layers["format.write_s"]
            )
    finally:
        try:
            stream.stop()
        finally:
            stop_spark(spark)


def _first_stage_tasks(sc, group: str) -> int:
    st = sc.statusTracker()
    jobs = sorted(st.getJobIdsForGroup(group))
    if not jobs:
        return 0
    info = st.getJobInfo(jobs[0])
    stage = st.getStageInfo(min(info.stageIds)) if info and info.stageIds else None
    return stage.numTasks if stage else 0


def _spark_layers(run: Run, spark, groups: dict) -> None:
    sc = spark.sparkContext
    tracer = run.tracer
    run.layers["sources.load_s"] = median_or_zero([s.seconds for s in tracer.named("sources.load")])
    run.layers["sources.scan_tasks"] = median_or_zero(
        [_first_stage_tasks(sc, g) for g in groups["scan"]]
    )
    run.layers["sources.write_tasks"] = median_or_zero(
        [_first_stage_tasks(sc, g) for g in groups["ingest"]]
    )


def _format_probes(run: Run, table: pa.Table, files: list[str], lo: int, hi: int) -> None:
    """In-process calls into the format layer on the workload's own table
    and files: timed with the profiler off, then once more with it on for
    the phase split (the profiler turns the reader's thread pools off)."""
    from hive_dwrf_spark.format import reader, write_arrow_table
    from hive_dwrf_spark.format.profiler import profiler

    probe = run.path("probe.dwrf")
    filters = [("l_orderkey", "gte", lo), ("l_orderkey", "lt", hi)]
    columns = ["l_orderkey", "l_extendedprice"]

    def read_all(**kw):
        n = 0
        for f in files:
            with reader.DwrfFile(f) as d:
                n += d.read(**kw).num_rows
        return n

    def timed(fn):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    write_s = [timed(lambda: write_arrow_table(probe, table)) for _ in range(PROBE_REPEATS)]
    read_s = [timed(read_all) for _ in range(PROBE_REPEATS)]
    pruned_s = [timed(lambda: read_all(columns=columns, filters=filters)) for _ in range(PROBE_REPEATS)]

    # stripes pruned by statistics on the pruned read
    stripe_results: list[bool] = []
    orig = reader.DwrfFile.read_stripe

    def counting(self, *a, **kw):
        t = orig(self, *a, **kw)
        stripe_results.append(t is None)
        return t

    reader.DwrfFile.read_stripe = counting
    try:
        read_all(columns=columns, filters=filters)
    finally:
        reader.DwrfFile.read_stripe = orig
    n_stripes = sum(len(reader.DwrfFile(f).footer.stripes) for f in files)

    profiler.reset()
    profiler.enable()
    try:
        write_arrow_table(probe, table)
        wrote = profiler.report()
        profiler.reset()
        read_all()
        read = profiler.report()
    finally:
        profiler.disable()
        profiler.reset()

    def phase(rep, name):
        return rep.get(name, {}).get("seconds", 0.0)

    run.layers.update(
        {
            "format.write_s": statistics.median(write_s),
            "format.read_s": statistics.median(read_s),
            "format.pruned_read_s": statistics.median(pruned_s),
            "format.compression_s": phase(wrote, "compression"),
            "format.encoding_s": phase(wrote, "encoding"),
            "format.serialization_s": phase(wrote, "serialization"),
            "format.compression_ratio": table.nbytes / os.path.getsize(probe),
            "format.decompression_s": phase(read, "decompression"),
            "format.decoding_s": phase(read, "decoding"),
            "format.deserialization_s": phase(read, "deserialization"),
            "format.open_s": median_or_zero([s.seconds for s in run.tracer.named("format.open")]),
            # files pruned whole by footer stats never reach read_stripe
            "format.stripes_pruned_ratio": (
                n_stripes - (len(stripe_results) - sum(stripe_results))
            )
            / max(n_stripes, 1),
        }
    )
