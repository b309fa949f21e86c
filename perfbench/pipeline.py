"""``pipeline``: the user-facing query surface.

One operation is one query from the registry: call it to build the
DataFrame, then ``collect()``. One round is a pass over QUERIES in an
order drawn from the seed. The tables are fixed (DATA_SEED), so every
query's canonical result hash can be pinned in ``pipeline_hashes.json``;
``pin.py`` regenerates that file after checking each query against its
DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import json
import os
import pkgutil
import time

import pyarrow.parquet as pq

from . import gen
from .common import (
    CpuMeter, Run, Stopwatch, median_or_zero, op_latency_ms, percentile,
    start_spark, stop_spark, timed_loop,
)

DATA_SEED = 1
DATA_SF = 0.01
#: untimed passes before timing: pass time still falls ~25% over the
#: first three passes after a cold one (JIT), measured on four cores
WARMUP_PASSES = 3

#: Queries of the headline set that neither write nor read DWRF, chosen so
#: a warm pass stays near three seconds on four cores: relational core (the
#: ``queries`` layer alone) plus operator-backed families, including one
#: iterative family (embedding_kmeans) that launches Spark jobs while the
#: DataFrame is being built.
QUERIES = [
    "q03",
    "q12",
    "q14",
    "dedup_exact",
    "text_tokens_top",
    "text_chunk",
    "pii_redact",
    "sample_fraction",
    "graph_pagerank",
    "embedding_kmeans",
]

HASHES_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pipeline_hashes.json")


def write_tables(data_dir: str) -> None:
    os.makedirs(data_dir, exist_ok=True)
    for name, table in gen.star_schema(DATA_SEED, DATA_SF).items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))


def result_hash(columns: list[str], rows) -> str:
    """sha256 of the rows in the oracle comparator's canonical form
    (columns sorted by name, values canonicalised, rows sorted)."""
    from tests.oracle import canonical_rows

    canon = canonical_rows(columns, [tuple(r) for r in rows])
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def pass_order(seed: int, n_pass: int) -> list[str]:
    rng = gen.rng_for(seed, f"pass{n_pass}")
    return [QUERIES[i] for i in rng.permutation(len(QUERIES))]


class _Jobs:
    """Tags Spark jobs with a job group per phase so the traced run can
    count the jobs each phase started (statusTracker, read at the end)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.groups: list[str] = []
        self._stack: list[str] = []

    def enter(self, group: str) -> None:
        self.groups.append(group)
        self._stack.append(self.sc.getLocalProperty("spark.jobGroup.id"))
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def exit(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", self._stack.pop())

    def count(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))


def _operator_modules():
    import hive_dwrf_spark.operators as pkg

    for info in pkgutil.iter_modules(pkg.__path__):
        yield __import__(f"{pkg.__name__}.{info.name}", fromlist=["_"])


def install_tracing(run: Run, jobs: _Jobs, registry: dict) -> dict:
    """Wrap every public module-level operator function and every
    registry callable; returns the wrapped registry."""
    import inspect

    tracer = run.tracer

    def op_enter(sid):
        jobs.enter(f"op{sid}")

    for mod in _operator_modules():
        for name, fn in list(vars(mod).items()):
            if (
                not name.startswith("_")
                and inspect.isfunction(fn)
                and fn.__module__ == mod.__name__
            ):
                tracer.patch(
                    mod, name, "operators.call", on_enter=op_enter,
                    on_exit=lambda sid: jobs.exit(),
                )
    return {
        name: tracer.wrap("queries.construct", fn) for name, fn in registry.items()
    }


def main(run: Run) -> None:
    setup = Stopwatch().start()
    data_dir = run.path("tables")
    write_tables(data_dir)
    with open(HASHES_FILE) as f:
        expected = json.load(f)["hashes"]
    spark = start_spark(run)
    try:
        from hive_dwrf_spark.queries import load_registry

        registry, _ = load_registry()
        jobs = _Jobs(spark.sparkContext)
        tracer = run.tracer
        queries = {q: registry[q] for q in QUERIES}
        #: per query: latency in seconds with the stolen share removed, and
        #: as the wall clock read it; in a traced run, of the traced passes
        by_query: dict[str, list[float]] = {q: [] for q in QUERIES}
        wall_by_query: dict[str, list[float]] = {q: [] for q in QUERIES}
        untraced_by_query: dict[str, list[float]] = {q: [] for q in QUERIES}
        pass_seconds: list[float] = []
        per_pass: list[dict] = []  # traced passes
        n_pass = [0]

        def traced() -> bool:
            return tracer is not None and tracer.active

        def run_query(name: str, stats: dict):
            """Build and collect one query; in a traced pass, split the
            time and tag the jobs of each half."""
            if not traced():
                return queries[name](spark, data_dir).collect()
            tag = f"{stats['n']}:{name}"
            t0 = time.perf_counter()
            with tracer.request(tag):
                jobs.enter(f"c{tag}")
                try:
                    df = queries[name](spark, data_dir)
                finally:
                    jobs.exit()
                t1 = time.perf_counter()
                jobs.enter(f"x{tag}")
                try:
                    with tracer.span("queries.execute"):
                        rows = df.collect()
                finally:
                    jobs.exit()
            stats["construct"] += t1 - t0
            stats["execute"] += time.perf_counter() - t1
            stats["groups"] += [f"c{tag}", f"x{tag}"]
            return rows

        def one_pass(_round: int) -> None:
            stats = {"n": n_pass[0], "construct": 0.0, "execute": 0.0, "groups": []}
            n_pass[0] += 1
            lat = by_query if traced() or tracer is None else untraced_by_query
            t_pass = time.perf_counter()
            for name in pass_order(run.seed, stats["n"]):
                run.attempted += 1
                try:
                    with Stopwatch() as clock:
                        rows = run_query(name, stats)
                except Exception as e:  # a failed query is a failed op
                    run.check(False, f"{name}: {type(e).__name__}: {e}"[:300])
                    continue
                lat[name].append(clock.seconds)
                wall_by_query[name].append(clock.wall)
                got = result_hash(list(rows[0].__fields__), rows) if rows else "empty"
                run.check(got == expected[name], f"{name}: hash {got[:12]}")
            pass_seconds.append(time.perf_counter() - t_pass)
            if traced():
                per_pass.append(stats)

        t_warm = time.perf_counter()
        if tracer is not None:
            tracer.active = False
        for i in range(WARMUP_PASSES):  # JIT, Python workers, table listing
            one_pass(i)
        run.layers["session.warmup_s"] = time.perf_counter() - t_warm
        for v in [*by_query.values(), *wall_by_query.values(), *untraced_by_query.values()]:
            v.clear()
        pass_seconds.clear()
        setup.stop()
        run.setup_s = setup.seconds
        run.report.update({"setup_wall_s": setup.wall, "setup_steal_share": setup.steal_share})

        if tracer is None:
            with CpuMeter() as cpu:
                timed_loop(run.seconds, one_pass)
            run.e2e["op_latency_ms"] = op_latency_ms(by_query)
            run.report.update(
                {
                    "op_latency_wall_ms": op_latency_ms(wall_by_query),
                    "cpu_ms_per_op": cpu.ms_per(sum(len(v) for v in by_query.values())),
                }
            )
            run.report.update(_report(by_query, pass_seconds))
        else:
            # the passes the untraced run times, tracing every other one
            queries = install_tracing(run, jobs, queries)

            def alternate(i: int) -> None:
                tracer.active = i % 2 == 1
                one_pass(i)

            timed_loop(2 * run.seconds, alternate)
            tracer.active = False
            _layers(run, jobs, per_pass)
            run.layers["trace.overhead_ratio"] = (
                op_latency_ms(by_query) / op_latency_ms(untraced_by_query) - 1.0
            )
    finally:
        stop_spark(spark)


def _report(by_query: dict[str, list[float]], pass_seconds: list[float]) -> dict:
    latencies = [x for v in by_query.values() for x in v]
    return {
        "pipeline_pass_s": median_or_zero(pass_seconds),
        "pass_s": list(pass_seconds),
        "queries_per_s": len(latencies) / sum(latencies),
        "query_s_p50": percentile(latencies, 0.5),
        "query_s_p90": percentile(latencies, 0.9),
        "query_samples": len(latencies),
        "query_s_median": {q: median_or_zero(v) for q, v in by_query.items()},
    }


def _layers(run: Run, jobs: _Jobs, per_pass: list[dict]) -> None:
    """Per-pass sums over the traced passes, reported as medians."""
    tracer = run.tracer
    counts = {g: jobs.count(g) for g in jobs.groups}
    child_time = tracer.child_seconds()
    op_spans = tracer.named("operators.call")
    passes = []
    for stats in per_pass:
        prefix = f"{stats['n']}:"
        mine = [s for s in op_spans if s.request.startswith(prefix)]
        op_jobs = sum(counts.get(f"op{s.id}", 0) for s in mine)
        groups = stats["groups"]
        passes.append(
            {
                "construct": stats["construct"],
                "execute": stats["execute"],
                "eager_jobs": op_jobs + sum(counts[g] for g in groups if g[0] == "c"),
                "exec_jobs": sum(counts[g] for g in groups if g[0] == "x"),
                "op_calls": len(mine),
                "op_self": sum(s.seconds - child_time.get(s.id, 0.0) for s in mine),
                "op_jobs": op_jobs,
            }
        )

    def med(key):
        return median_or_zero([p[key] for p in passes])

    run.layers.update(
        {
            "queries.construct_s": med("construct"),
            "queries.execute_s": med("execute"),
            "queries.eager_jobs": med("eager_jobs"),
            "queries.exec_jobs": med("exec_jobs"),
            "operators.calls": med("op_calls"),
            "operators.self_s": med("op_self"),
            "operators.eager_jobs": med("op_jobs"),
        }
    )
