"""Shared pieces: the metric catalogue, run context, statistics and the
Spark session lifecycle."""

from __future__ import annotations

import ctypes
import math
import os
import resource
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field

from .tracing import Tracer

#: (name, unit, better, bound) — printed with --trace 0
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.15),
    ("op_latency_ms", "ms", "lower", 0.25),
]

#: (name, unit) — printed with --trace 1; a layer a workload leaves idle
#: reads 0 there
PER_LAYER = [
    ("session.start_s", "s"),
    ("session.register_s", "s"),
    ("session.warmup_s", "s"),
    ("queries.construct_s", "s"),
    ("queries.execute_s", "s"),
    ("queries.eager_jobs", "count"),
    ("queries.exec_jobs", "count"),
    ("operators.calls", "count"),
    ("operators.self_s", "s"),
    ("operators.eager_jobs", "count"),
    ("sources.load_s", "s"),
    ("sources.scan_tasks", "count"),
    ("sources.write_tasks", "count"),
    ("sources.scan_overhead_s", "s"),
    ("sources.ingest_overhead_s", "s"),
    ("format.write_s", "s"),
    ("format.compression_s", "s"),
    ("format.encoding_s", "s"),
    ("format.serialization_s", "s"),
    ("format.compression_ratio", "ratio"),
    ("format.read_s", "s"),
    ("format.pruned_read_s", "s"),
    ("format.open_s", "s"),
    ("format.stripes_pruned_ratio", "ratio"),
    ("format.decompression_s", "s"),
    ("format.decoding_s", "s"),
    ("format.deserialization_s", "s"),
    ("lookup.files_pruned_ratio", "ratio"),
    ("lookup.strides_scanned_ratio", "ratio"),
    ("lookup.opens_per_request", "count"),
    ("lookup.row_first_touch_share", "ratio"),
    ("lookup.row_first_touch_ms_p50", "ms"),
    ("lookup.row_repeat_ms_p50", "ms"),
    ("streaming.latest_offset_ms_p50", "ms"),
    ("streaming.planning_ms_p50", "ms"),
    ("streaming.add_batch_ms_p50", "ms"),
    ("streaming.commit_ms_p50", "ms"),
    ("streaming.empty_trigger_ratio", "ratio"),
    ("trace.overhead_ratio", "ratio"),
]

#: a median needs this many samples, a 90th percentile P90_MIN_SAMPLES:
#: ten samples beyond the reported percentile
P50_MIN_SAMPLES = 20
P90_MIN_SAMPLES = 100


def percentile(values: list[float], q: float) -> float | None:
    """The q-quantile of `values`, or None when fewer than ten samples lie
    beyond it (the sample-count rule for p50 and p90)."""
    need = {0.5: P50_MIN_SAMPLES, 0.9: P90_MIN_SAMPLES}.get(q)
    if need is None:
        raise ValueError(f"unsupported percentile {q}")
    if len(values) < need:
        return None
    if q == 0.5:
        return statistics.median(values)
    return statistics.quantiles(values, n=10)[8]


def median_or_zero(values: list[float]) -> float:
    """Median of a per-layer series; 0 when the layer never ran."""
    return statistics.median(values) if values else 0.0


def op_latency_ms(by_kind: dict[str, list[float]]) -> float:
    """The latency figure of a run: the geometric mean, over the
    workload's operation kinds (queries, request types), of each kind's
    median latency in seconds, reported in ms. Medians per kind keep one
    slow sample from moving it; the geometric mean weighs every kind alike
    however long it runs."""
    medians = [statistics.median(v) for v in by_kind.values() if v]
    return 1000.0 * math.exp(sum(math.log(m) for m in medians) / len(medians))


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over the machine's CPUs since
    boot, from /proc/stat. Stolen ticks are those in which a CPU had work
    but the hypervisor ran something else."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Wall time of a block, and the same with the share of it the
    hypervisor took from the VM removed: ``seconds = wall * busy / (busy +
    stolen)`` over the machine's CPUs during the block. On a shared host
    that share varies from minute to minute, and it is not the program's
    time. Good to a tick (10 ms on one CPU), so use it on blocks of 0.1 s
    and more."""

    def start(self) -> "Stopwatch":
        self.ticks = cpu_ticks()
        self.t0 = time.perf_counter()
        return self

    def stop(self) -> None:
        self.wall = time.perf_counter() - self.t0
        busy, stolen = (b - a for a, b in zip(self.ticks, cpu_ticks()))
        self.steal_share = stolen / (busy + stolen) if busy + stolen else 0.0
        self.seconds = self.wall * (1.0 - self.steal_share)

    def __enter__(self):
        return self.start()

    def __exit__(self, *exc):
        self.stop()
        return False


def tree_cpu_seconds() -> float:
    """User + system CPU seconds of this process and every live
    descendant (the Spark JVM and its Python workers), including what
    each collected from children that already exited. Unlike wall time it
    does not count the time the VM's CPUs were taken away (steal)."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        # after "pid (comm)": state, ppid, ..., utime, stime, cutime, cstime
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        ticks += procs.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


class CpuMeter:
    """CPU time of the whole process tree over a phase, per operation."""

    def __enter__(self):
        self.start = tree_cpu_seconds()
        return self

    def __exit__(self, *exc):
        self.seconds = tree_cpu_seconds() - self.start
        return False

    def ms_per(self, ops: int) -> float:
        return 1000.0 * self.seconds / max(ops, 1)


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def window_peak_rss_mb() -> float:
    """This process's peak RSS since the last call (or since it started),
    from /proc/self/status; then resets the peak (clear_refs 5), so that
    calls at fixed intervals give one peak per window."""
    with open("/proc/self/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")
    return kb / 1024.0


@dataclass
class Run:
    """What one invocation measures. Workloads append latencies and
    failures; per-layer numbers go to `layers`; `report` holds the
    workload's own latency table (printed, not part of the contract)."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str
    work: str
    setup_s: float = 0.0
    #: end-to-end values of the untraced timed phase (peak_rss_mb here
    #: overrides the value read at exit)
    e2e: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    report: dict[str, object] = field(default_factory=dict)
    tracer: Tracer | None = None

    def check(self, ok: bool, what: str) -> None:
        """Count one output check; a failed one fails its operation."""
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def timed_loop(seconds: float, one_round) -> None:
    """Call `one_round(i)` for i = 0, 1, ... until `seconds` have passed,
    always finishing the round in progress."""
    t0 = time.perf_counter()
    i = 0
    while True:
        one_round(i)
        i += 1
        if time.perf_counter() - t0 >= seconds:
            return


# -- processes -----------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its descendants: one whose parent
    exits first (a Python worker of a stopped JVM) becomes a child of this
    process instead of init's, so that ``stop_children`` waits for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):  # exited while listing
            continue
        if ppid == me:
            out.append(int(name))
    return out


def stop_children(grace_s: float = 30.0) -> None:
    """Wait until every child of this process, adopted ones included, has
    ended, and reap each. A child still running after `grace_s` gets
    SIGTERM, and SIGKILL 10 s after that."""
    deadline = time.monotonic() + grace_s
    signals = [signal.SIGTERM, signal.SIGKILL]
    while True:
        _reap()
        kids = _children()
        if not kids:
            return
        if time.monotonic() >= deadline:
            if not signals:
                print(f"perfbench: children {kids} did not end", file=sys.stderr)
                return
            sig = signals.pop(0)
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10.0
        time.sleep(0.05)


# -- Spark ---------------------------------------------------------------


def start_spark(run: Run):
    """Start the program's session (``session.get_spark``) and register the
    dwrf source; times both. Scratch space, the warehouse and the JVM's
    temp dir all live under the run's work dir."""
    tmp = run.path("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the spark-submit launcher runs a JVM of its own before Spark's
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={run.path('warehouse')}",
            f"--conf spark.local.dir={tmp}",
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"',
            "pyspark-shell",
        ]
    )
    from hive_dwrf_spark import shipping
    from hive_dwrf_spark.session import get_spark
    from hive_dwrf_spark.sources import register

    # the package archive shipped to Python workers is built under the
    # run's work dir instead of /tmp (same contents)
    shipping._package_zip = lambda: _package_zip(run.path("pkg.zip"))
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{run.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    register(spark)
    t2 = time.perf_counter()
    run.layers["session.start_s"] = t1 - t0
    run.layers["session.register_s"] = t2 - t1
    return spark


def _package_zip(out: str) -> str:
    import zipfile

    import hive_dwrf_spark

    pkg = os.path.dirname(os.path.abspath(hive_dwrf_spark.__file__))
    if not os.path.exists(out):
        with zipfile.ZipFile(out, "w") as z:
            for root, _dirs, files in os.walk(pkg):
                for fn in sorted(files):
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        z.write(full, os.path.relpath(full, os.path.dirname(pkg)))
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and with it every Python
    worker it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
