"""SparkSession construction and tuning.

Everything here targets a large multi-executor cluster; the local[N] master
is only the test harness. Session-level knobs are chosen so the same code
runs unchanged on a 1000-executor cluster against ~100 TB:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- broadcast threshold left to Spark's default but join code uses explicit
  ``broadcast()`` hints for dimension tables
- shuffle partitions sized for the local harness via env; on a real cluster
  AQE coalescing makes the initial number far less critical
- UTC session timezone so timestamp field extraction matches the naive
  (isAdjustedToUTC=false) parquet test data and the DuckDB oracle
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .format.env import env_int

#: runtime confs that are safe to (re)apply to an existing session,
#: e.g. the driver-provided one handed to ``__spark_entry__.entry``.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS) which Spark cannot read natively;
    # read as raw int64 nanos and convert explicitly (tables.load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    # our Python DataSource ("dwrf") implements pushFilters
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # UDTFs evaluate through Arrow batches (ArrowEvalPythonUDTF) instead of
    # pickled row-at-a-time BatchEvalPythonUDTF — same ~10-100x win as
    # pandas_udf vs plain udf on the scalar side
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # PySpark's DataFrame-debugging hook (default ON) wraps EVERY
    # DataFrame/Column API call with a JVM PySparkCurrentOrigin.set +
    # clear (2-3 py4j round trips at ~0.45 ms each) plus a Python stack
    # walk, purely to enrich error messages with user call sites. Plan
    # CONSTRUCTION is pure py4j chatter, so this halves it on
    # expression-heavy queries (measured: q04 0.112 -> 0.054 s,
    # sketch_cms 0.373 -> 0.287 s, text_tfidf 0.173 -> 0.116 s per
    # construction; optimization round 13, guide §1.2 per-task work —
    # here the "task" is the driver). No query semantics change — only
    # error-context detail is lost.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}
_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to a session we did not build.

    Memoized per session object: tables.load() calls this on every
    table load (the driver may hand us a bare session at any entry
    point), and each conf.set is a py4j round-trip — measurable when a
    query loads several tables (optimization round 12). The flag lives
    on the session wrapper, same idiom as shipping.ensure_shipped."""
    if getattr(spark, "_hive_dwrf_confs_applied", False):
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build; builder path sets it
    _set_debugging_cache(RUNTIME_CONFS[_DEBUGGING] == "true")
    spark._hive_dwrf_confs_applied = True
    return spark


def _set_debugging_cache(enabled: bool) -> None:
    """PySpark reads spark.python.sql.dataFrameDebugging.enabled once per
    process, at the first DataFrame call, into a module-level cache. The
    conf is static, so conf.set fails on a session that is already built,
    and a session used before its confs were applied has the cache set to
    the default "on". Setting the cache makes the next call see the
    wanted value either way."""
    import pyspark.errors.utils as errors_utils

    if hasattr(errors_utils, "_enable_debugging_cache"):
        errors_utils._enable_debugging_cache = enabled


def get_spark(app_name: str = "hive-dwrf-spark") -> SparkSession:
    cpus = env_int("SPARK_GRAFT_CPUS", 0)
    master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(cpus or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Arrow makes pandas_udf / mapInPandas exchange columnar batches
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())
