"""Runtime confs applied to a session the package did not build."""

from __future__ import annotations

import pyspark.errors.utils as errors_utils

from hive_dwrf_spark.session import apply_runtime_confs


def test_debugging_off_on_a_session_already_used(spark):
    """A driver-provided session that ran DataFrame code before the confs
    were applied has PySpark's debugging flag cached as on (the bare
    default); applying the confs must turn it off for the next call.

    spark.python.sql.dataFrameDebugging.enabled is a static conf, so the
    test session cannot be switched back to the bare default; the cache
    is set to what a bare session's first DataFrame call leaves."""
    applied = getattr(spark, "_hive_dwrf_confs_applied", False)
    try:
        spark._hive_dwrf_confs_applied = False
        assert spark.range(3).count() == 3
        errors_utils._enable_debugging_cache = True
        assert errors_utils.is_debugging_enabled()

        apply_runtime_confs(spark)

        assert not errors_utils.is_debugging_enabled()
        assert spark.range(3).count() == 3
    finally:
        spark._hive_dwrf_confs_applied = applied
        errors_utils._enable_debugging_cache = None
