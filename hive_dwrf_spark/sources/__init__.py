from __future__ import annotations

from ..shipping import ensure_shipped
from .dwrf_datasource import DwrfDataSource
from .stats import broadcast_if_small, dwrf_path_stats

__all__ = [
    "DwrfDataSource",
    "broadcast_if_small",
    "create_temp_table",
    "drop_temp_table",
    "dwrf_path_stats",
    "refresh_temp_table",
    "register",
]


def create_temp_table(spark, name, path, **options):
    from .sql import create_temp_table as _impl

    return _impl(spark, name, path, **options)


def refresh_temp_table(spark, name):
    from .sql import refresh as _impl

    return _impl(spark, name)


def drop_temp_table(spark, name):
    from .sql import drop_temp_table as _impl

    return _impl(spark, name)


def register(spark) -> None:
    """Register the dwrf format with a SparkSession (idempotent) and make
    the package importable on executors. Also applies the runtime confs
    the source needs (e.g. Python filter pushdown must be enabled or
    Spark rejects a reader that implements pushFilters), so a bare
    user-built session works with plain ``register(spark)``."""
    from ..session import apply_runtime_confs

    apply_runtime_confs(spark)
    ensure_shipped(spark)
    if not getattr(spark, "_hive_dwrf_registered", False):
        spark.dataSource.register(DwrfDataSource)
        spark._hive_dwrf_registered = True
    from .udtf import register_udtfs

    register_udtfs(spark)
