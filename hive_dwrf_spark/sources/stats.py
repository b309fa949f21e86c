"""Footer-statistics catalog for DWRF paths + the broadcast-hint
workaround for the Python DataSource API's missing statistics hook.

THE GAP (SURVEY §2 A27 mapping): the reference reports rawDataSize up to
the host engine's planner (ReaderImpl.java:204-260 exposes the footer;
the Hive side feeds it to the optimizer as table stats). Our writer
records the same footer fields (format/writer.py:1002) and
`format_stats` exposes them as a catalog query — but Spark's **Python**
DataSource API (pyspark.sql.datasource) has no SupportsReportStatistics
equivalent, so every Python-source scan planned by Catalyst carries
`spark.sql.defaultSizeInBytes` (Long.Max) as its size estimate.
Consequence: a DWRF-backed 2 KB dimension table NEVER auto-broadcasts —
every join against it sort-merges, shuffling the fact side.

THE WORKAROUND: read the size the planner can't see directly from the
file footers (zero data bytes — the catalog's footer summaries in
format/plans.py, the ones `partitions()` plans and prunes from) and
apply an explicit `broadcast()` hint when the logical size clears the
session's own autoBroadcastJoinThreshold. The hint is exactly what
SupportsReportStatistics would have let AQE decide; making it explicit
keeps the decision deterministic and visible in the plan. When Spark
ships a stats hook for Python sources, DwrfDataSource should report
`raw_bytes` there and this helper becomes a no-op shim.
"""

from __future__ import annotations

import re


def dwrf_path_stats(path: str) -> dict:
    """Footer-only statistics for a DWRF file or directory: the files a
    default scan of `path` reads (plans.data_files) and their footer
    summaries from the catalog's plan cache (plans.file_plans), so a
    repeat call on an unchanged directory stats each file and parses no
    footer; no data stream is read. Raises FileNotFoundError when `path`
    holds no DWRF file.

    Returns {files, rows, file_bytes, raw_bytes} where raw_bytes is the
    writer's logical (uncompressed, pre-encoding) size accounting
    (reference A27, WriterImpl raw-size counters) — the honest stand-in
    for Catalyst's sizeInBytes, conservative vs compressed file size.
    """
    from ..format.plans import data_files, file_plans

    files = data_files(path)
    if not files:
        raise FileNotFoundError(f"no .dwrf files under {path}")
    plans = file_plans(files).values()
    return {
        "files": len(files),
        "rows": sum(p.rows for p in plans),
        "file_bytes": sum(p.file_bytes for p in plans),
        "raw_bytes": sum(p.raw_bytes for p in plans),
    }


_SIZE_UNITS = {
    "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def _parse_byte_conf(value: str) -> int:
    """Parse Spark byte-size conf strings ('10485760', '10MB', '10m',
    '-1') into bytes; -1 (broadcast disabled) stays -1."""
    s = str(value).strip().lower()
    m = re.fullmatch(r"(-?\d+)\s*([a-z]*)", s)
    if not m:
        raise ValueError(f"unparseable byte size: {value!r}")
    n = int(m.group(1))
    unit = m.group(2)
    if n < 0:
        return -1
    if unit and unit not in _SIZE_UNITS:
        raise ValueError(f"unknown byte unit in {value!r}")
    return n * (_SIZE_UNITS[unit] if unit else 1)


def broadcast_if_small(df, path: str, threshold_bytes: int | None = None):
    """Apply a broadcast hint to `df` iff the DWRF data under `path` is
    small enough to broadcast — the explicit stand-in for the statistics
    report the Python DataSource API cannot make (module docstring).

    `df` is the DataFrame read from `path` (possibly projected/filtered —
    pruning only shrinks it, so the whole-path footer size stays an upper
    bound and the decision stays safe). The threshold defaults to the
    session's own spark.sql.autoBroadcastJoinThreshold so the hint fires
    exactly where a stats-reporting source would have auto-broadcast;
    -1 (broadcast disabled) never hints. Footer raw_bytes (logical size)
    is compared, not compressed bytes — matching how Spark sizes
    in-memory relations, so a well-compressed but logically-huge table
    doesn't get pinned onto every executor.
    """
    from pyspark.sql import functions as F

    if threshold_bytes is None:
        threshold_bytes = _parse_byte_conf(
            df.sparkSession.conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "10485760"
            )
        )
    if threshold_bytes < 0:
        return df
    stats = dwrf_path_stats(path)
    if stats["raw_bytes"] == 0 and stats["rows"] > 0:
        # footer carries no rawDataSize (foreign writer): falling back to
        # COMPRESSED file size would reinstate exactly the underestimate
        # this helper exists to avoid (a logically huge, well-compressed
        # table pinned onto every executor) — refuse to hint instead
        return df
    if stats["raw_bytes"] <= threshold_bytes:
        return F.broadcast(df)
    return df


def merged_column_stats(path: str) -> dict:
    """Per-top-level-column ColumnStats merged across every part file's
    footer summary (plans.file_plans) — the whole-table catalog view,
    zero data bytes read (A19 + A27: ColumnStatisticsImpl merging,
    ReaderImpl.java:204-260 footer consumption). Keys are the field names
    in first-seen file order; files must share a schema (one table's
    parts do). The result holds fresh objects: the cached summaries'
    stats are copied, never merged into."""
    import copy

    from ..format.plans import data_files, file_plans

    files = data_files(path)
    if not files:
        raise FileNotFoundError(f"no .dwrf files under {path}")
    plans = file_plans(files)
    merged: dict = {}
    for fp in files:
        for name, st in plans[fp].stats_by_name.items():
            if st is None:
                raise ValueError(f"{fp}: no footer statistics for {name!r}")
            if name in merged:
                merged[name].merge(st)
            else:
                merged[name] = copy.copy(st)
    return merged
