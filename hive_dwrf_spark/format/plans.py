"""Footer plan cache: a small footer-derived summary per DWRF file.

Planning a scan (the DataSource's schema() + partitions()) and routing a
point lookup (lookup.lookup_keys) need only a summary of each file's
footer: stripe sizes for split packing, top-level column stats for file
pruning, and the arrow schema. Parsing a footer costs one tail read + one
proto decode; on a 100k-file table that is the dominant planning cost, so
summaries are cached keyed by (path, size, mtime) and missing entries are
filled by a small thread pool (pread + zlib release the GIL). Spark's own
InMemoryFileIndex plays the same role for parquet.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from dataclasses import dataclass

from .fs import get_fs
from .reader import DwrfFile

_PLAN_CACHE: "OrderedDict[tuple, FilePlan]" = OrderedDict()
_PLAN_CACHE_MAX = 8192
# Spark drivers plan queries from concurrent threads; OrderedDict LRU
# mutation (move_to_end/popitem) is not thread-safe, so every cache
# touch holds this lock (footer parsing itself stays outside it).
_PLAN_CACHE_LOCK = threading.Lock()
_PLAN_POOL_WORKERS = 16


@dataclass(frozen=True)
class FilePlan:
    stripe_sizes: tuple  # per-stripe byte sizes, in file order
    stats_by_name: dict  # top-level field name -> ColumnStats (or None)
    arrow_schema: object  # pyarrow.Schema


def plan_of(f: DwrfFile) -> FilePlan:
    """The footer summary of the open file `f`."""
    sizes = tuple(
        (s.indexLength or 0) + (s.dataLength or 0) + (s.footerLength or 0)
        for s in f.footer.stripes
    )
    root = f.types[0]
    stats = {}
    for name, tid in zip(root.fieldNames, root.subtypes):
        try:
            stats[name] = f.file_stats(tid)
        except Exception:  # noqa: BLE001 - stats are advisory
            stats[name] = None
    return FilePlan(sizes, stats, f.schema)


def compute_file_plan(path: str) -> FilePlan:
    with DwrfFile(path) as f:
        return plan_of(f)


def file_plans(
    paths: list[str], compute=compute_file_plan, stat_keys: dict | None = None
) -> dict[str, FilePlan]:
    """Footer summaries for `paths`, cache-first, cache misses parsed by
    `compute` on a thread pool. Returns {path: plan}. `stat_keys` may give
    each path's get_fs(path).stat_key(path), when the caller has it."""
    if stat_keys is None:
        fs = get_fs(paths[0] if paths else None)
        stat_keys = {p: fs.stat_key(p) for p in paths}
    plans: dict[str, FilePlan] = {}
    missing: list[tuple[str, tuple]] = []
    with _PLAN_CACHE_LOCK:
        for p in paths:
            key = (p, stat_keys[p])
            hit = _PLAN_CACHE.get(key)
            if hit is not None:
                _PLAN_CACHE.move_to_end(key)
                plans[p] = hit
            else:
                missing.append((p, key))
    if missing:
        if len(missing) == 1:
            computed = [compute(missing[0][0])]
        else:
            from concurrent.futures import ThreadPoolExecutor

            workers = min(_PLAN_POOL_WORKERS, len(missing))
            with ThreadPoolExecutor(max_workers=workers) as ex:
                computed = list(ex.map(compute, [p for p, _ in missing]))
        with _PLAN_CACHE_LOCK:
            for (p, key), plan in zip(missing, computed):
                plans[p] = plan
                _PLAN_CACHE[key] = plan
            while len(_PLAN_CACHE) > _PLAN_CACHE_MAX:
                _PLAN_CACHE.popitem(last=False)
    return plans
