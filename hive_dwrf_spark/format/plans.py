"""Table catalog: the one data-file walk and the one footer summary per
DWRF file.

Every planning, catalog and serving-plan path reads a table through this
module, so they all see the same files and the same footers:

  walk    : data_files(path) lists the data files (.dwrf and .orc, hidden
            and underscore names skipped) under a directory, or the one
            file a path names, sorted. The DataSource scan and the stream
            (with their committedOnly manifest filter on top), the catalog
            stats, lookup_keys, the TVFs, verify, compaction and the
            writer's overwrite cleanup all list through it.
  summary : file_plans(paths) gives each file's FilePlan: stripe sizes
            for split packing, top-level column stats for file pruning,
            the arrow schema, and the footer's row count, rawDataSize and
            the file's byte length for the catalog stats. The reference
            likewise parses a file's tail once (ReaderImpl.java:204-260)
            and plans from that summary (OrcInputFormat.java:165-181).

Parsing a footer costs one tail read + one proto decode; on a 100k-file
table that is the dominant planning cost, so summaries are cached keyed
by (path, size, mtime) and missing entries are filled by a small thread
pool (pread + zlib release the GIL). Spark's own InMemoryFileIndex plays
the same role for parquet. Cached plans, their stats included, are shared
by every caller: read them, never mutate them.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from dataclasses import dataclass

from .fs import get_fs
from .reader import DwrfCorruptError, DwrfFile, DwrfNoChecksumsError

_PLAN_CACHE: "OrderedDict[tuple, FilePlan]" = OrderedDict()
_PLAN_CACHE_MAX = 8192
# Spark drivers plan queries from concurrent threads; OrderedDict LRU
# mutation (move_to_end/popitem) is not thread-safe, so every cache
# touch holds this lock (footer parsing itself stays outside it).
_PLAN_CACHE_LOCK = threading.Lock()
_PLAN_POOL_WORKERS = 16


def data_files(path: str) -> list[str]:
    """The data files under `path` (or [path] when it is one), through
    the fs seam, sorted; [] when there are none or `path` does not
    exist."""
    fs = get_fs(path)
    if hasattr(fs, "isfile") and not fs.exists(path):
        return []
    return sorted(fs.list_files(path, (".dwrf", ".orc")))


@dataclass(frozen=True)
class FilePlan:
    stripe_sizes: tuple  # per-stripe byte sizes, in file order
    stats_by_name: dict  # top-level field name -> ColumnStats (or None)
    arrow_schema: object  # pyarrow.Schema
    rows: int  # footer numberOfRows
    raw_bytes: int  # footer rawDataSize (0 when the writer recorded none)
    file_bytes: int  # the file's length


def compute_file_plan(path: str) -> FilePlan:
    """Parse the footer of `path` into its FilePlan."""
    with DwrfFile(path) as f:
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
        return FilePlan(
            sizes,
            stats,
            f.schema,
            f.num_rows,
            f.footer.rawDataSize or 0,
            f.file_length,
        )


def file_plans(
    paths: list[str], stat_keys: dict | None = None
) -> dict[str, FilePlan]:
    """Footer summaries for `paths`, cache-first, cache misses parsed by
    compute_file_plan (looked up at call time) on a thread pool. Returns
    {path: plan}. `stat_keys` may give each path's
    get_fs(path).stat_key(path), when the caller has it."""
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
            computed = [compute_file_plan(missing[0][0])]
        else:
            from concurrent.futures import ThreadPoolExecutor

            workers = min(_PLAN_POOL_WORKERS, len(missing))
            with ThreadPoolExecutor(max_workers=workers) as ex:
                computed = list(ex.map(compute_file_plan, [p for p, _ in missing]))
        with _PLAN_CACHE_LOCK:
            for (p, key), plan in zip(missing, computed):
                plans[p] = plan
                _PLAN_CACHE[key] = plan
            while len(_PLAN_CACHE) > _PLAN_CACHE_MAX:
                _PLAN_CACHE.popitem(last=False)
    return plans


def verify_files(path: str):
    """Scrub every data file under `path` against its recorded per-stripe
    CRC32s (DwrfFile.verify), in walk order. Yields (file, stripes, bytes,
    status) per file: status is 'ok', 'no checksums' (written without
    checksums) or 'corrupt: <detail>'; stripes and bytes are None unless
    'ok'. Yields nothing when `path` holds no data file."""
    for fp in data_files(path):
        try:
            with DwrfFile(fp) as f:
                rep = f.verify()
        except DwrfNoChecksumsError:
            yield fp, None, None, "no checksums"
        except DwrfCorruptError as e:
            yield fp, None, None, f"corrupt: {e}"
        else:
            yield fp, rep["stripes"], rep["bytes"], "ok"
