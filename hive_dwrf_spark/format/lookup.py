"""Multi-file batched point lookup — the serving surface over a
directory of DWRF files.

Reference parity (SURVEY §2 A5): the reference exposes seekToRow on one
long-lived reader (RecordReaderImpl.java:494-543), which parses the footer
once (ReaderImpl.java:204-260), and leaves file routing to the host
engine, which prunes files/stripes with the footer statistics. At serving
scale the table is thousands of range-sorted files and callers look up
key BATCHES, so this module does both halves in one pass:

  file level   : each file's footer column statistics (min/max of the
                 key column, from the footer plan cache of plans.py —
                 zero data bytes read, no handle opened) prune files that
                 cannot contain any requested key;
  stride level : within a surviving file, the key column's ROW_INDEX
                 per-stride statistics prune strides the same way;
  decode level : each candidate stride of the key column is read and
                 matched against only the keys its own statistics admit,
                 and only the matching rows' projected columns are
                 gathered: a slice for a contiguous run of rows, one take
                 for a scattered one. A stride entry is an Arrow array,
                 or, for a NULL-free stride of a DICTIONARY SHORT/INT/
                 LONG/STRING column, its ids over the stripe dictionary
                 (reader._DictStride), whose gathered rows alone are
                 looked up, with one Arrow build per output column. A
                 key stride kept as ids is matched by id: the call's
                 keys map to ids of the stripe's dictionary once, by
                 searchsorted, when that dictionary ascends (this
                 writer's do; a foreign writer's may not, and then the
                 stride's values are matched). Values are matched with
                 one numpy pass for an integer column without NULLs,
                 Arrow's is_in otherwise. Both reads go through
                 DwrfFile's one point-read primitive (_point_window,
                 which read_row, read_rows and read_rows_at use too), the
                 key's stride passed in so a projected key column is not
                 read twice; a column without seek positions comes from
                 its whole-stripe decode, sliced to the stride.

Parses and decodes amortize across CALLS, not only within one batch:
every file that holds keys is served from a process-wide open DwrfFile
handle, so its footer, stripe footers and ROW_INDEX are parsed once, and
stride decodes go through the decoded-stride LRU the handles share — a
hot stride is decoded once for all calls and threads. File routing reads
only the footer summaries of the table catalog (plans.file_plans, the
cache the DataSource scan plans from), and a handle is opened only for a
file whose summary admits a key: a cold call parses every missing footer
on the plan pool without keeping it open, so the handle LRU holds the
key holders, not the whole directory, and a directory of more files than
_HANDLES_MAX keeps its handles as long as the files a call reads fit.

  identity : a handle is reused while (path, get_fs(path).stat_key(path))
             — size and mtime — is unchanged, the identity of the
             footer plan cache (plans.py). Like that cache it assumes
             files are written once: a replacement or rewrite changes
             size or mtime and is reopened, but an in-place rewrite
             keeping both would be served from the stale handle.
  bounds   : at most _HANDLES_MAX handles stay open (least recently
             served dropped first). A handle holds decoded strides (Arrow
             arrays, or dictionary ids charged their own bytes only),
             decompressed blocks in its at most 8 stripe decoders, and
             the stripes' dictionaries (each once, however many strides
             read it), row indexes and whole-stream decodes; it keeps no
             compressed bytes, so none of this grows with the file.
             The decompressed blocks of every decoder in the process,
             those of these handles included, stay within one
             _StripeDecoder._BLK_CACHE_BUDGET per process, and the decoded
             strides of these handles within one stride cache
             (_STRIDES) of SPARK_GRAFT_STRIDE_CACHE_MB; both evict the
             least recently used entry first on every insert, so idle
             handles hand their share to the busy ones. A user-held
             DwrfFile has a stride cache of its own, so neither side's
             churn evicts the other's hot strides. cache_bytes() reports
             what the handles hold.
  lifetime : the cache owns its handles; callers never close them. An
             evicted handle is dropped, not closed, because another
             thread may be mid-read; its file closes with the last
             reference.

On a range-sorted 100 TB table a k-key batch therefore touches
O(files-holding-keys) footers + O(strides-holding-keys) stride decodes,
independent of table width and row count.
"""

from __future__ import annotations

import bisect
import threading
from collections import OrderedDict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .fs import get_fs
from .plans import FilePlan, data_files, file_plans
from .reader import (
    DwrfFile,
    _DictStride,
    _corrupt_guard,
    _gatherer,
    _join,
    _LruCache,
    _resolve_field,
)

#: open handles kept across calls, one per file
_HANDLES_MAX = 128
# path -> (stat identity, handle), least recently used first. OrderedDict
# mutation is not thread-safe, so every touch holds the lock; opens and
# reads stay outside it.
_HANDLES: "OrderedDict[str, tuple[tuple, DwrfFile]]" = OrderedDict()
_HANDLES_LOCK = threading.Lock()
#: the decoded strides of every handle above, under one budget
_STRIDES = _LruCache()


def shared_handle(path: str, ident: tuple | None = None) -> tuple[DwrfFile, bool]:
    """The process-wide open handle of the DWRF file `path`, and whether
    this call had to open it. `ident` is get_fs(path).stat_key(path), when
    the caller has it. The cache owns the handle: never close it."""
    if ident is None:
        ident = get_fs(path).stat_key(path)
    with _HANDLES_LOCK:
        hit = _HANDLES.get(path)
        if hit is not None and hit[0] == ident:
            _HANDLES.move_to_end(path)
            return hit[1], False
    f = DwrfFile(path, _strides=_STRIDES)  # a failed open caches nothing
    with _HANDLES_LOCK:
        hit = _HANDLES.get(path)
        if hit is not None and hit[0] == ident:  # a concurrent open won
            winner = hit[1]
        else:
            winner = f
            _HANDLES[path] = (ident, f)
            _HANDLES.move_to_end(path)
            while len(_HANDLES) > _HANDLES_MAX:
                _HANDLES.popitem(last=False)  # dropped, not closed
    if winner is not f:
        f.close()  # never shared: no other thread can hold it
    return winner, True


def cache_bytes() -> dict[str, int]:
    """Bytes held by all cached handles, per cache layer (the layers of
    DwrfFile.cache_bytes, summed). Their "blocks" are a share of the
    process's decompressed blocks, which reader.block_cache_bytes()
    totals over every handle."""
    with _HANDLES_LOCK:
        handles = [f for _, f in _HANDLES.values()]
    total: dict[str, int] = {}
    for f in handles:
        for layer, n in f.cache_bytes().items():
            total[layer] = total.get(layer, 0) + n
    return total


def _key_bounds(keys_sorted: list, mn, mx) -> tuple[int, int]:
    """(lo, hi): keys_sorted[lo:hi] are the sorted keys inside [mn, mx].
    Missing bounds (all-null column, statless legacy file) can never
    prune: all keys."""
    if mn is None or mx is None:
        return 0, len(keys_sorted)
    return bisect.bisect_left(keys_sorted, mn), bisect.bisect_right(keys_sorted, mx)


def _may_hold(plan: FilePlan, key_column: str, keys_sorted: list) -> bool:
    """Whether the footer summary `plan` admits one of the sorted keys:
    the file has rows and its key-column min/max (when known) span one."""
    name = _resolve_field(key_column, list(plan.stats_by_name))
    if name is None or not plan.stripe_sizes:
        return False
    st = plan.stats_by_name[name]
    if st is None:
        return True
    lo, hi = _key_bounds(keys_sorted, st.minimum, st.maximum)
    return lo < hi


def _match_offsets(karr, keys: list, key_set: pa.Array, ids=None) -> np.ndarray:
    """Sorted positions in the key stride `karr` whose value is one of
    `keys` (nulls never match). `keys` holds at least the sorted keys that
    may occur in `karr`; `key_set` is every key of the call, as an Arrow
    array.

    A lazy dictionary stride (_DictStride) matches ids, not values: `ids`
    are the dictionary ids of `keys` (-1 for a key the dictionary does not
    hold; see _DictStride.key_ids), or None when its dictionary cannot map
    them, and then its values are matched. An integer window without
    NULLs matched against integer keys is one numpy pass over its
    zero-copy view: each of the Arrow calls the is_in path makes drops
    the GIL, which is dear under concurrent clients."""
    if type(karr) is _DictStride:
        if ids is not None:
            ids = ids[ids >= 0]
            if len(ids) == 1:
                return np.flatnonzero(karr.ids == ids[0])
            return np.flatnonzero(np.isin(karr.ids, ids))
        karr = karr.to_arrow()
    if (
        pa.types.is_integer(karr.type)
        and karr.null_count == 0
        and all(type(k) is int for k in keys)
    ):
        vals = karr.to_numpy()
        if len(keys) == 1:
            return np.flatnonzero(vals == keys[0])
        return np.flatnonzero(np.isin(vals, keys))
    mask = pc.fill_null(pc.is_in(karr, value_set=key_set), False)
    return np.flatnonzero(mask.to_numpy(zero_copy_only=False))


def lookup_keys(
    path: str,
    key_column: str,
    keys,
    columns: list[str] | None = None,
    trace: dict | None = None,
) -> pa.Table:
    """Fetch every row of the DWRF table under `path` whose `key_column`
    value is in `keys`, as ONE pyarrow Table (rows in file/row order; a
    key occurring on several rows returns all of them, an absent key
    returns none). `columns` projects the output (the key column is
    decoded for matching regardless and appears in the output only if
    projected). Pass a dict as `trace` to observe the pruning decisions
    ({files_total, files_pruned, strides_total, strides_scanned}) and
    the handles this call had to open ({files_opened}, 0 when every file's
    handle was reused).
    """
    # NULL keys match no row (SQL equality semantics) — drop them before
    # sorting, where None is unorderable; mixed int/string keys likewise
    # can't order, surface that as a clear error instead of a TypeError
    dedup = set(k for k in keys if k is not None)
    try:
        key_list = sorted(dedup)
    except TypeError:
        kinds = sorted({type(k).__name__ for k in dedup})
        raise ValueError(
            f"lookup_keys: keys must share one orderable type, got {kinds}"
        ) from None
    if not key_list:
        raise ValueError("lookup_keys requires at least one non-null key")
    key_set = pa.array(key_list)
    files = data_files(path)
    if not files:
        raise FileNotFoundError(f"no .dwrf files under {path}")
    fs = get_fs(files[0])
    idents = {fp: fs.stat_key(fp) for fp in files}
    plans = file_plans(files, stat_keys=idents)
    opened = 0  # handles this call had to open
    if trace is not None:
        trace.update(
            files_total=len(files),
            files_pruned=0,
            strides_total=0,
            strides_scanned=0,
        )
    out_chunks: dict[str, list[pa.Array]] = {}
    schema: pa.Schema | None = None
    for fp in files:
        plan = plans[fp]
        key_name = _resolve_field(key_column, list(plan.stats_by_name))
        if key_name is None:
            raise KeyError(f"{key_column!r} not in {fp}")
        if schema is None and columns is None:
            schema = plan.arrow_schema
        if not plan.stripe_sizes:
            continue  # an empty file holds no keys
        # --- file-level pruning: footer summary only, no handle ---
        if not _may_hold(plan, key_name, key_list):
            if trace is not None:
                trace["files_pruned"] += 1
            continue
        f, was_opened = shared_handle(fp, idents[fp])
        opened += was_opened
        key_tid = f._top_level_id(key_name)
        tops, include_ids = f._projection(columns)
        if columns is not None:
            if schema is None:
                schema = f.projected_schema(columns)
            # the key column must reach the decoder even when the
            # projection drops it from the output
            if key_tid not in include_ids:
                from .types import subtree_ids

                include_ids = include_ids | set(subtree_ids(f.types, key_tid))
        with _corrupt_guard(fp):
            for i, stripe in enumerate(f.footer.stripes):
                n_rows = stripe.numberOfRows
                if n_rows == 0:
                    continue
                dec = f._point_decoder(i, include_ids)
                stride = f._stride_rows(i)
                n_strides = (n_rows + stride - 1) // stride
                if trace is not None:
                    trace["strides_total"] += n_strides
                # --- stride-level pruning via the key's ROW_INDEX stats,
                # parsed once per decoder: (stride, the keys its min/max
                # admit) ---
                bounds = dec.stride_bounds(key_tid)
                if bounds is not None and len(bounds[0]) >= n_strides:
                    mins, maxs = bounds
                    alive = []
                    for s in range(n_strides):
                        lo, hi = _key_bounds(key_list, mins[s], maxs[s])
                        if lo < hi:
                            alive.append((s, lo, hi))
                else:
                    alive = [(s, 0, len(key_list)) for s in range(n_strides)]
                key_ids = None  # the keys as ids of this stripe's dictionary
                for s_idx, lo, hi in alive:
                    if trace is not None:
                        trace["strides_scanned"] += 1
                    # --- decode level: match the key window, then gather
                    # the projected columns of the same stride, reusing
                    # the key window ---
                    (karr,) = f._point_window(dec, i, s_idx, [(key_name, key_tid)])
                    if key_ids is None and type(karr) is _DictStride:
                        key_ids = karr.key_ids(key_list)  # once per stripe
                    hits = _match_offsets(
                        karr,
                        key_list[lo:hi],
                        key_set,
                        None if key_ids is None else key_ids[lo:hi],
                    )
                    if len(hits):
                        gather = _gatherer(hits)
                        arrays = f._point_window(dec, i, s_idx, tops, {key_tid: karr})
                        for (name, _), arr in zip(tops, arrays):
                            out_chunks.setdefault(name, []).append(gather(arr))
    if schema is None:  # no file held keys: the projection's schema,
        with DwrfFile(files[0]) as f:  # from a handle the LRU never holds
            schema = f.projected_schema(columns)
    if trace is not None:
        trace["files_opened"] = opened
    return _join([out_chunks.get(field.name, []) for field in schema], schema)
