"""DWRF file reader: footer parse -> stripe decode -> Arrow batches.

Tail-first parse like ReaderImpl.java:204-260 (1-byte postscript length,
PostScript, compressed Footer), then per-stripe decode of only the included
columns' streams (column projection, OrcInputFormat.java:121-163 analog) in
one vectorized pass per column — no lazy per-row materialization; Spark's
scan is batch-columnar anyway.

Filter pruning: pushed predicates are evaluated against file-level column
statistics and per-stride ROW_INDEX statistics; a stripe is skipped when no
stride can match (the reference records the machinery but leaves stats
evaluation to the consumer — SURVEY.md §4 O2)."""

from __future__ import annotations

import bisect
import itertools
import os
import threading
import weakref
from collections import OrderedDict
from typing import Callable

import numpy as np
import pyarrow as pa

from . import codecs, proto
from .profiler import profiler
from .constants import (
    DEFAULT_COMPRESSION_BLOCK_SIZE,
    MAGIC,
    TIMESTAMP_BASE_SECONDS,
    ColumnEncodingKind,
    CompressionKind,
    StreamKind,
    TypeKind,
)
from .env import env_int
from .stats import ColumnStats, stats_from_proto
from .types import arrow_type_of as _arrow_type_of
from .types import subtree_ids
from .types import type_tree_to_schema


#: trailing-zero multiplier LUT for packed nanos: tag 0 -> x1 (no packing),
#: tag z>=1 -> x10^(z+1) (LazyTimestampTreeReader.java:99-108 decode table)
_NANO_MULT = np.array(
    [1] + [10 ** (z + 1) for z in range(1, 8)], dtype=np.int64
)


def _unpack_nanos(packed: np.ndarray) -> np.ndarray:
    # nanos < 1e9 so packed < 2^33: a signed view is safe, and the LUT
    # gather replaces the elementwise pow + where (was ~25% of a full
    # lineitem scan) with one gather and one multiply
    p = packed.view(np.int64)
    return (p >> 3) * _NANO_MULT[p & 7]


def _scatter(dense: pa.Array, present: np.ndarray) -> pa.Array:
    """Expand a dense (null-free) array to full length with nulls."""
    n = len(present)
    if len(dense) == n:
        return dense
    idx = np.zeros(n, dtype=np.int64)
    idx[present] = np.arange(len(dense), dtype=np.int64)
    return dense.take(pa.array(idx, type=pa.int64(), mask=~present))


def _validity_buffer(present: np.ndarray | None):
    if present is None:
        return None
    return pa.py_buffer(np.packbits(present, bitorder="little").tobytes())


def _offsets_array(lengths: np.ndarray, data, type_=pa.large_utf8()) -> pa.Array:
    """A `type_` (large_utf8 or large_binary) array of the values of
    `lengths` laid end to end in the buffer `data`, which Arrow takes
    without a copy."""
    offsets = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(lengths)])
    return pa.Array.from_buffers(
        type_, len(lengths), [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )


class _DictStride:
    """A decoded stride of a top-level, NULL-free DICTIONARY column
    (SHORT, INT, LONG or STRING) as the point reads cache it: the
    narrowest unsigned ids over the stripe dictionary, which the stripe
    decoder memoizes once for all its strides. Like the reference's lazy
    dictionary readers (LazyStringDictionaryTreeReader.java:60-109), a
    read looks up only the rows it gathers. `values` is the dictionary a
    numpy gather indexes (ints in the column's dtype, strings as str
    objects), `arrow` the one an Arrow take indexes (strings only), and
    `ascending` whether `values` ascend strictly, so that keys map to ids
    by searchsorted. A cache entry is charged for the ids only
    (nbytes): the dictionary is the decoder's, and the entry leaves the
    cache when its decoder leaves the handle (DwrfFile._point_decoder)."""

    __slots__ = ("ids", "values", "arrow", "ascending", "type", "nbytes")

    def __init__(self, ids, values, arrow, ascending: bool, type_: pa.DataType):
        self.ids = ids
        self.values = values
        self.arrow = arrow
        self.ascending = ascending
        self.type = type_
        self.nbytes = ids.nbytes

    def gather(self, sel) -> tuple[np.ndarray, np.ndarray]:
        """The rows `sel` (a slice or an index array) of a small gather, as
        (dictionary values, ids): _join looks the ids of a column's pieces
        up at once, and builds them into Arrow once."""
        return self.values, self.ids[sel]

    def to_arrow(self, sel=slice(None)) -> pa.Array:
        """The rows `sel` as an Arrow array, without a Python object per
        row: a numpy gather for ints, one take over the dictionary for
        strings."""
        if self.arrow is None:
            return pa.array(self.values[self.ids[sel]], type=self.type)
        return self.arrow.take(pa.array(self.ids[sel])).cast(self.type)

    def key_ids(self, keys: list) -> np.ndarray | None:
        """The id of each of the sorted `keys` in the dictionary (-1 for a
        key it does not hold), or None where searchsorted cannot map them:
        a dictionary that does not ascend, as a foreign writer may leave
        it, or keys of another kind than the column's values."""
        want = str if self.arrow is not None else int
        if not self.ascending or not all(type(k) is want for k in keys):
            return None
        try:
            kv = np.array(keys, dtype=object if want is str else np.int64)
        except OverflowError:
            return None
        pos = np.searchsorted(self.values, kv)
        held = self.values[np.minimum(pos, len(self.values) - 1)] == kv
        return np.where(held, pos, -1)


def _gatherer(offs) -> Callable:
    """A function gathering the rows at the sorted, distinct offsets
    `offs` from a stride's array. Point lookups gather from many arrays,
    and under concurrent clients each Arrow call that drops the GIL waits
    to get it back: a contiguous run (one row always is one) is a
    zero-copy slice, which keeps the GIL; a scattered run is one take
    through an index array built once and shared by every array gathered
    from. A lazy dictionary stride (_DictStride) gathers with numpy, and
    _join makes its values Arrow once per column."""
    lo, n = int(offs[0]), len(offs)
    if int(offs[-1]) - lo + 1 == n:
        run = slice(lo, lo + n)
        return lambda arr: (
            arr.gather(run) if type(arr) is _DictStride else arr.slice(lo, n)
        )
    pos = np.asarray(offs, dtype=np.int64)
    idx = pa.array(pos)
    return lambda arr: arr.gather(pos) if type(arr) is _DictStride else arr.take(idx)


def _join(parts: list[list], schema: pa.Schema) -> pa.Table:
    """A table of `schema` whose each column joins its list of pieces
    in `parts` (an empty list is an empty column). A piece is an Arrow
    array or a _DictStride gather, (dictionary values, ids); a column of
    gathers only is one numpy lookup per dictionary and one Arrow build."""

    def column(p: list, t: pa.DataType) -> pa.Array:
        if not p:
            return pa.array([], t)
        if all(type(a) is tuple for a in p):
            vals = p[0][0]
            if all(a[0] is vals for a in p):
                got = vals[p[0][1] if len(p) == 1 else np.concatenate([a[1] for a in p])]
            else:
                got = np.concatenate([v[ids] for v, ids in p])
            return pa.array(got, type=t)
        p = [pa.array(a[0][a[1]], type=t) if type(a) is tuple else a for a in p]
        return pa.concat_arrays(p) if len(p) > 1 else p[0]

    return pa.table([column(p, f.type) for p, f in zip(parts, schema)], schema=schema)


class NoStridePositions(Exception):
    """Raised when a column carries no usable ROW_INDEX seek positions
    (a UNION subtree, or a file written without a row index) — the
    caller falls back to whole-stripe decode."""


class DwrfNoChecksumsError(ValueError):
    """verify() called on a file written without ``checksums=True`` —
    there is nothing to scrub. A DEDICATED type so scrub surfaces (CLI
    ``verify``, the ``dwrf_verify`` TVF) can report 'no checksums'
    without a bare ``except ValueError`` that would also swallow an
    unexpected real failure as a benign skip."""


class DwrfCorruptError(ValueError):
    """Structurally invalid, truncated, or bit-damaged DWRF bytes.

    Every DwrfFile read surface funnels decode-time failures through
    this one type (original exception chained as __cause__), so callers
    can distinguish 'the file is damaged' from their own usage errors —
    the contract the reference pins with its corrupt-stream tests
    (TestInStream.java). Detection boundary, documented honestly: like
    the reference format, streams carry no per-block checksums, so a
    bit-flip inside raw DATA bytes that still decodes structurally
    (e.g. a literal value in an RLE run) is undetectable by ANY reader
    of this format; structural damage — truncation, header/footer/
    ROW_INDEX/stripe-directory corruption, compressed-block damage
    (zlib's own framing catches most flips) — raises this error and
    never returns fabricated rows."""


def _corrupt_guard(ctx: str):
    """Context manager converting low-level decode failures into
    DwrfCorruptError. Argument-contract errors must be raised BEFORE
    entering the guard (row-range IndexError, unknown-column KeyError)."""
    import struct
    import zlib
    from contextlib import contextmanager

    @contextmanager
    def guard():
        try:
            yield
        except (DwrfCorruptError, NoStridePositions):
            raise
        except (
            ValueError,
            TypeError,
            KeyError,
            IndexError,
            AttributeError,  # proto wire-type confusion on flipped tags
            OverflowError,
            EOFError,
            MemoryError,
            struct.error,
            zlib.error,
            pa.ArrowException,
        ) as e:
            raise DwrfCorruptError(f"{ctx}: corrupt DWRF data: {e}") from e

    return guard()


#: Arrow type of each integer kind
_INT_TYPES = {
    TypeKind.SHORT: pa.int16(),
    TypeKind.INT: pa.int32(),
    TypeKind.LONG: pa.int64(),
}


class _WholeReader:
    """The streams of one column, read whole: the stream reader of the
    whole-stripe decode (_StripeDecoder.decode_column). Each stream is
    decompressed once into the decoder's stream memo (stream()) and
    decoded from its start; raw() is a view into that memo, so float and
    string values reach Arrow without a copy."""

    seeks = False

    def __init__(self, dec: "_StripeDecoder", type_id: int):
        self.dec, self.col = dec, type_id

    def child(self, type_id: int) -> "_WholeReader":
        return _WholeReader(self.dec, type_id)

    def bits(self, kind: StreamKind, n: int) -> np.ndarray:
        return codecs.decode_bits(self.dec.stream(self.col, kind), n)[0]

    def bytes(self, kind: StreamKind, n: int) -> np.ndarray:
        return codecs.decode_byte_rle(self.dec.stream(self.col, kind), n)[0]

    def ints(self, kind: StreamKind, n: int, signed: bool) -> np.ndarray:
        return codecs.decode_int_rle(self.dec.stream(self.col, kind), n, signed)[0]

    def raw(self, kind: StreamKind, nbytes: int) -> np.ndarray:
        if not nbytes:
            return np.zeros(0, dtype=np.uint8)
        return self.dec.stream(self.col, kind)[:nbytes]


class _SeekReader:
    """The streams of one column over one row-index stride: the stream
    reader of the stride seek (_StripeDecoder.decode_stride_column). It
    consumes the stride's RowIndexEntry positions in the stream-by-stream
    layout DwrfWriter._resolve_positions writes, in the order its methods
    are called; each child column reads its OWN entry
    (LazyListTreeReader.java:101-107). Only the compressed blocks covering
    the stride are inflated (_StripeDecoder._block) and only its RLE
    groups are decoded — RecordReaderImpl.java:494-543 seekToRow +
    RunLengthIntegerReader.java:94-126 skip semantics. raw() returns a
    copy: a stride the point reads cache must not hold a view into a
    decompressed block, which would keep the whole block alive while the
    stride cache charges the stride only its slice. A column without
    positions for the stride (no ROW_INDEX: a file written without one)
    raises NoStridePositions at its first read."""

    seeks = True

    def __init__(self, dec: "_StripeDecoder", type_id: int, s_idx: int):
        self.dec, self.col, self.s_idx = dec, type_id, s_idx
        self.compressed = dec.r.compression != CompressionKind.NONE
        self.vals: list[int] | None = None
        self.i = 0

    def child(self, type_id: int) -> "_SeekReader":
        return _SeekReader(self.dec, type_id, self.s_idx)

    def _positions(self) -> list[int]:
        if self.vals is None:
            ri = self.dec.row_index(self.col)
            if ri is None or self.s_idx >= len(ri.entry):
                raise NoStridePositions(self.col)
            self.vals = [int(v) for v in ri.entry[self.s_idx].positions]
        return self.vals

    def _take(self, k: int) -> list[int]:
        vals = self._positions()
        if self.i + k > len(vals):
            raise NoStridePositions("positions exhausted")
        self.i += k
        return vals[self.i - k : self.i]

    def _instream(self) -> tuple[int | None, int]:
        """(block offset | None, uncompressed offset)."""
        if self.compressed:
            blk, off = self._take(2)
            return blk, off
        return None, self._take(1)[0]

    def bits(self, kind: StreamKind, n: int) -> np.ndarray:
        blk, off = self._instream()
        skip, bit = self._take(2)
        nbytes = (bit + n + 7) // 8
        packed = self._byte_rle(kind, blk, off, skip + nbytes)[skip:]
        return np.unpackbits(packed)[bit : bit + n].astype(bool)

    def bytes(self, kind: StreamKind, n: int) -> np.ndarray:
        blk, off = self._instream()
        (skip,) = self._take(1)
        return self._byte_rle(kind, blk, off, skip + n)[skip:]

    def ints(self, kind: StreamKind, n: int, signed: bool) -> np.ndarray:
        blk, off = self._instream()
        (skip,) = self._take(1)
        total = skip + n

        def decode(buf):
            ac = codecs.int_rle_aligned_count(buf, total)
            return codecs.decode_int_rle(buf, ac, signed)[0]

        # RLE v1 worst case ~11 B/value (10-byte varint + headers), plus a
        # group-alignment tail of at most 129 further values
        return self._rle(kind, blk, off, total * 11 + 1600, decode)[skip:total]

    def raw(self, kind: StreamKind, nbytes: int) -> np.ndarray:
        blk, off = self._instream()
        if not nbytes:
            return np.zeros(0, dtype=np.uint8)
        return self._window(kind, blk, off, nbytes).copy()

    def side_dictionary(self) -> pa.Array:
        """The stride's side dictionary of a stride-dictionary column
        (LazyStringDictionaryTreeReader.loadStrideDictionary): its
        STRIDE_DICTIONARY window and STRIDE_DICTIONARY_LENGTH run, whose
        positions come next, then its size."""
        size = self._positions()[self.dec._stride_dict_size_index(self.col)]
        at = self._instream()
        lengths = self.ints(StreamKind.STRIDE_DICTIONARY_LENGTH, size, signed=False)
        self._take(1)  # the size, read above
        data = self._window(StreamKind.STRIDE_DICTIONARY, *at, int(lengths.sum()))
        return _offsets_array(lengths, data.tobytes())

    def _byte_rle(self, kind, blk, off, total) -> np.ndarray:
        def decode(buf):
            ac = codecs.byte_rle_aligned_count(buf, total)
            return codecs.decode_byte_rle(buf, ac)[0][:total]

        return self._rle(kind, blk, off, total + total // 64 + 256, decode)

    def _rle(self, kind, blk, off, bound, decode):
        """decode(window) over the RLE run starting at (blk, off), where
        `bound` bytes always hold the values wanted. The window is the rest
        of the starting block; it reaches into the next block only when
        decode runs off that block's end (ValueError), and then joins at
        most `bound` bytes, not the whole blocks."""
        rng_len = self.dec._ranges[(self.col, int(kind))][1]
        if blk is None or blk >= rng_len:
            # uncompressed, or a position at the stream's end (no values)
            return decode(self._window(kind, blk, off, bound))
        part, nxt = self.dec._block(self.col, kind, blk)
        first = part[off : off + bound]
        try:
            return decode(first)
        except ValueError:
            if len(first) == bound or nxt >= rng_len:
                raise
            # the run goes on in the next block
            return decode(self._window(kind, blk, off, bound))

    def _window(self, kind, blk, off, need) -> np.ndarray:
        """`need` bytes of the decompressed stream (fewer at its end) from
        uncompressed offset `off` of the block at compressed offset `blk`.
        Only the blocks the window spans are read and inflated, and only
        the window's own bytes are joined; an uncompressed stream (blk
        None) reads just the window."""
        dec = self.dec
        rng_off, rng_len = dec._ranges[(self.col, int(kind))]
        if blk is None:
            return dec._raw_slice(rng_off + off, max(0, min(need, rng_len - off)))
        parts: list[np.ndarray] = []
        p, skip, have = blk, off, 0
        while have < need and p < rng_len:
            part, p = dec._block(self.col, kind, p)
            if skip >= len(part):
                skip -= len(part)
                continue
            piece = part[skip : skip + need - have]
            skip = 0
            parts.append(piece)
            have += len(piece)
        if not parts:
            return np.zeros(0, dtype=np.uint8)
        return parts[0] if len(parts) == 1 else np.concatenate(parts)


def _prune_field(types, ids: set[int], field: pa.Field, tid: int) -> pa.Field:
    """`field` with only the struct children whose type ids are in `ids`.
    Module-level rather than a recursive closure: a closure that calls
    itself is a reference cycle, and one over a handle would keep the
    handle (and its open file) alive until the cyclic GC ran."""
    t = types[tid]
    if TypeKind(t.kind) == TypeKind.STRUCT and pa.types.is_struct(field.type):
        kept = [
            _prune_field(types, ids, field.type.field(i), s)
            for i, (_nm, s) in enumerate(zip(t.fieldNames, t.subtypes))
            if s in ids
        ]
        return pa.field(field.name, pa.struct(kept))
    return field


class _LruCache:
    """A byte-budgeted LRU cache of the point-read path, shared by every
    thread. Three instances: the process's decompressed blocks (_BLOCKS,
    _StripeDecoder._block) under one budget for every decoder of every
    handle, as the reference's seek path keeps one decompressed buffer per
    open stream however many readers are open; the decoded strides of
    each user-held DwrfFile; and the decoded strides shared by every
    serving handle of lookup.shared_handle. The two stride instances each
    take SPARK_GRAFT_STRIDE_CACHE_MB: with one budget for both, a user
    handle's churn through cold strides evicted the serving handles' hot
    key strides. A stride entry is an Arrow array charged its bytes, or,
    for a NULL-free stride of a DICTIONARY SHORT/INT/LONG/STRING column,
    a _DictStride charged its ids only (the stripe dictionary it reads
    is its decoder's, counted once under DwrfFile.cache_bytes()
    "dictionaries").

    A key starts with its owner's token (owner()); the first insert of a
    key wins, and a put evicts the least recently used entries past the
    budget it is given. A get, a put, an eviction and a drop each hold
    the cache's lock, never across a read, an inflate or a decode. An
    owner's entries leave with the owner (drop, run by its finalizer), so
    the cache holds no reference to a decoder or a handle."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        # key -> (value, bytes), least recently used first
        self.entries: OrderedDict = OrderedDict()
        self.nbytes = 0
        self._owned: dict[int, int] = {}  # owner token -> bytes cached
        # tokens dropped while the lock was held elsewhere (another
        # thread, or a GC pass inside this cache's own critical section)
        self._dropped: list[int] = []

    def owner(self, obj) -> int:
        """A new owner token, whose entries leave when `obj` is collected."""
        token = next(_OWNER_TOKENS)
        weakref.finalize(obj, self.drop, token)
        return token

    def owned(self, token: int) -> int:
        """Bytes cached under the owner `token`."""
        return self._owned.get(token, 0)

    def get(self, key):
        """The value cached under `key`, now the most recently used, or
        None."""
        with self._lock:
            hit = self.entries.get(key)
            if hit is None:
                return None
            self.entries.move_to_end(key)
            return hit[0]

    def put(self, key, value, nbytes: int, budget: int):
        """Insert `value` of `nbytes` under `key` and evict the least
        recently used entries past `budget` bytes; returns the cached
        value (a concurrent decoder's, if one won the race). A value
        larger than the budget is returned uncached, since it would evict
        everything."""
        if nbytes > budget:
            return value
        with self._lock:
            self._forget_dropped()
            won = self.entries.get(key)
            if won is not None:
                return won[0]
            self._add(key, (value, nbytes))
            while self.nbytes > budget:
                self._remove(*self.entries.popitem(last=False))
        return value

    def remove_if(self, pred) -> None:
        """Remove every entry whose key and value `pred(key, value)`
        accepts."""
        with self._lock:
            for key in [k for k, (v, _) in self.entries.items() if pred(k, v)]:
                self._remove(key, self.entries.pop(key))

    def drop(self, token: int) -> None:
        """Remove the entries of the owner `token`. Never waits for the
        lock: when it is taken, the next put removes them."""
        self._dropped.append(token)
        if self._lock.acquire(blocking=False):
            try:
                self._forget_dropped()
            finally:
                self._lock.release()

    def _add(self, key, entry) -> None:
        self.entries[key] = entry
        self.nbytes += entry[1]
        self._owned[key[0]] = self._owned.get(key[0], 0) + entry[1]

    def _remove(self, key, entry) -> None:
        self.nbytes -= entry[1]
        left = self._owned[key[0]] - entry[1]
        if left:
            self._owned[key[0]] = left
        else:
            del self._owned[key[0]]

    def _forget_dropped(self) -> None:
        """Remove the entries of the dropped owners. Caller holds _lock."""
        while self._dropped:
            token = self._dropped.pop()
            if token in self._owned:
                for key in [k for k in self.entries if k[0] == token]:
                    self._remove(key, self.entries.pop(key))


#: one token per cache owner, so keys never alias across owners
_OWNER_TOKENS = itertools.count()
_BLOCKS = _LruCache()


def block_cache_bytes() -> int:
    """Bytes of decompressed blocks the process holds, across all
    handles: at most _StripeDecoder._BLK_CACHE_BUDGET."""
    return _BLOCKS.nbytes


class _StripeDecoder:
    """Decodes one stripe's streams.

    IO policy (RecordReaderImpl.java:281-399 / OrcConf.java:63-64 analog):
    with no projection, one eager read covers the whole stripe. With a
    projection, only the stripe footer is read up front; the included
    columns' stream byte ranges are then fetched in coalesced reads
    (adjacent/near ranges merged), falling back to one eager read when the
    projection covers most of the stripe bytes anyway. On object storage
    this is the difference between O(columns touched) and O(table width)
    bytes per task."""

    #: merge ranges separated by less than this many bytes into one IO
    _COALESCE_GAP = 64 * 1024
    #: if included streams cover more than this fraction, read eagerly
    _EAGER_FRACTION = 0.75
    #: byte budget of the decompressed blocks per process (_BLOCKS),
    #: over every decoder of every handle. Point reads keep no compressed
    #: bytes (see _raw_slice), so this bounds all the stream data the
    #: decoders hold outside their whole-stream memos, however large the
    #: files and however many handles are open
    _BLK_CACHE_BUDGET = 32 * 1024 * 1024

    def __init__(
        self,
        reader: "DwrfFile",
        stripe: proto.StripeInformation,
        include_ids: set[int] | None = None,
        index_ids: set[int] | None = None,
        prefetch: bool = True,
    ):
        """prefetch=False skips the up-front chunk read entirely — stream
        bytes are then read on demand (_raw_slice): a whole stream for
        stream(), one compressed block at a time for a stride window. The
        point-lookup path uses this: a seek that decodes one stride must
        not pay a whole-stripe read per call."""
        self.r = reader
        self.stripe = stripe
        self._index_ids = index_ids or set()
        # nested-field projection: when set, struct decode emits only the
        # children whose type ids are included (A4's recursive pushdown)
        self.decode_ids = include_ids
        body_len = stripe.indexLength + stripe.dataLength
        footer_raw = reader._read_at(stripe.offset + body_len, stripe.footerLength)
        self.footer = proto.decode_message(
            proto.StripeFooter,
            memoryview(codecs.decompress_stream(bytes(footer_raw), reader.compression)),
        )
        self.encodings = self.footer.columns
        # stream directory: (column, kind) -> compressed byte range
        self._ranges: dict[tuple[int, int], tuple[int, int]] = {}
        off = 0
        for s in self.footer.streams:
            self._ranges[(s.column, s.kind)] = (off, s.length)
            off += s.length
        self._chunks: list[tuple[int, np.ndarray]] = []  # (start, bytes) sorted
        # zlib's initial output buffer: one block's uncompressed size
        self._bufsize = reader.block_size or DEFAULT_COMPRESSION_BLOCK_SIZE
        # Memo caches. A point-lookup decoder is shared by every thread
        # reading through its handle, so every cache follows one rule:
        # lookups are single dict gets (no lock), except in the block
        # cache, whose LRU touch takes its lock; an insert, an eviction or
        # a byte count happens under a lock (the handle's, or the block
        # cache's for blocks), which is never held across a decode. An
        # entry, once inserted, never changes. _cache (whole streams),
        # _ri_cache (parsed ROW_INDEX) and _bounds (stride min/max) only
        # grow and are keyed by stream or column, so a racing miss at worst
        # decodes twice and stores an equal value; they take no lock.
        self._lock = reader._lock
        self._cache: dict[tuple[int, int], np.ndarray] = {}
        self._ri_cache: dict[int, proto.RowIndex] = {}
        self._bounds: dict[int, tuple[list, list]] = {}
        # decoded stripe dictionaries (type id -> values), read-only once
        # built and read by the whole-stripe decode and every stride seek
        # alike: a stride miss on a DICTIONARY column would otherwise
        # re-decode the whole DICTIONARY_DATA stream. _views holds what
        # the lazy strides (_DictStride) of a column read of its
        # dictionary: (values a numpy gather indexes, ascending)
        self._dicts: dict[int, object] = {}
        self._views: dict[int, tuple[np.ndarray, bool]] = {}
        # decompressed blocks of the stride-seek path (_block) live in the
        # process-wide _BLOCKS under this decoder's token: consecutive
        # stride seeks overwhelmingly land in the SAME compression block
        # (a 256 KB block holds ~5-10 strides of a typical int stream), so
        # without them every point lookup re-ran zlib over bytes a previous
        # lookup already inflated — measured ~50% of read_row wall time on
        # the sf0.1 lookup table. They leave the cache with the decoder.
        self._token = _BLOCKS.owner(self)
        wanted = (
            self._wanted_ranges(include_ids, body_len) if prefetch else []
        )
        for start, end in wanted:
            data = reader._read_at(stripe.offset + start, end - start)
            self._chunks.append((start, np.frombuffer(data, dtype=np.uint8)))

    def _wanted_ranges(
        self, include_ids: set[int] | None, body_len: int
    ) -> list[tuple[int, int]]:
        if body_len == 0:
            return []
        if include_ids is None:
            return [(0, body_len)]
        # stride-dictionary columns need their ROW_INDEX even without a
        # filter: the per-stride dictionary sizes live in its positions
        stride_dict_cols = {
            col
            for (col, kind) in self._ranges
            if kind == int(StreamKind.IN_DICTIONARY) and col in include_ids
        }
        spans = sorted(
            (off, off + ln)
            for (col, kind), (off, ln) in self._ranges.items()
            if col in include_ids
            or (
                kind == int(StreamKind.ROW_INDEX)
                and (col in self._index_ids or col in stride_dict_cols)
            )
        )
        if not spans:
            return []
        merged = [list(spans[0])]
        for a, b in spans[1:]:
            if a - merged[-1][1] <= self._COALESCE_GAP:
                merged[-1][1] = max(merged[-1][1], b)
            else:
                merged.append([a, b])
        covered = sum(b - a for a, b in merged)
        if covered >= self._EAGER_FRACTION * body_len:
            return [(0, body_len)]
        return [(a, b) for a, b in merged]

    def has_stream(self, column: int, kind: StreamKind) -> bool:
        return (column, int(kind)) in self._ranges

    def _raw_slice(self, off: int, ln: int) -> np.ndarray:
        """Stripe bytes [off, off + ln): a view into the prefetched chunk
        that covers them, else (the point-read decoders, dump tooling) one
        plain pread that nothing here keeps: callers keep what they derive
        from it — stream() the decompressed stream, _block() the
        decompressed block — so a long-lived decoder holds no compressed
        bytes."""
        for start, arr in self._chunks:
            if start <= off and off + ln <= start + len(arr):
                return arr[off - start : off - start + ln]
        return np.frombuffer(
            self.r._read_at(self.stripe.offset + off, ln), dtype=np.uint8
        )

    def stream(self, column: int, kind: StreamKind) -> np.ndarray:
        key = (column, int(kind))
        if key not in self._cache:
            off, ln = self._ranges[key]
            with profiler.phase("decompression"):
                # zero-copy handoff: the raw slice passes as a buffer
                # (no bytes() duplicate of the compressed stream) and a
                # stored single-block stream comes back as a window into
                # the prefetched chunk — no copies at all on that path
                data = codecs.decompress_stream(
                    self._raw_slice(off, ln), self.r.compression, self._bufsize
                )
            self._cache[key] = np.frombuffer(data, dtype=np.uint8)
        return self._cache[key]

    def row_index(self, column: int) -> proto.RowIndex | None:
        if not self.has_stream(column, StreamKind.ROW_INDEX):
            return None
        # memoized: repeated point lookups on a reused decoder were
        # re-parsing every column's RowIndex proto per read_row (~40% of
        # a lookup); the parsed object is immutable here
        hit = self._ri_cache.get(column)
        if hit is None:
            hit = proto.decode_message(
                proto.RowIndex,
                memoryview(self.stream(column, StreamKind.ROW_INDEX).tobytes()),
            )
            self._ri_cache[column] = hit
        return hit

    def stride_bounds(self, column: int) -> tuple[list, list] | None:
        """(mins, maxs): the minimum and maximum of `column` in each
        stride, from its ROW_INDEX statistics (None where a stride records
        none). None when the column has no ROW_INDEX. Parsed once per
        decoder: the lookup path prunes strides by them on every call."""
        hit = self._bounds.get(column)
        if hit is None:
            ri = self.row_index(column)
            if ri is None:
                return None
            kind = TypeKind(self.r.types[column].kind)
            mins, maxs = [], []
            for e in ri.entry:
                cs = e.statistics
                if cs is not None:
                    cs = stats_from_proto(kind, cs)
                mins.append(None if cs is None else cs.minimum)
                maxs.append(None if cs is None else cs.maximum)
            hit = self._bounds[column] = (mins, maxs)
        return hit

    # -- stride-bounded reads (ROW_INDEX seek positions, _SeekReader) ---------

    def _block(self, col: int, kind: StreamKind, p: int) -> tuple[np.ndarray, int]:
        """(decompressed block, offset of the next block) for the block
        whose header sits at compressed offset `p` of stream (col, kind).

        Each block is read on its own: one pread of at most 3 +
        compressionBlockSize bytes from a conforming writer, which nothing
        keeps once the block is inflated. A block that does not lie inside
        its stream's byte range raises DwrfCorruptError rather than
        reading the neighbouring stream."""
        ck = (self._token, col, int(kind), p)
        hit = _BLOCKS.get(ck)
        if hit is not None:
            return hit
        rng_off, rng_len = self._ranges[(col, int(kind))]
        if p < 0 or p + 3 > rng_len:
            raise DwrfCorruptError(
                f"block at {p} outside stream ({col}, {kind.name}) of "
                f"{rng_len} bytes"
            )
        data = self._raw_slice(rng_off + p, min(rng_len - p, 3 + self._bufsize))
        header = int(data[0]) | (int(data[1]) << 8) | (int(data[2]) << 16)
        framed = 3 + (header >> 1)
        if framed > rng_len - p:
            raise DwrfCorruptError(
                f"compressed block of {framed} bytes runs past stream "
                f"({col}, {kind.name}), which has {rng_len - p} bytes left"
            )
        if framed > len(data):  # a block larger than the declared size
            data = self._raw_slice(rng_off + p, framed)
        body = data[3:framed]
        if header & 1:
            part = body.copy()  # stored: keep none of the read
        else:
            part = np.frombuffer(
                codecs._decompress_block(
                    memoryview(body), self.r.compression, self._bufsize
                ),
                dtype=np.uint8,
            )
        budget = self._BLK_CACHE_BUDGET
        return _BLOCKS.put(ck, (part, p + framed), part.nbytes, budget)

    def _string_dictionary(self, type_id: int, n_dict: int) -> pa.Array:
        """The stripe dictionary of a DICTIONARY string column."""
        key_lengths, _ = codecs.decode_int_rle(
            self.stream(type_id, StreamKind.LENGTH), n_dict, signed=False
        )
        return _offsets_array(
            key_lengths, self.stream(type_id, StreamKind.DICTIONARY_DATA).tobytes()
        )

    def _dictionary(self, type_id: int, build):
        """The stripe dictionary of `type_id`, built by `build()` on first
        use (outside the lock; a racing build's result is dropped)."""
        hit = self._dicts.get(type_id)
        if hit is None:
            built = build()
            with self._lock:
                hit = self._dicts.setdefault(type_id, built)
        return hit

    def _lazy_stride(self, type_id: int, ids: np.ndarray, dictionary, pa_type):
        """A _DictStride of the dictionary ids `ids` of `type_id`, whose
        stripe dictionary is `dictionary` (an int array in the column's
        dtype, or an Arrow string array). The view its gathers index is
        built once per column, like the dictionary."""
        n_dict = len(dictionary)
        if len(ids) and int(ids.view(np.uint64).max()) >= n_dict:
            raise DwrfCorruptError(
                f"column {type_id}: dictionary id past its {n_dict} entries"
            )
        arrow = dictionary if isinstance(dictionary, pa.Array) else None
        view = self._views.get(type_id)
        if view is None:
            vals = dictionary if arrow is None else arrow.to_numpy(zero_copy_only=False)
            built = (vals, n_dict < 2 or bool(np.all(vals[1:] > vals[:-1])))
            with self._lock:
                view = self._views.setdefault(type_id, built)
        width = np.uint8 if n_dict <= 1 << 8 else np.uint16 if n_dict <= 1 << 16 else np.uint32
        return _DictStride(ids.astype(width), view[0], arrow, view[1], pa_type)

    def dictionary_bytes(self) -> int:
        """Bytes of the decoded stripe dictionaries, each counted once
        however many strides read it, with the str object arrays the lazy
        string strides gather from (their pointers)."""
        views = [v for v, _ in list(self._views.values()) if v.dtype == object]
        return sum(a.nbytes for a in list(self._dicts.values())) + sum(
            v.nbytes for v in views
        )

    def _stride_dict_size_index(self, type_id: int) -> int:
        """Index of the per-stride side-dictionary SIZE within a
        stride-dictionary column's RowIndexEntry positions: the reference's
        full seek layout, where LazyStringDictionaryTreeReader.loadIndeces
        (reference :120-139) consumes, in order: PRESENT bitfield
        (InStream + byte-skip + bit-pos) if nullable, STRIDE_DICTIONARY raw
        InStream, STRIDE_DICTIONARY_LENGTH int-RLE (InStream + value-skip),
        THEN the size — an InStream is 1 position uncompressed, 2
        compressed (InStream.java:123-131, :212-220)."""
        ins = 2 if self.r.compression != CompressionKind.NONE else 1
        idx = ins + (ins + 1)  # STRIDE_DICTIONARY + STRIDE_DICTIONARY_LENGTH
        if self.has_stream(type_id, StreamKind.PRESENT):
            idx += ins + 2  # PRESENT bitfield: InStream + byte-skip + bit
        return idx

    # -- column decode ---------------------------------------------------------

    def decode_column(self, type_id: int, n_rows: int) -> pa.Array:
        """The stripe's `n_rows` rows of `type_id`, every stream read
        whole."""
        with profiler.phase("decoding"):
            return self._decode(type_id, n_rows, _WholeReader(self, type_id))

    def decode_stride_column(
        self, type_id: int, s_idx: int, stride: int, n_rows: int, lazy: bool = False
    ) -> pa.Array | _DictStride:
        """Decode rows [s_idx*stride, min((s_idx+1)*stride, n_rows)) of a
        top-level column using its recorded seek positions, recursing into
        nested children. Raises NoStridePositions when a column in the
        subtree has none (a UNION, a file without a row index) — callers
        fall back to the whole-stripe decode. With `lazy` (a column
        without a date annotation, read for the point reads' stride
        cache), a stride without NULLs of a DICTIONARY-encoded SHORT, INT,
        LONG or STRING column (not a stride-dictionary one) is a
        _DictStride: its ids over the stripe dictionary that _dictionary
        memoizes, so the cache holds ids, not values."""
        rows = min(stride, n_rows - s_idx * stride)
        lazy = lazy and type_id not in self.r.date_ids
        return self._decode(type_id, rows, _SeekReader(self, type_id, s_idx), lazy)

    def _decode(self, type_id: int, rows: int, rd, lazy: bool = False):
        """The one per-type decode of both the whole-stripe scan and the
        stride seek (LazyTreeReader.java:300-365: one reader per type
        serves next() and seekToRow): `rows` rows of `type_id`, whose
        streams the stream reader `rd` reads (_WholeReader or
        _SeekReader), as an Arrow array, or a _DictStride with `lazy`."""
        t = self.r.types[type_id]
        kind = TypeKind(t.kind)
        if kind == TypeKind.UNION and rd.seeks:
            # branch value positions would need per-stride per-branch
            # counts, which the reference does not record either
            raise NoStridePositions(type_id)
        if rows <= 0:
            return self._empty(type_id)
        if not rd.seeks and self.has_stream(type_id, StreamKind.IN_DICTIONARY):
            # A14 stride dictionaries: each stride's side dictionary loads
            # from its own positions, so the stripe is its strides in turn
            stride = self.r.footer.rowIndexStride
            try:
                return pa.concat_arrays(
                    [
                        self._decode(
                            type_id,
                            min(stride, rows - lo),
                            _SeekReader(self, type_id, lo // stride),
                        )
                        for lo in range(0, rows, stride)
                    ]
                )
            except NoStridePositions as e:
                raise DwrfCorruptError(
                    f"column {type_id}: stride dictionaries without seek positions"
                ) from e
        if self.has_stream(type_id, StreamKind.PRESENT):
            present = rd.bits(StreamKind.PRESENT, rows)
            nd = int(present.sum())
        else:
            present, nd = None, rows
        enc = self.encodings[type_id]
        if nd == 0:
            dense = self._empty(type_id)
        elif kind == TypeKind.BOOLEAN:
            dense = pa.array(rd.bits(StreamKind.DATA, nd), type=pa.bool_())
        elif kind == TypeKind.BYTE:
            dense = pa.array(rd.bytes(StreamKind.DATA, nd).view(np.int8), type=pa.int8())
        elif kind in _INT_TYPES:
            pa_type = _INT_TYPES[kind]
            np_type = pa_type.to_pandas_dtype()
            if enc.kind == int(ColumnEncodingKind.DICTIONARY):
                dict_vals = self._dictionary(
                    type_id,
                    lambda: codecs.decode_int_rle(
                        self.stream(type_id, StreamKind.DICTIONARY_DATA),
                        enc.dictionarySize,
                        signed=True,
                    )[0].astype(np_type, copy=False),
                )
                ids = rd.ints(StreamKind.DATA, nd, signed=False)
                if lazy and nd == rows:
                    return self._lazy_stride(type_id, ids, dict_vals, pa_type)
                vals = dict_vals[ids]
            else:
                vals = rd.ints(StreamKind.DATA, nd, signed=True)
            # copy=False: LONG values (int64 from the RLE decoder) hand
            # their buffer to Arrow without a copy
            dense = pa.array(vals.astype(np_type, copy=False), type=pa_type)
        elif kind in (TypeKind.FLOAT, TypeKind.DOUBLE):
            is_float = kind == TypeKind.FLOAT
            np_t = np.dtype("<f4") if is_float else np.dtype("<f8")
            # a view of raw(): of the whole stream, or of a seek's copy
            vals = np.frombuffer(rd.raw(StreamKind.DATA, nd * np_t.itemsize), np_t, nd)
            dense = pa.array(vals, type=pa.float32() if is_float else pa.float64())
        elif kind in (TypeKind.STRING, TypeKind.BINARY):
            pa_type = pa.string() if kind == TypeKind.STRING else pa.binary()
            if enc.kind == int(ColumnEncodingKind.DICTIONARY):
                n_dict = enc.dictionarySize
                dict_arr = self._dictionary(
                    type_id, lambda: self._string_dictionary(type_id, n_dict)
                )
                if self.has_stream(type_id, StreamKind.IN_DICTIONARY):
                    # a seek (see above): an IN_DICTIONARY bit per value
                    # picks the stripe dictionary or the stride's own
                    side = rd.side_dictionary()
                    ids = rd.ints(StreamKind.DATA, nd, signed=False)
                    in_dict = rd.bits(StreamKind.IN_DICTIONARY, nd)
                    ids = np.where(in_dict, ids, n_dict + ids)
                    dict_arr = pa.concat_arrays([dict_arr, side])
                else:
                    ids = rd.ints(StreamKind.DATA, nd, signed=False)
                    if lazy and nd == rows and kind == TypeKind.STRING:
                        return self._lazy_stride(type_id, ids, dict_arr, pa_type)
                dense = dict_arr.take(pa.array(ids, type=pa.int64())).cast(pa_type)
            else:
                lengths = rd.ints(StreamKind.LENGTH, nd, signed=False)
                data = rd.raw(StreamKind.DATA, int(lengths.sum()))
                big = pa.large_utf8() if kind == TypeKind.STRING else pa.large_binary()
                # Arrow's buffer is raw() itself: the string payload (the
                # widest stream in a text table) is not copied again
                dense = _offsets_array(lengths, data, big).cast(pa_type)
        elif kind == TypeKind.TIMESTAMP:
            secs = rd.ints(StreamKind.DATA, nd, signed=True) + TIMESTAMP_BASE_SECONDS
            nanos = _unpack_nanos(rd.ints(StreamKind.NANO_DATA, nd, signed=False))
            if type_id in self.r.ns_timestamp_ids:
                ns = secs * 1_000_000_000 + nanos
                dense = pa.array(ns.view("datetime64[ns]"), type=pa.timestamp("ns"))
            else:
                us = secs * 1_000_000 + nanos // 1000
                dense = pa.array(us.view("datetime64[us]"), type=pa.timestamp("us"))
        elif kind in (TypeKind.LIST, TypeKind.MAP):
            lengths = rd.ints(StreamKind.LENGTH, nd, signed=False)
            child_n = int(lengths.sum())
            offsets = np.concatenate(
                [np.zeros(1, dtype=np.int32), np.cumsum(lengths, dtype=np.int32)]
            )
            kids = [self._decode(s, child_n, rd.child(s)) for s in t.subtypes]
            cls = pa.ListArray if kind == TypeKind.LIST else pa.MapArray
            dense = cls.from_arrays(pa.array(offsets, type=pa.int32()), *kids)
        elif kind == TypeKind.STRUCT:
            fields = self._struct_fields(t)
            dense = pa.StructArray.from_arrays(
                [self._decode(s, nd, rd.child(s)) for _, s in fields],
                names=[nm for nm, _ in fields],
            )
        else:  # UNION, read whole
            tags = rd.bytes(StreamKind.DATA, nd)
            branches = [
                _scatter(self._decode(s, int((tags == i).sum()), rd.child(s)), tags == i)
                for i, s in enumerate(t.subtypes)
            ]
            dense = pa.StructArray.from_arrays(
                [pa.array(tags.view(np.int8), type=pa.int8())] + branches,
                names=["tag"] + [f"field{i}" for i in range(len(t.subtypes))],
            )
        out = dense if present is None else _scatter(dense, present)
        if type_id in self.r.date_ids:
            out = out.cast(pa.date32())  # stored as INT days-since-epoch
        return out

    def _struct_fields(self, t) -> list[tuple[str, int]]:
        """(name, type id) of the fields of struct `t` the projection keeps."""
        return [
            (nm, s)
            for nm, s in zip(t.fieldNames, t.subtypes)
            if self.decode_ids is None or s in self.decode_ids
        ]

    def _empty(self, type_id: int) -> pa.Array:
        """An empty array of the column, pruned as decoded arrays are."""
        f = pa.field("", _arrow_type_of(self.r.types, type_id, self.r.type_overrides))
        if self.decode_ids is not None:
            f = _prune_field(self.r.types, self.decode_ids, f, type_id)
        return pa.array([], type=f.type)


# --- filter evaluation against statistics --------------------------------------


def _stats_may_match(st: ColumnStats, op: str, value) -> bool:
    lo, hi = st.minimum, st.maximum
    if op == "is_null":
        return True  # null counts not tracked separately; can't disprove
    if op == "is_not_null":
        return st.count > 0 or lo is not None
    if lo is None or hi is None:
        return True
    try:
        if op == "eq":
            return lo <= value <= hi
        if op == "lt":
            return lo < value
        if op == "lte":
            return lo <= value
        if op == "gt":
            return hi > value
        if op == "gte":
            return hi >= value
        if op == "in":
            return any(lo <= v <= hi for v in value)
        if op == "starts_with":
            # matching values sort in [prefix, ∞) capped below by any value
            # whose len(prefix)-char head exceeds prefix — so may-match iff
            # the max reaches the prefix and the min's head doesn't pass it.
            # (An upper sentinel like prefix+U+10FFFF is wrong: min itself
            # may carry the prefix yet sort above any finite sentinel.)
            return hi >= value and lo[: len(value)] <= value
    except TypeError:
        return True
    return True


def _resolve_field(name: str, names: list[str]) -> str | None:
    """Resolve a requested field name to its canonical spelling: exact match
    first, then case-insensitive (the reference resolves Hive's lowercased
    column names against arbitrary-case file schemas this way)."""
    if name in names:
        return name
    lowered = name.lower()
    for n in names:
        if n.lower() == lowered:
            return n
    return None


def stride_cache_budget() -> int:
    """Byte budget of a decoded-stride cache: that of one user-held
    handle, or the one the serving handles share
    (SPARK_GRAFT_STRIDE_CACHE_MB, default 64)."""
    return env_int("SPARK_GRAFT_STRIDE_CACHE_MB", 64) << 20


class DwrfFile:
    """Random-access DWRF file reader."""

    def __init__(
        self,
        path: str,
        verify_checksums: bool = False,
        *,
        _strides: _LruCache | None = None,
    ):
        """`_strides` is the decoded-stride cache to share (the serving
        handles'); by default the handle has its own."""
        from .fs import get_fs

        self.path = path
        # opt-in read-time scrub: with verify_checksums=True and CRC
        # triples recorded at write (checksums=True), every stripe's
        # index/data/footer regions are CRC-checked ONCE per handle
        # before their first decode — a flipped bit fails the SCAN with
        # a typed error naming the stripe instead of surfacing later as
        # a decode error (or waiting for the next ops-time scrub). Zero
        # tax when off or when the file carries no checksums.
        self._verify_on_read = verify_checksums
        self._verified_stripes: set[int] = set()
        self._verify_triples: list[tuple[int, int, int]] | None = None
        # The handle's one lock. It guards the handle's decoder LRU below
        # and the dictionary memos of the decoders (_StripeDecoder). The
        # decompressed blocks and decoded strides live in _LruCache
        # instances, under their own locks. It guards bookkeeping and IO,
        # never a decode.
        self._lock = threading.Lock()
        # point-read decoder reuse (_point_decoder, for read_row,
        # read_rows, read_rows_at and lookup_keys): (stripe, projection)
        # -> no-prefetch _StripeDecoder with warmed dictionary/index caches
        self._point_decoders: dict = {}
        # decoded strides of all point lookups on this handle, keyed
        # (token, stripe, type_id, s_idx, kept struct fields) -> pa.Array
        # or, for a NULL-free DICTIONARY stride, its ids over the stripe
        # dictionary (_DictStride; _cached_column). The serving steady
        # state re-reads a hot
        # working set, and under concurrent clients EVERY thread used to
        # re-decode the same stride (the r8-measured 9.8 ms/lookup at 32
        # clients vs 1.8 ms/row batched); with the arrays cached a repeat
        # hit is an LRU touch + a gather. Byte-budgeted
        # (stride_cache_budget) so a wide scan through cold strides can't
        # pin the heap.
        self._strides = _LruCache() if _strides is None else _strides
        self._token = self._strides.owner(self)
        self._f = get_fs(path).open(path, "rb")
        try:
            self._read_tail(path)
        except BaseException:
            self._f.close()  # a failed open leaves no file to the GC
            raise

    def _read_tail(self, path: str) -> None:
        """Read and validate magic, postscript, footer and stripe
        directory."""
        try:
            # local files: positional os.pread, safe under the stripe pool
            self._fileno = self._f.fileno()
        except (AttributeError, OSError):
            # non-local file-likes (fsspec objects): seek+read under a lock
            self._fileno = None
            self._read_lock = threading.Lock()
        self._f.seek(0, 2)
        self.file_length = self._f.tell()
        tail_len = min(self.file_length, 64 * 1024)
        tail = self._read_at(self.file_length - tail_len, tail_len)
        if bytes(self._read_at(0, 3)) != MAGIC:
            raise DwrfCorruptError(
                f"{path}: not a DWRF/ORC file (bad magic)"
            )
        with _corrupt_guard(f"{path} (file tail)"):
            ps_len = tail[-1]
            ps = proto.decode_message(
                proto.PostScript, memoryview(bytes(tail[-1 - ps_len : -1]))
            )
            if not ps.footerLength:
                raise DwrfCorruptError(
                    f"{path}: postscript carries no footer length"
                )
            self.compression = CompressionKind(ps.compression or 0)
            # every declared proto kind (orc_proto.proto:124-129) READS
            # without optional codecs: LZO blocks fall back to the
            # vendored pure-Python LZO1X decoder when python-lzo is
            # absent (codecs._decompress_block); only the WRITE side
            # still requires the real codec.
            self.block_size = ps.compressionBlockSize
            flen = ps.footerLength
            if flen + ps_len + 1 > len(tail):  # footer larger than probe
                tail = self._read_at(
                    self.file_length - (flen + ps_len + 1), flen + ps_len + 1
                )
            footer_raw = bytes(tail[-1 - ps_len - flen : -1 - ps_len])
            self.footer = proto.decode_message(
                proto.Footer,
                memoryview(
                    codecs.decompress_stream(footer_raw, self.compression)
                ),
            )
            self.types = self.footer.types
            if not self.types:
                raise DwrfCorruptError(f"{path}: footer carries no types")
            # type-tree validation: a flip surviving the footer's deflate
            # framing must not silently DROP columns (observed in fuzz: a
            # damaged root decoded as a scalar with no children, and every
            # read returned 0-column tables). Every DWRF/ORC file roots at
            # a STRUCT whose fieldNames pair 1:1 with subtypes; child ids
            # must stay inside the tree.
            root_t = self.types[0]
            if TypeKind(root_t.kind) != TypeKind.STRUCT or len(
                root_t.fieldNames
            ) != len(root_t.subtypes):
                raise DwrfCorruptError(
                    f"{path}: damaged type tree (root kind "
                    f"{root_t.kind}, {len(root_t.fieldNames)} names vs "
                    f"{len(root_t.subtypes)} children)"
                )
            for t in self.types:
                for sub in t.subtypes:
                    if sub <= 0 or sub >= len(self.types):
                        raise DwrfCorruptError(
                            f"{path}: type child id {sub} outside tree "
                            f"of {len(self.types)} nodes"
                        )
            self.num_rows = self.footer.numberOfRows or 0
            self.metadata = {m.name: m.value for m in self.footer.metadata}
            self.ns_timestamp_ids: set[int] = set()
            if "dwrf.timestamp.ns.ids" in self.metadata:
                self.ns_timestamp_ids = {
                    int(x)
                    for x in self.metadata["dwrf.timestamp.ns.ids"].split(b",")
                }
            self.date_ids: set[int] = set()
            if "dwrf.date.ids" in self.metadata:
                self.date_ids = {
                    int(x) for x in self.metadata["dwrf.date.ids"].split(b",")
                }
            self.type_overrides: dict[int, pa.DataType] = {
                tid: pa.timestamp("ns") for tid in self.ns_timestamp_ids
            }
            self.type_overrides.update(
                {tid: pa.date32() for tid in self.date_ids}
            )
            self.schema = type_tree_to_schema(self.types, self.type_overrides)
            # structural cross-validation: a bit-flip surviving the
            # footer's deflate framing must not send reads to shifted
            # offsets or fabricate row counts — stripe extents must be
            # ordered, in-bounds and row-consistent before any data read
            total_rows = 0
            prev_end = len(MAGIC)
            # first row of each stripe: point reads bisect it
            self._stripe_firsts: list[int] = []
            for s in self.footer.stripes:
                self._stripe_firsts.append(total_rows)
                end = (
                    (s.offset or 0)
                    + (s.indexLength or 0)
                    + (s.dataLength or 0)
                    + (s.footerLength or 0)
                )
                if (s.offset or 0) < prev_end or end > self.file_length:
                    raise DwrfCorruptError(
                        f"{path}: stripe directory entry out of bounds "
                        f"(offset {s.offset}, end {end}, "
                        f"file {self.file_length})"
                    )
                prev_end = end
                total_rows += s.numberOfRows or 0
            if total_rows != self.num_rows:
                raise DwrfCorruptError(
                    f"{path}: stripe rows {total_rows} != footer rows "
                    f"{self.num_rows}"
                )

    def verify(self) -> dict:
        """Scrub this file against its recorded per-stripe CRC32s
        (writer option ``checksums=True``, metadata key
        ``dwrf.stream.crc32``): re-read every stripe's index/data/footer
        region and compare. Closes the format's documented silent-flip
        blind spot for files written with checksums — a damaged region
        raises DwrfCorruptError naming the stripe and region; a file
        written WITHOUT checksums raises ValueError (a scrub that
        silently verified nothing would be worse than none).

        Returns {"stripes": n, "bytes": total} on success. Cost: one
        sequential read of the file + crc32 (~GB/s) — the ops-time scrub
        object stores and post-compaction validation run, not a per-query
        tax (stripe merges preserve per-stripe CRCs, so compacted files
        stay verifiable; see merge_files)."""
        triples = self._checksum_triples()
        if triples is None:
            raise DwrfNoChecksumsError(
                f"{self.path}: no checksums recorded (write with "
                "checksums=True to enable scrubbing)"
            )
        total = 0
        for i in range(len(triples)):
            total += self._crc_check_stripe(i, triples[i])
        return {"stripes": len(triples), "bytes": total}

    def _checksum_triples(self) -> list[tuple[int, int, int]] | None:
        """The recorded per-stripe (index, data, footer) CRC32 triples,
        parsed once per handle; None when the file carries none."""
        if self._verify_triples is None:
            from .constants import CHECKSUM_METADATA_KEY

            blob = self.metadata.get(CHECKSUM_METADATA_KEY)
            if blob is None:
                self._verify_triples = []
            else:
                with _corrupt_guard(f"{self.path} (checksum metadata)"):
                    self._verify_triples = [
                        tuple(int(x) for x in part.split(":"))
                        for part in blob.decode().split(";")
                        if part
                    ]
                if len(self._verify_triples) != len(self.footer.stripes):
                    n = len(self._verify_triples)
                    # leave the cache unset: a repeat call must re-raise
                    # CORRUPT, not misreport the file as checksum-less
                    self._verify_triples = None
                    raise DwrfCorruptError(
                        f"{self.path}: {n} checksum triples for "
                        f"{len(self.footer.stripes)} stripes"
                    )
        return self._verify_triples or None

    def _crc_check_stripe(self, i: int, triple: tuple) -> int:
        """CRC-check one stripe's three regions; returns bytes checked."""
        import zlib as _zlib

        s = self.footer.stripes[i]
        want_i, want_d, want_f = triple
        regions = (
            ("index", s.offset, s.indexLength, want_i),
            ("data", s.offset + s.indexLength, s.dataLength, want_d),
            (
                "footer",
                s.offset + s.indexLength + s.dataLength,
                s.footerLength,
                want_f,
            ),
        )
        total = 0
        for name, off, ln, want in regions:
            got = _zlib.crc32(self._read_at(off, ln))
            total += ln
            if got != want:
                raise DwrfCorruptError(
                    f"{self.path}: stripe {i} {name} region CRC "
                    f"mismatch (recorded {want}, computed {got}) — "
                    "bytes damaged since write"
                )
        return total

    def _verify_stripe_on_read(self, i: int) -> None:
        """verify_checksums=True hook: check stripe i's CRCs once per
        handle before its first decode; no-op when the file recorded
        none (zero tax — one metadata-dict probe)."""
        if i in self._verified_stripes:
            return
        triples = self._checksum_triples()
        if triples is not None:
            self._crc_check_stripe(i, triples[i])
        self._verified_stripes.add(i)

    def _read_at(self, offset: int, length: int) -> bytes:
        # positional read: no shared seek cursor, safe under the stripe
        # thread pool in read()
        if offset < 0 or length < 0 or offset + length > self.file_length:
            # only corrupt metadata computes an out-of-file range (e.g. a
            # flipped footerLength larger than the file)
            raise DwrfCorruptError(
                f"{self.path}: read [{offset}, {offset + length}) outside "
                f"file of {self.file_length} bytes"
            )
        if self._fileno is not None:
            return os.pread(self._fileno, length, offset)
        with self._read_lock:
            self._f.seek(offset)
            return self._f.read(length)

    def close(self):
        self._f.close()

    # -- stats access -----------------------------------------------------------

    def file_stats(self, type_id: int) -> ColumnStats:
        kind = TypeKind(self.types[type_id].kind)
        return stats_from_proto(kind, self.footer.statistics[type_id])

    def _top_level_id(self, name: str) -> int | None:
        root = self.types[0]
        resolved = _resolve_field(name, root.fieldNames)
        if resolved is None:
            return None
        return dict(zip(root.fieldNames, root.subtypes))[resolved]

    # -- projection parsing (supports nested paths like "s.qty") ---------------

    def _parse_projection(self, columns: list[str]):
        """-> (ordered [(top_name, top_tid)], decode/include id set).

        A dotted path keeps only the named struct subtree: "s.qty" includes
        the struct node s (for its PRESENT stream) plus the qty subtree —
        the reference's recursive boolean[] include
        (OrcInputFormat.java:121-163)."""
        root = self.types[0]
        by_name = dict(zip(root.fieldNames, root.subtypes))
        tops: list[tuple[str, int]] = []
        full: set[str] = set()
        partial: dict[str, list[str]] = {}
        for c in columns:
            top, _, rest = c.partition(".")
            # field lookup is case-insensitive, as in the reference's
            # ObjectInspector (TestObjectInspector.java:553-587); results
            # keep the file's canonical field names
            top = _resolve_field(top, root.fieldNames)
            if top is None:
                raise KeyError(f"no such column: {c.partition('.')[0]}")
            if all(t != top for t, _ in tops):
                tops.append((top, by_name[top]))
            if rest:
                partial.setdefault(top, []).append(rest)
            else:
                full.add(top)
        ids = {0}
        for top, tid in tops:
            if top in full or top not in partial:
                ids.update(subtree_ids(self.types, tid))
            else:
                ids.update(self._path_ids(tid, partial[top]))
        return tops, ids

    def _projection(self, columns: list[str] | None):
        """_parse_projection(columns), or every top-level column and no
        include set (decode everything) for columns=None."""
        if columns is not None:
            return self._parse_projection(columns)
        root = self.types[0]
        return list(zip(root.fieldNames, root.subtypes)), None

    def _path_ids(self, tid: int, rests: list[str]) -> set[int]:
        ids = {tid}
        t = self.types[tid]
        by = dict(zip(t.fieldNames, t.subtypes))
        for rest in rests:
            seg, _, tail = rest.partition(".")
            seg = _resolve_field(seg, t.fieldNames)
            if seg is None:
                raise KeyError(f"no such nested field: {rest.partition('.')[0]}")
            child = by[seg]
            if tail:
                ids.update(self._path_ids(child, [tail]))
            else:
                ids.update(subtree_ids(self.types, child))
        return ids

    def projected_schema(self, columns: list[str]) -> pa.Schema:
        """Arrow schema of a (possibly nested) projection result."""
        tops, ids = self._parse_projection(columns)
        return pa.schema(
            [
                _prune_field(self.types, ids, self.schema.field(nm), tid)
                for nm, tid in tops
            ]
        )

    def _filter_may_match_stats(self, filters, stats_for) -> bool:
        """filters: list of (column_name, op, value) conjuncts."""
        for name, op, value in filters:
            tid = self._top_level_id(name)
            if tid is None:
                continue
            st = stats_for(tid)
            if st is None:
                continue
            if not _stats_may_match(st, op, value):
                return False
        return True

    def _dictionary_disproves(self, stripe, filters) -> bool:
        """Fourth pruning tier: an equality conjunct on a DICTIONARY-encoded
        string column can be decided EXACTLY from the stripe dictionary —
        if the value is not among the keys, no row in the stripe matches,
        even when min/max stats cannot prune (the value sorts inside the
        range). Reads only the LENGTH + DICTIONARY_DATA streams (direct IO,
        no data-stream prefetch); stride-dictionary stripes are skipped
        because their side dictionaries hold additional keys."""
        eligible = [
            (name, value)
            for name, op, value in filters
            if op == "eq" and isinstance(value, str)
        ]
        if not eligible:
            return False
        dec = _StripeDecoder(self, stripe, include_ids=set())
        for name, value in eligible:
            tid = self._top_level_id(name)
            if tid is None or tid >= len(dec.encodings):
                continue
            if TypeKind(self.types[tid].kind) != TypeKind.STRING:
                continue
            enc = dec.encodings[tid]
            if enc.kind != int(ColumnEncodingKind.DICTIONARY):
                continue
            if dec.has_stream(tid, StreamKind.IN_DICTIONARY):
                continue
            n_dict = enc.dictionarySize or 0
            if n_dict == 0:
                return True  # all-null column: equality cannot match
            key_lengths, _ = codecs.decode_int_rle(
                dec.stream(tid, StreamKind.LENGTH), n_dict, signed=False
            )
            key_data = dec.stream(tid, StreamKind.DICTIONARY_DATA).tobytes()
            vb = value.encode("utf-8")
            lens = np.asarray(key_lengths, dtype=np.int64)
            offs = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(lens)])
            found = any(
                key_data[offs[i] : offs[i + 1]] == vb
                for i in np.flatnonzero(lens == len(vb))
            )
            if not found:
                return True
        return False

    # -- read -------------------------------------------------------------------

    def read_stripe(
        self,
        stripe_index: int,
        columns: list[str] | None = None,
        filters: list[tuple] | None = None,
        parallel_columns: bool = False,
    ) -> pa.Table | None:
        """Decode one stripe to an Arrow table (None if pruned by filters).

        parallel_columns decodes top-level columns on a thread pool —
        profitable only when nothing else parallelizes the work (the
        whole-file `read()` of a 1-stripe file); the Spark DataSource path
        keeps it off because Spark already runs one task per stripe."""
        with profiler.phase("read"):
            return self._read_stripe_impl(
                stripe_index, columns, filters, parallel_columns
            )

    def _read_stripe_impl(
        self,
        stripe_index: int,
        columns: list[str] | None = None,
        filters: list[tuple] | None = None,
        parallel_columns: bool = False,
    ) -> pa.Table | None:
        if self._verify_on_read:
            self._verify_stripe_on_read(stripe_index)
        stripe = self.footer.stripes[stripe_index]
        if filters and self._dictionary_disproves(stripe, filters):
            return None
        selected, include_ids = self._projection(columns)
        index_ids: set[int] | None = None
        if columns is not None and filters:
            index_ids = {
                tid
                for name, _op, _v in filters
                if (tid := self._top_level_id(name)) is not None
            }
        dec = _StripeDecoder(self, stripe, include_ids, index_ids)
        n = stripe.numberOfRows
        stride_alive: list[bool] | None = None
        if filters:
            # stride-level pruning (A5 analog): mark strides whose min/max
            # stats disprove a conjunct; skip the stripe if none survive,
            # else decode and slice to the surviving stride row ranges.
            def stride_sets(tid):
                ri = dec.row_index(tid)
                if ri is None or not ri.entry:
                    return None
                kind = TypeKind(self.types[tid].kind)
                return [stats_from_proto(kind, e.statistics) for e in ri.entry if e.statistics]

            per_col = {}
            any_stride = None
            for name, op, value in filters:
                tid = self._top_level_id(name)
                if tid is None:
                    continue
                sets = stride_sets(tid)
                if sets is None:
                    continue
                # IN-list values arrive as a list after the partition
                # pickles through Spark — tuple-ize for the dict key
                key_value = (
                    tuple(value) if isinstance(value, list) else value
                )
                per_col[(name, op, key_value)] = sets
                any_stride = len(sets) if any_stride is None else any_stride
            if per_col and any_stride:
                stride_alive = [True] * any_stride
                for (name, op, value), sets in per_col.items():
                    for i, st in enumerate(sets[:any_stride]):
                        if stride_alive[i] and not _stats_may_match(st, op, value):
                            stride_alive[i] = False
                if not any(stride_alive):
                    return None
                if all(stride_alive):
                    stride_alive = None
        schema = self.schema if columns is None else self.projected_schema(columns)
        # Column parallelism: OFF by default (Spark runs one task per
        # stripe; a per-task column pool would oversubscribe). For the
        # whole-file read() of a single-stripe file it is a measured ~1.6x
        # win since the r5 native kernels — ctypes RLE decode and zlib both
        # release the GIL, and the decoder's memos and the profiler are
        # thread-safe (a profiled read keeps both pools). An earlier
        # all-numpy decoder measured SLOWER under a column pool; the C
        # kernels changed that.
        if parallel_columns and len(selected) > 1:
            from concurrent.futures import ThreadPoolExecutor

            workers = min(len(selected), os.cpu_count() or 4, 12)
            with ThreadPoolExecutor(max_workers=workers) as ex:
                arrays = list(
                    ex.map(
                        lambda tid: dec.decode_column(tid, n),
                        [tid for _, tid in selected],
                    )
                )
        else:
            arrays = [dec.decode_column(tid, n) for _, tid in selected]
        with profiler.phase("deserialization"):
            table = pa.Table.from_arrays(arrays, schema=schema)
        if stride_alive is not None:
            stride = self.footer.rowIndexStride or 0
            if stride > 0:
                pieces = []
                start = None
                for i, alive in enumerate(stride_alive):
                    if alive and start is None:
                        start = i
                    elif not alive and start is not None:
                        pieces.append(
                            table.slice(start * stride, (i - start) * stride)
                        )
                        start = None
                if start is not None:
                    pieces.append(table.slice(start * stride))
                table = pa.concat_tables(pieces)
        return table

    def read(
        self,
        columns: list[str] | None = None,
        filters: list[tuple] | None = None,
    ) -> pa.Table:
        """Read the whole file (filters prune stripes; residual rows remain)."""
        if columns is not None:
            self._parse_projection(columns)  # contract errors BEFORE guard
        with _corrupt_guard(self.path):
            return self._read_impl(columns, filters)

    def _read_impl(
        self,
        columns: list[str] | None = None,
        filters: list[tuple] | None = None,
    ) -> pa.Table:
        if filters and not self._filter_may_match_stats(
            filters, lambda tid: self.file_stats(tid)
        ):
            schema = (
                self.schema if columns is None else self.projected_schema(columns)
            )
            return schema.empty_table()
        n_stripes = len(self.footer.stripes)
        # parallelize across columns ONLY when the stripe pool has nothing
        # to do (1-stripe file): with 2-3 stripes the stripe pool already
        # runs, and nesting pools (~3 x 12 threads) oversubscribes the
        # host for GIL-released decode work that is cache-friendlier done
        # per-stripe (matches read_stripe's documented policy)
        par_cols = n_stripes == 1
        if n_stripes > 1:
            # Decode stripes on a small thread pool: the hot paths (ctypes
            # RLE decode, zlib, pread) all release the GIL, so this scales
            # like the C++ parquet reader's internal parallelism. Spark's
            # one-task-per-stripe path never takes this branch (each task
            # reads a single stripe); it serves whole-file readers (dump
            # tool, bench, interactive use). Order is preserved.
            from concurrent.futures import ThreadPoolExecutor

            workers = min(n_stripes, os.cpu_count() or 4, 8)
            with ThreadPoolExecutor(max_workers=workers) as ex:
                maybe = list(
                    ex.map(
                        lambda i: self.read_stripe(
                            i,
                            columns=columns,
                            filters=filters,
                            parallel_columns=par_cols,
                        ),
                        range(n_stripes),
                    )
                )
        else:
            maybe = [
                self.read_stripe(
                    i, columns=columns, filters=filters, parallel_columns=par_cols
                )
                for i in range(n_stripes)
            ]
        tables = [t for t in maybe if t is not None]
        if not tables:
            schema = (
                self.schema if columns is None else self.projected_schema(columns)
            )
            return schema.empty_table()
        return pa.concat_tables(tables)

    def read_rows(
        self, row_offset: int, count: int, columns: list[str] | None = None
    ) -> pa.Table:
        """Random access (RecordReader.seekToRow analog,
        RecordReaderImpl.java:494-543): return rows [row_offset,
        row_offset+count), clamped to the file (empty past its end). The
        rows are read through the point-read path that read_row and
        read_rows_at share (_point_window): the stripe directory locates
        them without scanning, and each touched row-index stride is read
        once, through the handle's stride cache, and kept as one slice. A
        stride the range covers whole is read from the cache but, on a
        miss, not inserted: a long read leaves the strides that serve
        point reads in place. Every piece is Arrow (a lazy dictionary
        stride's is one numpy gather or one take over its dictionary)."""
        tops, include_ids = self._projection(columns)
        schema = self.schema if columns is None else self.projected_schema(columns)
        parts: list[list[pa.Array]] = [[] for _ in tops]
        r, end = max(row_offset, 0), min(row_offset + count, self.num_rows)
        with _corrupt_guard(self.path):
            while r < end:
                i, s_idx, off, rows = self._locate(r)
                n = min(rows - off, end - r)
                dec = self._point_decoder(i, include_ids)
                arrays = self._point_window(dec, i, s_idx, tops, keep=n < rows)
                for p, arr in zip(parts, arrays):
                    if type(arr) is _DictStride:
                        p.append(arr.to_arrow(slice(off, off + n)))
                    else:
                        p.append(arr.slice(off, n))
                r += n
        return _join(parts, schema)

    def _point_decoder(
        self, stripe_index: int, include_ids: set[int] | None
    ) -> "_StripeDecoder":
        """Decoder reuse across point lookups (the serving pattern is MANY
        reads per open file): keyed by (stripe, projection); built with
        prefetch=False so a seek never pays a whole-stripe read — only the
        covering blocks are read and decompress. Dictionaries and indexes
        cache inside the decoder, and decompressed blocks under its token
        in the process-wide block cache, so lookup k>1 is pure
        stride-window work. The cache is LRU (hit moves the key to
        the back, overflow evicts the FRONT) so workloads alternating
        across more than the cap's (stripe, projection) pairs keep their
        warm working set instead of rebuilding every decoder. Threads
        share the decoders: the LRU is touched only under the handle's
        lock, and a decoder is built (a stripe-footer read) outside it;
        when two threads build the same one, the first to insert wins and
        both use its decoder. A cached decoder sees the handle through a
        weak proxy: a strong reference would form a handle -> decoder ->
        handle cycle, and a handle the lookup LRU drops would close its
        file only when the cyclic GC ran. With verify_checksums=True the
        stripe's CRCs are checked once per handle before its first point
        read. A decoder that leaves the LRU takes the lazy dictionary
        strides (_DictStride) of its stripe out of the stride cache."""
        if self._verify_on_read:
            self._verify_stripe_on_read(stripe_index)
        key = (
            stripe_index,
            tuple(sorted(include_ids)) if include_ids is not None else None,
        )
        with self._lock:
            # pop+reinsert is the LRU touch (dict preserves insertion order)
            dec = self._point_decoders.pop(key, None)
            if dec is not None:
                self._point_decoders[key] = dec
                return dec
        built = _StripeDecoder(
            weakref.proxy(self),
            self.footer.stripes[stripe_index],
            include_ids,
            prefetch=False,
        )
        evicted: set[int] = set()  # stripes whose decoder left the LRU
        with self._lock:
            dec = self._point_decoders.pop(key, None) or built
            self._point_decoders[key] = dec
            while len(self._point_decoders) > 8:  # cap: stripes x projections
                gone = next(iter(self._point_decoders))
                del self._point_decoders[gone]
                evicted.add(gone[0])
        if evicted:
            # a lazy stride reads its decoder's dictionary: the lazy
            # strides of those stripes leave too, so every dictionary the
            # cache keeps alive is a live decoder's, which cache_bytes counts
            token = self._token
            self._strides.remove_if(
                lambda k, v: k[0] == token and k[1] in evicted and type(v) is _DictStride
            )
        return dec

    def cache_bytes(self) -> dict[str, int]:
        """Bytes this handle holds for point lookups, per cache layer:
        decoded strides (its entries in its stride cache, which holds at
        most stride_cache_budget(): its own, or the one the serving handles
        share), decompressed blocks of its at most 8 decoders (its share of
        the blocks of all handles, at most _StripeDecoder._BLK_CACHE_BUDGET
        per process; see block_cache_bytes), whole decompressed streams
        (row indexes, dictionary streams, whole-stripe fallbacks) and
        decoded stripe dictionaries, each counted once: a lazy dictionary
        stride (_DictStride) counts its ids under "strides" and reads the
        dictionary of its decoder."""
        with self._lock:
            decs = list(self._point_decoders.values())
        out = {
            "strides": self._strides.owned(self._token),
            "blocks": sum(_BLOCKS.owned(d._token) for d in decs),
        }
        out["streams"] = sum(a.nbytes for d in decs for a in list(d._cache.values()))
        out["dictionaries"] = sum(d.dictionary_bytes() for d in decs)
        return out

    def _cached_column(
        self, dec, i: int, tid: int, s_idx: int, stride: int, n_rows: int,
        keep: bool = True,
    ) -> pa.Array | _DictStride:
        """_point_window's read of one column through the handle's stride
        cache (an LRU of decoded strides: a hot stride skips the decode),
        keyed by the stride (-1: the whole stripe) and, only where the
        projection prunes the column's subtree, the ids it keeps of it. A
        cached stride of a NULL-free DICTIONARY SHORT/INT/LONG/STRING
        column is a _DictStride, charged for its ids only; every other
        stride is its Arrow array. With keep=False (a stride read_rows
        reads whole) a miss is decoded to Arrow and not inserted, so a
        long read leaves the serving working set alone; a whole-stripe
        decode is inserted either way, since every stride of its stripe
        reads it."""
        kept = None
        if dec.decode_ids is not None:
            sub = frozenset(subtree_ids(self.types, tid))
            kept = None if sub <= dec.decode_ids else sub & dec.decode_ids
        cache = self._strides
        key = (self._token, i, tid, s_idx, kept)
        arr = cache.get(key)
        if arr is None:
            try:
                arr = dec.decode_stride_column(tid, s_idx, stride, n_rows, lazy=keep)
            except NoStridePositions:
                key = (self._token, i, tid, -1, kept)
                whole = cache.get(key)
                if whole is None:
                    whole = dec.decode_column(tid, n_rows)
                    cache.put(key, whole, whole.nbytes, stride_cache_budget())
                return whole.slice(s_idx * stride, stride)
            if keep:
                arr = cache.put(key, arr, arr.nbytes, stride_cache_budget())
        return arr

    def _stride_rows(self, stripe_index: int) -> int:
        """Rows per stride of a stripe, as the point reads split it: the
        row-index stride, or the whole stripe in a file written without a
        row index (that one stride has no seek positions, so it decodes
        whole)."""
        return (
            self.footer.rowIndexStride
            or self.footer.stripes[stripe_index].numberOfRows
        )

    def _locate(self, row: int) -> tuple[int, int, int, int]:
        """(stripe, stride, offset in the stride, rows in the stride) of
        file row `row`, by bisecting the stripes' first rows."""
        i = bisect.bisect_right(self._stripe_firsts, row) - 1
        stride = self._stride_rows(i)
        s_idx, off = divmod(row - self._stripe_firsts[i], stride)
        n_rows = self.footer.stripes[i].numberOfRows
        return i, s_idx, off, min(stride, n_rows - s_idx * stride)

    def _point_window(
        self, dec, i: int, s_idx: int, tops, have=None, keep: bool = True
    ) -> list:
        """The point-read primitive of read_row, read_rows, read_rows_at
        and lookup_keys: the array of each projected column (name, type
        id) of `tops` over the rows of stride s_idx of stripe i, decoded
        by the point decoder `dec`: an Arrow array, or a _DictStride whose
        rows a gather looks up. A column seeks to the stride through its
        ROW_INDEX positions; one without them (UNION, files without a row
        index) decodes the whole stripe, sliced to the stride. Both go
        through the handle's stride cache (_cached_column; `keep` False
        reads it without inserting strides). `have` maps a type id to the
        stride's array the caller already holds."""
        n_rows = self.footer.stripes[i].numberOfRows
        stride = self._stride_rows(i)
        out = []
        for _name, tid in tops:
            arr = have.get(tid) if have else None
            if arr is None:
                arr = self._cached_column(dec, i, tid, s_idx, stride, n_rows, keep)
            out.append(arr)
        return out

    def read_row(
        self, row_number: int, columns: list[str] | None = None
    ) -> dict:
        """Point lookup (RecordReaderImpl.java:494-543 seekToRow +
        LazyTreeReader.java:300-365 parity, at this format's designed
        granularity): return row `row_number` as a {column: value} dict.

        Cost model: the stripe directory locates the containing stripe by
        bisection without touching data; the row is then read through the
        point-read path that read_rows and read_rows_at share
        (_point_window). Each projected column seeks via the per-stride
        stream positions in its ROW_INDEX (WriterImpl.java:317-328
        records, InStream.java:112-132 / RunLengthIntegerReader.java:94-126
        consume) — only the compressed blocks covering the containing
        stride are decompressed and only that stride's RLE groups are
        decoded, so the seek quantum is one row-index stride (default 10k
        rows), not the stripe, and the decoded stride stays in the
        handle's stride cache for the next read. Columns without
        positions (UNION, legacy files) decode the whole stripe once."""
        if row_number < 0 or row_number >= self.num_rows:
            raise IndexError(
                f"row {row_number} out of range [0, {self.num_rows})"
            )
        tops, include_ids = self._projection(columns)
        with _corrupt_guard(self.path):
            i, s_idx, off, _ = self._locate(row_number)
            dec = self._point_decoder(i, include_ids)
            arrays = self._point_window(dec, i, s_idx, tops)
        return {
            name: arr.values[arr.ids[off : off + 1]].tolist()[0]
            if type(arr) is _DictStride
            else arr[off].as_py()
            for (name, _), arr in zip(tops, arrays)
        }

    def read_rows_at(
        self, row_numbers, columns: list[str] | None = None
    ) -> pa.Table:
        """Batched point lookup — the serving half of the A5 seek surface
        (RecordReaderImpl.java:494-543 seekToRow, amortized): fetch many
        rows in ONE pass, returned as a pyarrow Table in input order
        (duplicates allowed and preserved).

        Cost model: requested rows are grouped stripe -> stride; each
        touched stride is read once through the point-read path that
        read_row and read_rows share (_point_window), and all rows falling
        in it are gathered at once (a slice when they are contiguous,
        else one take) — k rows landing in the same stride cost one stride
        read plus one gather per column. Each column's pieces join with
        one concat and reorder to input order with at most one take.
        Footer / stripe-footer / ROW_INDEX parses are amortized across
        calls through the shared LRU point-decoder cache."""
        ids = [int(r) for r in row_numbers]
        for r in ids:
            if r < 0 or r >= self.num_rows:
                raise IndexError(
                    f"row {r} out of range [0, {self.num_rows})"
                )
        tops, include_ids = self._projection(columns)
        schema = self.schema if columns is None else self.projected_schema(columns)
        parts: list[list[pa.Array]] = [[] for _ in tops]
        # row of the joined pieces that each output position takes
        src = [0] * len(ids)
        with _corrupt_guard(self.path):
            # (stripe, stride) -> [(offset in the stride, output position)]
            by_stride: dict[tuple[int, int], list[tuple[int, int]]] = {}
            for pos, r in enumerate(ids):
                i, s_idx, off, _ = self._locate(r)
                by_stride.setdefault((i, s_idx), []).append((off, pos))
            joined = 0
            for i, s_idx in sorted(by_stride):
                offs_pos = by_stride[(i, s_idx)]
                # each distinct row is gathered once, in row order
                offs = sorted({o for o, _ in offs_pos})
                at = {o: joined + k for k, o in enumerate(offs)}
                for o, pos in offs_pos:
                    src[pos] = at[o]
                joined += len(offs)
                gather = _gatherer(offs)
                dec = self._point_decoder(i, include_ids)
                for p, arr in zip(parts, self._point_window(dec, i, s_idx, tops)):
                    p.append(gather(arr))
        table = _join(parts, schema)
        if src != list(range(len(ids))):
            table = table.take(pa.array(src, type=pa.int64()))
        return table

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
