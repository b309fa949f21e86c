"""DWRF file writer: Arrow batches -> stripes of encoded column streams.

Produces the reference's on-disk layout (WriterImpl.java):

    "ORC" | stripe_1..N [index | dictionary | data | StripeFooter]
          | Footer | PostScript | 1-byte postscript length

but with a batch/columnar architecture: each stripe is encoded from a
buffered Arrow table in one vectorized pass per column (no per-row
TreeWriter fan-out). Encoding policy per column per stripe:

- adaptive dictionary for STRING/INT-family when distinct/total <= threshold
  (OrcConf defaults 0.8 / 0.7), gated for strings by the reference's entropy
  sampling heuristic (WriterImpl.java:1297-1363): when few values repeat,
  dictionary encoding is kept only for high-entropy keys
- PRESENT stream suppressed when the stripe has no nulls (WriterImpl.java:537-548)
- TIMESTAMP as seconds-from-2015-epoch (signed RLE) + trailing-zero-packed
  nanos (unsigned RLE), WriterImpl.java:1736-1798; we use floor-division
  semantics so sub-second values round-trip exactly for any sign
- ROW_INDEX per column every `row_index_stride` rows with stride-level
  statistics AND per-stream seek positions (WriterImpl.java:317-328,617-621
  PositionRecorder parity, resolved post-hoc from the encoded bytes in
  _resolve_positions): [compressed block offset, in-block offset] per
  stream when compressed, plus RLE value-skip / bitfield bit-offset
  coordinates, so a point lookup decodes one stride, not one stripe
  (reader.decode_stride_column). Stride-dictionary columns write the
  reference's FULL layout (LazyStringDictionaryTreeReader.loadIndeces
  order: [PRESENT] STRIDE_DICTIONARY, STRIDE_DICTIONARY_LENGTH, side-dict
  SIZE, DATA, IN_DICTIONARY). The children of a LIST, MAP or STRUCT
  record their own entries at the values their parent's stride starts
  at (LazyListTreeReader.java:101-107); UNION branches record none, so
  a UNION is read whole-stripe.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import codecs, proto
from .profiler import profiler
from .constants import (
    CHECKSUM_METADATA_KEY,
    DEFAULT_COMPRESSION_BLOCK_SIZE,
    DEFAULT_ENTROPY_KEY_SIZE_THRESHOLD,
    DEFAULT_ENTROPY_MIN_SAMPLES,
    DEFAULT_ENTROPY_SAMPLE_FRACTION,
    DEFAULT_ENTROPY_THRESHOLD,
    DEFAULT_INT_DICT_THRESHOLD,
    DEFAULT_ROW_INDEX_STRIDE,
    DEFAULT_STRING_DICT_THRESHOLD,
    DEFAULT_STRIPE_SIZE,
    DEFAULT_ZLIB_LEVEL,
    MAGIC,
    TIMESTAMP_BASE_SECONDS,
    ColumnEncodingKind,
    CompressionKind,
    StreamKind,
    TypeKind,
)
from .env import env_int
from .stats import ColumnStats
from .types import collect_arrow_types, schema_to_type_tree
from pyarrow import types as patypes


# pseudo-stream key for the per-stride side-dictionary SIZE position (a
# bare value in the RowIndexEntry, not a stream seek — the reference
# stores it between the STRIDE_DICTIONARY_LENGTH and DATA positions,
# LazyStringDictionaryTreeReader.java:120-139)
SIZE_POS_MARKER = "__stride_dict_size__"


def _ns_timestamp_ids(
    schema: pa.Schema, union_columns: set[str] | None
) -> list[int]:
    return [
        tid
        for tid, at in collect_arrow_types(schema, union_columns).items()
        if patypes.is_timestamp(at) and at.unit == "ns"
    ]


def _date_ids(schema: pa.Schema, union_columns: set[str] | None) -> list[int]:
    return [
        tid
        for tid, at in collect_arrow_types(schema, union_columns).items()
        if patypes.is_date32(at)
    ]

_INT_KINDS = (TypeKind.SHORT, TypeKind.INT, TypeKind.LONG)


def _validity_mask(arr: pa.Array) -> np.ndarray:
    return arr.is_valid().to_numpy(zero_copy_only=False)


def _binary_parts(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Dense (lengths, data bytes) for a null-free binary/string array."""
    b = arr.cast(pa.large_binary())
    offsets_buf = b.buffers()[1]
    data_buf = b.buffers()[2]
    offsets = np.frombuffer(offsets_buf, dtype=np.int64)[b.offset : b.offset + len(b) + 1]
    if data_buf is None:
        return np.zeros(len(b), dtype=np.int64), np.zeros(0, dtype=np.uint8)
    data = np.frombuffer(data_buf, dtype=np.uint8)[offsets[0] : offsets[-1]]
    return np.diff(offsets), data


_ENCODE_POOL = None


def _encode_pool():
    """Shared per-process pool for top-level column encode (mirrors
    codecs._compress_pool): one spin-up per Python worker, not one per
    stripe flush — a multi-stripe write (stripe_rows small, streaming
    sinks) flushes many times.

    Sized by SPARK_GRAFT_ENCODE_THREADS when set (optimization round
    13): on a packed executor (many task slots, each forking a Python
    worker with its own pool) a constant 8 can oversubscribe cores —
    8 threads x 16 slots = 128 encode threads on a 16-core box. Set it
    to ~cores/task-slots in executor env on real clusters; the local
    default stays min(8, cpus), which the bench-scale writes were
    tuned against."""
    global _ENCODE_POOL
    if _ENCODE_POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        workers = max(
            1, env_int("SPARK_GRAFT_ENCODE_THREADS", min(8, os.cpu_count() or 4))
        )
        _ENCODE_POOL = ThreadPoolExecutor(
            max_workers=workers,
            thread_name_prefix="dwrf-encode",
        )
    return _ENCODE_POOL


def _sorted_unique_inverse(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(sorted uniques, inverse ids) — np.unique(return_inverse=True)
    semantics via Arrow's C++ hash dictionary_encode: O(n + d log d)
    (hash pass over n, then an argsort of only the d uniques and an O(n)
    remap) instead of a full O(n log n) sort. Replaces the previous
    pandas.factorize path — measured ~25x faster on the dictionary-
    eligible mid-cardinality columns (20k distinct of 600k rows: 14 ms
    vs 360 ms) and never slower on the hash-hostile extremes; the
    dictionary-decision scan is the write path's price of A12/A13."""
    try:
        enc = pc.dictionary_encode(pa.array(vals))
        d = enc.dictionary.to_numpy(zero_copy_only=False)
        order = np.argsort(d, kind="stable")
        rank = np.empty(len(order), dtype=np.int64)
        rank[order] = np.arange(len(order), dtype=np.int64)
        ids = rank[enc.indices.to_numpy(zero_copy_only=False)]
        return d[order], ids.astype(np.int64, copy=False)
    except Exception:
        u, inv = np.unique(vals, return_inverse=True)
        return u, inv.astype(np.int64, copy=False)


def _pack_nanos(nanos: np.ndarray) -> np.ndarray:
    """Trailing-decimal-zero packing (WriterImpl.formatNanos).

    Divisibility is tested as rint(x * 1/d) * d == x on float64 — exact
    for nanos < 1e9 (far below 2^52) and ~40x faster than numpy int64 %
    on this host — and the strip loop runs on the DIVISIBLE SUBSET
    (compress/scatter), not full-width masked passes: random nanos are
    ~1% divisible by 100, so the loop touches ~1% of the rows."""
    n = nanos.astype(np.int64, copy=False)
    packed = n << 3
    r100 = np.rint(n * 0.01).astype(np.int64)
    idx = np.flatnonzero((n != 0) & (r100 * 100 == n))
    if idx.size:
        m = r100[idx]  # == n[idx] // 100, already computed exactly
        tz = np.ones(idx.size, dtype=np.int64)
        for _ in range(6):
            r10 = np.rint(m * 0.1).astype(np.int64)
            more = (r10 * 10 == m) & (tz < 7) & (m != 0)
            if not more.any():
                break
            m = np.where(more, r10, m)
            tz += more
        packed[idx] = (m << 3) | tz
    return packed.astype(np.uint64)


class _StripeEncoder:
    """Encodes one stripe's worth of rows; accumulates streams + stats.

    `carried`/`decide` implement the reference's encoding re-evaluation
    interval (OrcConf.java:53, WriterImpl.determineEncodingStripe): the
    dictionary-vs-direct decision is recomputed only on every Nth stripe;
    in between, the previous stripe's decision is carried over — the
    distinct-count/entropy scan is the expensive part of encoding choice
    at scale, and column character rarely shifts stripe to stripe."""

    def __init__(
        self,
        types: list[proto.Type],
        opts: dict,
        carried: dict[int, bool] | None = None,
        decide: bool = True,
    ):
        self.types = types
        self.opts = opts
        self.carried = carried if carried is not None else {}
        self.decide = decide
        self.streams: list[tuple[int, StreamKind, bytes]] = []
        self.encodings: dict[int, proto.ColumnEncoding] = {}
        self.stats: dict[int, ColumnStats] = {}
        self.row_indexes: dict[int, proto.RowIndex] = {}
        # per-stride seek positions (WriterImpl.java:317-328,617-621
        # PositionRecorder parity): column -> [(stream kind, codec tag,
        # per-stride target indices)]; resolved to byte positions against
        # the encoded stream bytes at stripe assembly, so the vectorized
        # encoders stay untouched. Codec tags: int_rle/byte_rle -> value
        # index, bits -> bit index, raw -> byte offset.
        self.pos_specs: dict[int, list[tuple[StreamKind, str, np.ndarray]]] = {}
        # positions context of the column currently being encoded: its
        # per-stride row targets IN ITS OWN row space (top level: arange
        # by stride; nested children: parent-computed child-unit starts,
        # the LazyListTreeReader.java:101-107 recursion) and its validity
        # mask. Saved/restored around child recursion by encode_column.
        self._pos_rows: np.ndarray | None = None
        self._pos_present: np.ndarray | None = None
        self.raw_size = 0

    def _add(self, column: int, kind: StreamKind, data: bytes) -> None:
        if data:
            self.streams.append((column, kind, data))

    def _stat(self, column: int, kind: TypeKind) -> ColumnStats:
        if column not in self.stats:
            self.stats[column] = ColumnStats(kind)
        return self.stats[column]

    def _stride_entries(self, column: int, entries: list[proto.RowIndexEntry]):
        self.row_indexes[column] = proto.RowIndex(entry=entries)

    def _pos_spec(
        self, type_id: int, kind: StreamKind, codec: str, targets: np.ndarray
    ) -> None:
        self.pos_specs.setdefault(type_id, []).append(
            (kind, codec, np.asarray(targets, dtype=np.int64))
        )

    def _dense_starts(self, present: np.ndarray | None = None) -> np.ndarray:
        """Dense-value index of the current column at each of its stride
        targets (`_pos_rows`, in its own row space), clamped into the
        dense range so trailing all-null/empty strides still get a
        resolvable (and unused) position. The `present` argument is
        ignored — the context set by encode_column is authoritative (it
        is what lets nested children share the per-type encoders)."""
        pres = self._pos_present
        rows = self._pos_rows
        cum = np.concatenate(
            [np.zeros(1, dtype=np.int64), np.cumsum(pres.astype(np.int64))]
        )
        dt = cum[np.minimum(rows, len(pres))]
        return np.minimum(dt, max(int(cum[-1]) - 1, 0))

    def _want_positions(self, present=None) -> bool:
        return (
            self._pos_rows is not None
            and self._pos_present is not None
            and len(self._pos_present) > 0
            and bool(self._pos_present.any())
        )

    # -- encode dispatch ---------------------------------------------------

    def encode_root(self, table: pa.Table) -> None:
        root = self.types[0]
        n = table.num_rows
        self._stat(0, TypeKind.STRUCT).update_count_only(n)
        self.encodings[0] = proto.ColumnEncoding(kind=int(ColumnEncodingKind.DIRECT))
        stride = self.opts["row_index_stride"]
        if stride:
            bounds = list(range(0, n, stride)) + [n]
            entries = []
            for i in range(len(bounds) - 1):
                st = ColumnStats(TypeKind.STRUCT)
                st.update_count_only(bounds[i + 1] - bounds[i])
                entries.append(proto.RowIndexEntry(statistics=st.to_proto()))
            self._stride_entries(0, entries)
        def _dense(field_pos: int) -> pa.Array:
            col = table.column(field_pos).combine_chunks()
            if isinstance(col, pa.ChunkedArray):
                col = (
                    col.chunk(0)
                    if col.num_chunks == 1
                    else pa.concat_arrays(col.chunks)
                )
            return col

        subtypes = list(root.subtypes)
        # Top-level columns encode independently (each subtree touches
        # only its own type ids); run them on a small thread pool — the
        # heavy kernels (arrow hash/dictionary, numpy sort/argsort, the
        # native RLE encoder, zlib) all drop the GIL, and the flush path
        # re-sorts streams by (column, kind) so assembly order never
        # depends on completion order. This mirrors the reader's
        # per-column decode pool and matters most on the single-writer
        # paths (coalesce(1) sorted-table writes, bench, driver tools)
        # where one Python worker owns the whole encode. Byte-identity
        # with the sequential path is pinned by the golden tests.
        workers = min(len(subtypes), os.cpu_count() or 4, 8)
        if workers > 1 and n >= 8192:

            def _encode_one(args):
                field_pos, type_id = args
                sub = _StripeEncoder(
                    self.types, self.opts, carried=self.carried,
                    decide=self.decide,
                )
                sub.encode_column(type_id, _dense(field_pos), top_level=True)
                return sub

            subs = list(_encode_pool().map(_encode_one, enumerate(subtypes)))
            for sub in subs:  # merge in declared column order
                self.streams.extend(sub.streams)
                self.encodings.update(sub.encodings)
                self.stats.update(sub.stats)
                self.row_indexes.update(sub.row_indexes)
                self.pos_specs.update(sub.pos_specs)
                self.raw_size += sub.raw_size
        else:
            for field_pos, type_id in enumerate(subtypes):
                self.encode_column(type_id, _dense(field_pos), top_level=True)

    def encode_column(
        self,
        type_id: int,
        arr: pa.Array,
        top_level: bool = False,
        stride_rows: np.ndarray | None = None,
    ):
        """Encode one column (recursing into nested children).

        `stride_rows`: this column's row index at each stride start, in
        its OWN row space — top level derives arange(0, n, stride);
        LIST/MAP parents pass cumulative element counts, STRUCT parents
        their dense row starts (the reference's per-TreeReader
        PositionRecorder recursion). None = record no seek positions
        (UNION branches, non-indexed writes)."""
        t = self.types[type_id]
        kind = TypeKind(t.kind)
        present = _validity_mask(arr)
        has_nulls = not present.all()
        stride = self.opts["row_index_stride"]
        if top_level and stride and len(arr):
            stride_rows = np.arange(0, len(arr), stride, dtype=np.int64)
        if stride_rows is not None and len(stride_rows) == 0:
            stride_rows = None
        if has_nulls:
            self._add(type_id, StreamKind.PRESENT, codecs.encode_bits(present))
            if stride_rows is not None and len(present):
                self._pos_spec(
                    type_id,
                    StreamKind.PRESENT,
                    "bits",
                    np.minimum(stride_rows, len(present) - 1),
                )
            dense = arr.drop_null()
        else:
            dense = arr
        self.encodings.setdefault(
            type_id, proto.ColumnEncoding(kind=int(ColumnEncodingKind.DIRECT))
        )

        handler = {
            TypeKind.BOOLEAN: self._encode_boolean,
            TypeKind.BYTE: self._encode_byte,
            TypeKind.SHORT: self._encode_int,
            TypeKind.INT: self._encode_int,
            TypeKind.LONG: self._encode_int,
            TypeKind.FLOAT: self._encode_float,
            TypeKind.DOUBLE: self._encode_float,
            TypeKind.STRING: self._encode_string,
            TypeKind.BINARY: self._encode_binary,
            TypeKind.TIMESTAMP: self._encode_timestamp,
            TypeKind.LIST: self._encode_list,
            TypeKind.MAP: self._encode_map,
            TypeKind.STRUCT: self._encode_struct,
            TypeKind.UNION: self._encode_union,
        }[kind]
        prev = (self._pos_rows, self._pos_present)
        self._pos_rows, self._pos_present = stride_rows, present
        try:
            handler(type_id, dense, present if top_level else None)
        finally:
            self._pos_rows, self._pos_present = prev

    # -- per-type encoders ---------------------------------------------------
    # Each receives the null-free dense array; `present` (top-level only)
    # drives per-stride statistics for pruning.

    def _stride_stats(
        self, type_id: int, present: np.ndarray | None, kind: TypeKind, update
    ) -> None:
        """Build per-stride RowIndex entries for a top-level column.

        `update(stats_obj, lo, hi)` is called with the dense-value slice
        bounds of each stride (dense index space).
        """
        stride = self.opts["row_index_stride"]
        if not stride or present is None:
            return
        n = len(present)
        # dense-slice bounds per stride in two vectorized passes (a full
        # per-row cumsum + a sum per stride was the write path's top cost
        # at 6M rows): reduceat gives each stride's valid count, their
        # running sum gives each stride's dense start
        starts = np.arange(0, n, stride, dtype=np.int64)
        per = np.add.reduceat(present.astype(np.int64), starts)
        los = np.empty(len(starts), dtype=np.int64)
        los[0] = 0
        np.cumsum(per[:-1], out=los[1:])
        entries = []
        for i in range(len(starts)):
            st = ColumnStats(kind)
            update(st, int(los[i]), int(los[i] + per[i]))
            entries.append(proto.RowIndexEntry(statistics=st.to_proto()))
        self._stride_entries(type_id, entries)

    def _encode_boolean(self, type_id, dense, present):
        vals = dense.to_numpy(zero_copy_only=False).astype(bool)
        self._add(type_id, StreamKind.DATA, codecs.encode_bits(vals))
        if self._want_positions(present):
            self._pos_spec(
                type_id, StreamKind.DATA, "bits", self._dense_starts(present)
            )
        self._stat(type_id, TypeKind.BOOLEAN).update_bools(vals)
        self.raw_size += len(vals)
        self._stride_stats(
            type_id,
            present,
            TypeKind.BOOLEAN,
            lambda st, lo, hi: st.update_bools(vals[lo:hi]),
        )

    def _encode_byte(self, type_id, dense, present):
        vals = dense.to_numpy(zero_copy_only=False).astype(np.int8)
        self._add(type_id, StreamKind.DATA, codecs.encode_byte_rle(vals.view(np.uint8)))
        if self._want_positions(present):
            self._pos_spec(
                type_id, StreamKind.DATA, "byte_rle", self._dense_starts(present)
            )
        self._stat(type_id, TypeKind.BYTE).update_ints(vals.astype(np.int64))
        self.raw_size += len(vals)
        self._stride_stats(
            type_id,
            present,
            TypeKind.BYTE,
            lambda st, lo, hi: st.update_ints(vals[lo:hi].astype(np.int64)),
        )

    def _encode_int(self, type_id, dense, present):
        kind = TypeKind(self.types[type_id].kind)
        vals = dense.to_numpy(zero_copy_only=False).astype(np.int64)
        n = len(vals)
        use_dict = False
        if not self.decide and type_id in self.carried:
            use_dict = self.carried[type_id] and n > 0
            if use_dict:
                uniques, ids = _sorted_unique_inverse(vals)
        elif n and self.opts["int_dict_threshold"] < 1.0 and n >= 32:
            # decide on the exact distinct count alone (one C++ hash
            # pass); the sorted dictionary + id remap is only built when
            # the decision is DICTIONARY. High-cardinality columns — the
            # expensive case — previously paid a full sorted-unique pass
            # just to learn they should be DIRECT.
            try:
                nd = int(pc.count_distinct(pa.array(vals)).as_py() or 0)
            except Exception:
                nd = len(np.unique(vals))
            use_dict = nd / n <= self.opts["int_dict_threshold"]
            if use_dict:
                uniques, ids = _sorted_unique_inverse(vals)
        self.carried[type_id] = bool(use_dict)
        if use_dict:
            self.encodings[type_id] = proto.ColumnEncoding(
                kind=int(ColumnEncodingKind.DICTIONARY), dictionarySize=len(uniques)
            )
            self._add(
                type_id,
                StreamKind.DICTIONARY_DATA,
                codecs.encode_int_rle(uniques, signed=True),
            )
            self._add(
                type_id,
                StreamKind.DATA,
                codecs.encode_int_rle(ids.astype(np.int64), signed=False),
            )
        else:
            self._add(type_id, StreamKind.DATA, codecs.encode_int_rle(vals, signed=True))
        if n and self._want_positions(present):
            # DATA carries dictionary ids or direct values — either way one
            # int-RLE stream indexed by dense position
            self._pos_spec(
                type_id, StreamKind.DATA, "int_rle", self._dense_starts(present)
            )
        self._stat(type_id, kind).update_ints(vals)
        self.raw_size += n * 8
        self._stride_stats(
            type_id,
            present,
            kind,
            lambda st, lo, hi: st.update_ints(vals[lo:hi]),
        )

    def _encode_float(self, type_id, dense, present):
        kind = TypeKind(self.types[type_id].kind)
        np_t = np.float32 if kind == TypeKind.FLOAT else np.float64
        vals = dense.to_numpy(zero_copy_only=False).astype(np_t)
        self._add(type_id, StreamKind.DATA, vals.astype(f"<{vals.dtype.char}").tobytes())
        if len(vals) and self._want_positions(present):
            self._pos_spec(
                type_id,
                StreamKind.DATA,
                "raw",
                self._dense_starts(present) * vals.dtype.itemsize,
            )
        st = self._stat(type_id, kind)
        st.update_doubles(vals.astype(np.float64))
        self.raw_size += len(vals) * vals.dtype.itemsize
        self._stride_stats(
            type_id,
            present,
            kind,
            lambda s, lo, hi: s.update_doubles(vals[lo:hi].astype(np.float64)),
        )

    def _entropy_keeps_dictionary(self, dict_arr: pa.Array) -> bool:
        """Entropy sampling heuristic (WriterImpl.java:1297-1363 /
        OrcConf.java:46-51): True iff sampled dictionary keys exceed
        entropy_threshold distinct characters. Sampling is deterministic
        (evenly spaced over the sorted-unique keys) instead of the
        reference's java.util.Random shuffle — same intent, reproducible."""
        nd = len(dict_arr)
        thr = self.opts["entropy_threshold"]
        if thr <= 0:
            return True
        n_samples = max(
            DEFAULT_ENTROPY_MIN_SAMPLES,
            int(DEFAULT_ENTROPY_SAMPLE_FRACTION * nd),
        )
        if nd > DEFAULT_ENTROPY_MIN_SAMPLES:
            idx = np.unique(np.linspace(0, nd - 1, n_samples).astype(np.int64))
            keys = dict_arr.take(pa.array(idx)).to_pylist()
        else:
            keys = dict_arr.to_pylist()
        chars: set[str] = set()
        for k in keys:
            chars.update(k)
            if len(chars) > thr:
                return True
        return False

    def _encode_string(self, type_id, dense, present):
        n = len(dense)
        lengths, data = _binary_parts(dense)
        use_dict = False
        if not self.decide and type_id in self.carried:
            use_dict = self.carried[type_id] and n > 0
            if use_dict:
                encoded = pc.dictionary_encode(dense)
                dict_arr = encoded.dictionary
        elif n >= 32 and self.opts["string_dict_threshold"] < 1.0:
            encoded = pc.dictionary_encode(dense)
            dict_arr = encoded.dictionary
            use_dict = len(dict_arr) / n <= self.opts["string_dict_threshold"]
            if use_dict:
                # A13 entropy gate (WriterImpl.java:1400-1411): when few
                # values repeat, keep the dictionary only for high-entropy
                # keys — low-entropy keys compress as well DIRECT + zlib
                repeated_fraction = (n - len(dict_arr)) / n
                if repeated_fraction <= DEFAULT_ENTROPY_KEY_SIZE_THRESHOLD:
                    use_dict = self._entropy_keeps_dictionary(dict_arr)
        self.carried[type_id] = bool(use_dict)
        stride = self.opts["row_index_stride"]
        stride_dict_sizes: np.ndarray | None = None
        if use_dict:
            # DWRF dictionaries are sorted by UTF-8 bytes (StringDictionaryEncoder
            # sort path); remap ids through the sort permutation.
            ids = encoded.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            keys = np.asarray(dict_arr.cast(pa.binary()).to_pylist(), dtype=object)
            counts = np.bincount(ids, minlength=len(keys))
            singles = counts == 1
            use_stride = (
                self.opts["stride_dictionaries"]
                and stride
                and present is not None
                and bool(singles.any())
            )
            if use_stride:
                # A14 stride dictionaries (WriterImpl.java:1418-1472): keys
                # occurring once move out of the (stripe) dictionary into the
                # side dictionary of the stride holding their occurrence; an
                # IN_DICTIONARY bit per value selects the source and DATA ids
                # index whichever dictionary the bit picked.
                multi_idx = np.flatnonzero(~singles)
                multi_keys = keys[multi_idx]
                m_order = np.argsort(multi_keys)
                sorted_keys = multi_keys[m_order]
                stripe_rank = np.full(len(keys), -1, dtype=np.int64)
                stripe_rank[multi_idx[m_order]] = np.arange(len(multi_idx))
                in_dict = ~singles[ids]
                rows_of_dense = np.flatnonzero(present)
                n_strides = (len(present) + stride - 1) // stride
                sp = np.flatnonzero(~in_dict)  # dense pos of each singleton
                s_strides = rows_of_dense[sp] // stride
                s_keys = keys[ids[sp]]
                so = np.lexsort((s_keys, s_strides))  # (stride, key) order
                sp_sorted, ss_sorted, sk_sorted = sp[so], s_strides[so], s_keys[so]
                stride_dict_sizes = np.bincount(ss_sorted, minlength=n_strides)
                group_start = np.concatenate(
                    [np.zeros(1, dtype=np.int64), np.cumsum(stride_dict_sizes)[:-1]]
                )
                data_ids = np.empty(n, dtype=np.int64)
                data_ids[in_dict] = stripe_rank[ids[in_dict]]
                data_ids[sp_sorted] = np.arange(len(sp)) - group_start[ss_sorted]
                sd_lengths = np.fromiter(
                    (len(k) for k in sk_sorted), dtype=np.int64, count=len(sk_sorted)
                )
                self._add(type_id, StreamKind.IN_DICTIONARY, codecs.encode_bits(in_dict))
                self._add(type_id, StreamKind.STRIDE_DICTIONARY, b"".join(sk_sorted))
                self._add(
                    type_id,
                    StreamKind.STRIDE_DICTIONARY_LENGTH,
                    codecs.encode_int_rle(sd_lengths, signed=False),
                )
                # full reference position layout for stride-dict columns
                # (LazyStringDictionaryTreeReader.loadIndeces consumption
                # order): [PRESENT] STRIDE_DICTIONARY raw,
                # STRIDE_DICTIONARY_LENGTH rle, side-dict SIZE, DATA rle,
                # IN_DICTIONARY bitfield — _resolve_positions interleaves
                # them by pos_kind_order
                stride_nbytes = np.zeros(n_strides, dtype=np.int64)
                np.add.at(stride_nbytes, ss_sorted, sd_lengths)
                sd_byte_starts = np.concatenate(
                    [np.zeros(1, dtype=np.int64), np.cumsum(stride_nbytes)[:-1]]
                )
                n_sd = len(sk_sorted)
                self._pos_spec(
                    type_id, StreamKind.STRIDE_DICTIONARY, "raw", sd_byte_starts
                )
                self._pos_spec(
                    type_id,
                    StreamKind.STRIDE_DICTIONARY_LENGTH,
                    "int_rle",
                    np.minimum(group_start, max(n_sd - 1, 0)),
                )
                self._pos_spec(
                    type_id, SIZE_POS_MARKER, "const", stride_dict_sizes
                )
                ds_stride = self._dense_starts(present)
                self._pos_spec(type_id, StreamKind.DATA, "int_rle", ds_stride)
                self._pos_spec(
                    type_id, StreamKind.IN_DICTIONARY, "bits", ds_stride
                )
                all_sorted = np.sort(keys)
                lo_s = all_sorted[0].decode("utf-8", "replace") if len(keys) else None
                hi_s = all_sorted[-1].decode("utf-8", "replace") if len(keys) else None
            else:
                order = np.argsort(keys)
                rank = np.empty_like(order)
                rank[order] = np.arange(len(order))
                sorted_keys = keys[order]
                data_ids = rank[ids]
                lo_s = sorted_keys[0].decode("utf-8", "replace") if len(sorted_keys) else None
                hi_s = sorted_keys[-1].decode("utf-8", "replace") if len(sorted_keys) else None
            key_bytes = b"".join(sorted_keys)
            key_lengths = np.fromiter(
                (len(k) for k in sorted_keys), dtype=np.int64, count=len(sorted_keys)
            )
            self.encodings[type_id] = proto.ColumnEncoding(
                kind=int(ColumnEncodingKind.DICTIONARY), dictionarySize=len(sorted_keys)
            )
            self._add(type_id, StreamKind.DICTIONARY_DATA, key_bytes)
            self._add(
                type_id, StreamKind.LENGTH, codecs.encode_int_rle(key_lengths, signed=False)
            )
            self._add(
                type_id, StreamKind.DATA, codecs.encode_int_rle(data_ids, signed=False)
            )
            # stride-dictionary columns keep positions[0] = side-dict size
            # (existing reader contract) and skip seek positions this round
            if n and not use_stride and self._want_positions(present):
                self._pos_spec(
                    type_id,
                    StreamKind.DATA,
                    "int_rle",
                    self._dense_starts(present),
                )
        else:
            self._add(type_id, StreamKind.DATA, data.tobytes())
            self._add(
                type_id, StreamKind.LENGTH, codecs.encode_int_rle(lengths, signed=False)
            )
            if n and self._want_positions(present):
                ds = self._dense_starts(present)
                byte_cum = np.concatenate(
                    [np.zeros(1, dtype=np.int64), np.cumsum(lengths)]
                )
                self._pos_spec(type_id, StreamKind.LENGTH, "int_rle", ds)
                self._pos_spec(type_id, StreamKind.DATA, "raw", byte_cum[ds])
            if n:
                mm = pc.min_max(dense)
                lo_s, hi_s = mm["min"].as_py(), mm["max"].as_py()
            else:
                lo_s = hi_s = None
        self._stat(type_id, TypeKind.STRING).update_strings(lo_s, hi_s, n)
        self.raw_size += int(lengths.sum()) + n
        if present is not None and self.opts["row_index_stride"]:
            # stride stats: count-only for strings (min/max per stride would
            # force per-stride sorts; stripe-level min/max already prunes)
            self._stride_stats(
                type_id,
                present,
                TypeKind.STRING,
                lambda st, lo, hi: st.update_strings(None, None, hi - lo),
            )

    def _encode_binary(self, type_id, dense, present):
        lengths, data = _binary_parts(dense)
        self._add(type_id, StreamKind.DATA, data.tobytes())
        self._add(type_id, StreamKind.LENGTH, codecs.encode_int_rle(lengths, signed=False))
        self._stat(type_id, TypeKind.BINARY).update_count_only(len(dense))
        self.raw_size += int(lengths.sum())
        # count-only stride stats (like strings) so seek positions have
        # entries to ride on; LENGTH/DATA positions = string-direct shape
        if present is not None and self.opts["row_index_stride"]:
            self._stride_stats(
                type_id,
                present,
                TypeKind.BINARY,
                lambda st, lo, hi: st.update_count_only(hi - lo),
            )
        if len(dense) and self._want_positions(present):
            ds = self._dense_starts(present)
            byte_cum = np.concatenate(
                [np.zeros(1, dtype=np.int64), np.cumsum(lengths)]
            )
            self._pos_spec(type_id, StreamKind.LENGTH, "int_rle", ds)
            self._pos_spec(type_id, StreamKind.DATA, "raw", byte_cum[ds])

    def _encode_timestamp(self, type_id, dense, present):
        # DWRF stores seconds + nanos: full nanosecond fidelity. Encode from
        # the column's native unit (ns columns are annotated in user metadata
        # so the reader restores timestamp[ns]).
        if pa.types.is_timestamp(dense.type) and dense.type.unit == "ns":
            ns = dense.to_numpy(zero_copy_only=False).astype("datetime64[ns]").view(np.int64)
            secs = np.floor_divide(ns, 1_000_000_000)
            nanos = ns - secs * 1_000_000_000
            us = np.floor_divide(ns, 1000)  # stats granularity
        else:
            us = (
                dense.cast(pa.timestamp("us"))
                .to_numpy(zero_copy_only=False)
                .astype("datetime64[us]")
                .view(np.int64)
            )
            secs = np.floor_divide(us, 1_000_000)
            nanos = (us - secs * 1_000_000) * 1000  # always in [0, 1e9)
        self._add(
            type_id,
            StreamKind.DATA,
            codecs.encode_int_rle(secs - TIMESTAMP_BASE_SECONDS, signed=True),
        )
        self._add(
            type_id,
            StreamKind.NANO_DATA,
            codecs.encode_int_rle(_pack_nanos(nanos).view(np.int64), signed=False),
        )
        if len(secs) and self._want_positions(present):
            ds = self._dense_starts(present)
            self._pos_spec(type_id, StreamKind.DATA, "int_rle", ds)
            self._pos_spec(type_id, StreamKind.NANO_DATA, "int_rle", ds)
        st = self._stat(type_id, TypeKind.TIMESTAMP)
        st.update_ints(us)  # min/max in microseconds for pruning
        self.raw_size += len(us) * 12
        self._stride_stats(
            type_id,
            present,
            TypeKind.TIMESTAMP,
            lambda s, lo, hi: s.update_ints(us[lo:hi]),
        )

    def _child_stride_rows(self, lengths: np.ndarray) -> np.ndarray | None:
        """Per-stride element index in the child's value space: cumulative
        element count at each of this column's dense stride starts
        (LazyListTreeReader.java:101-107 — each child TreeReader seeks to
        the element position its parent's lengths imply)."""
        if not self._want_positions() or not len(lengths):
            return None
        cum = np.concatenate(
            [np.zeros(1, dtype=np.int64), np.cumsum(lengths.astype(np.int64))]
        )
        return cum[self._dense_starts()]

    def _encode_list(self, type_id, dense, present):
        lengths = pc.list_value_length(dense).to_numpy(zero_copy_only=False)
        self._add(
            type_id,
            StreamKind.LENGTH,
            codecs.encode_int_rle(lengths.astype(np.int64), signed=False),
        )
        if len(dense) and self._want_positions():
            self._pos_spec(
                type_id, StreamKind.LENGTH, "int_rle", self._dense_starts()
            )
        self._stat(type_id, TypeKind.LIST).update_count_only(len(dense))
        child = dense.flatten()
        self.encode_column(
            self.types[type_id].subtypes[0],
            child,
            stride_rows=self._child_stride_rows(lengths),
        )

    def _encode_map(self, type_id, dense, present):
        lengths = np.diff(dense.offsets.to_numpy(zero_copy_only=False))
        self._add(
            type_id,
            StreamKind.LENGTH,
            codecs.encode_int_rle(lengths.astype(np.int64), signed=False),
        )
        if len(dense) and self._want_positions():
            self._pos_spec(
                type_id, StreamKind.LENGTH, "int_rle", self._dense_starts()
            )
        self._stat(type_id, TypeKind.MAP).update_count_only(len(dense))
        child_rows = self._child_stride_rows(lengths)
        self.encode_column(
            self.types[type_id].subtypes[0], dense.keys, stride_rows=child_rows
        )
        self.encode_column(
            self.types[type_id].subtypes[1], dense.items, stride_rows=child_rows
        )

    def _encode_struct(self, type_id, dense, present):
        self._stat(type_id, TypeKind.STRUCT).update_count_only(len(dense))
        # children's row space IS the struct's dense row space, so their
        # stride targets are this column's dense starts
        child_rows = self._dense_starts() if self._want_positions() else None
        for i, sub in enumerate(self.types[type_id].subtypes):
            self.encode_column(sub, dense.field(i), stride_rows=child_rows)

    def _encode_union(self, type_id, dense, present):
        """UNION written from its tagged-struct surrogate: field 'tag' plus
        one field per branch (WriterImpl.java:1996-2008 writes tag byte-RLE
        then per-branch children holding only that branch's values)."""
        tags = dense.field(0).to_numpy(zero_copy_only=False).astype(np.uint8)
        self._add(type_id, StreamKind.DATA, codecs.encode_byte_rle(tags))
        self._stat(type_id, TypeKind.UNION).update_count_only(len(dense))
        for i, sub in enumerate(self.types[type_id].subtypes):
            branch_vals = dense.field(i + 1).filter(pa.array(tags == i))
            self.encode_column(sub, branch_vals)


class DwrfWriter:
    def __init__(
        self,
        sink,
        schema: pa.Schema,
        *,
        compression: CompressionKind | str = CompressionKind.ZLIB,
        compression_block_size: int = DEFAULT_COMPRESSION_BLOCK_SIZE,
        zlib_level: int = DEFAULT_ZLIB_LEVEL,
        stripe_size: int = DEFAULT_STRIPE_SIZE,
        stripe_rows: int | None = None,
        row_index_stride: int = DEFAULT_ROW_INDEX_STRIDE,
        string_dict_threshold: float = DEFAULT_STRING_DICT_THRESHOLD,
        int_dict_threshold: float = DEFAULT_INT_DICT_THRESHOLD,
        stride_dictionaries: bool = False,
        entropy_threshold: int = DEFAULT_ENTROPY_THRESHOLD,
        low_memory: bool = False,
        encoding_interval: int = 30,
        metadata: dict[str, bytes] | None = None,
        union_columns: set[str] | str | None = None,
        checksums: bool = False,
    ):
        if isinstance(compression, str):
            compression = CompressionKind[compression.upper()]
        if isinstance(union_columns, str):
            union_columns = {c for c in union_columns.split(",") if c}
        self._own_file = isinstance(sink, str)
        if self._own_file:
            from .fs import get_fs

            self._f = get_fs(sink).open(sink, "wb")
        else:
            self._f = sink
        self.schema = schema
        self.types = schema_to_type_tree(schema, union_columns)
        self.compression = compression
        self.opts = {
            "row_index_stride": row_index_stride,
            "string_dict_threshold": string_dict_threshold,
            "int_dict_threshold": int_dict_threshold,
            "stride_dictionaries": bool(stride_dictionaries),
            "entropy_threshold": int(entropy_threshold),
            "low_memory": bool(low_memory),
            # re-evaluate dictionary-vs-direct every N stripes
            # (OrcConf.java:53); decisions carry over in between
            "encoding_interval": max(1, int(encoding_interval)),
            # record per-stripe region CRC32s (index/data/footer) in user
            # metadata for scrub-time verification (DwrfFile.verify
            # / CLI `verify`). The format itself has no checksums — a
            # data bit-flip that still decodes is silent (see
            # DwrfCorruptError docs) — so this closes that blind spot
            # format-compatibly: other readers skip the metadata key.
            # Default off: it perturbs golden byte layouts.
            "checksums": bool(checksums),
        }
        if low_memory:
            # A15 low-memory mode (WriterImpl.java:203-213): abandon
            # dictionary encodings and lean on heavier block compression
            self.opts["string_dict_threshold"] = 0.0
            self.opts["int_dict_threshold"] = 0.0
            zlib_level = max(6, zlib_level)
        self.block_size = compression_block_size
        self.zlib_level = zlib_level
        self.stripe_size = stripe_size
        self.stripe_rows = stripe_rows
        self.metadata = dict(metadata or {})
        ns_ids = _ns_timestamp_ids(schema, union_columns)
        if ns_ids:
            self.metadata["dwrf.timestamp.ns.ids"] = ",".join(
                str(i) for i in ns_ids
            ).encode()
        date_ids = _date_ids(schema, union_columns)
        if date_ids:
            # DWRF has no DATE kind (predates Apache ORC's addition); dates
            # store as INT days-since-epoch and this annotation lets our
            # reader restore the logical type (types.py module docs)
            self.metadata["dwrf.date.ids"] = ",".join(
                str(i) for i in date_ids
            ).encode()
        self._buffer: list[pa.RecordBatch] = []
        self._carried: dict[int, bool] = {}
        self._stripe_seq = 0
        self._buffered_rows = 0
        self._buffered_bytes = 0
        self._stripes: list[proto.StripeInformation] = []
        self._stripe_crcs: list[tuple[int, int, int]] = []
        self._file_stats: dict[int, ColumnStats] = {}
        self._row_count = 0
        self._raw_size = 0
        self._pos = 0
        self._write(MAGIC)

    def _write(self, data: bytes) -> None:
        self._f.write(data)
        self._pos += len(data)

    def _compress(self, data: bytes) -> bytes:
        with profiler.phase("compression"):
            return codecs.compress_stream(
                data, self.compression, self.block_size, self.zlib_level
            )

    def _resolve_positions(
        self, enc: "_StripeEncoder", comp_cache: dict[tuple[int, int], bytes]
    ) -> None:
        """Turn the encoder's per-stride position specs into RowIndexEntry
        positions (WriterImpl.java:317-328,617-621 PositionRecorder parity).

        Layout per entry: for each positioned stream of the column in
        PRESENT, STRIDE_DICTIONARY, STRIDE_DICTIONARY_LENGTH, [side-dict
        SIZE], LENGTH, DATA, NANO_DATA, IN_DICTIONARY order (the
        reference's per-TreeReader loadIndeces consumption order) —
          InStream part: [compressed_block_offset, offset_in_block] when
          the file is compressed (InStream.java:112-132's two-value seek
          coordinate), else [byte_offset];
          codec part: int/byte RLE append [values_to_skip]
          (RunLengthIntegerReader.java:94-126), the bitfield layer appends
          [bytes_to_skip, bit_offset] (byte RLE + BitFieldReader parity);
          raw fixed-width/concatenated-bytes streams append nothing;
          the "const" pseudo-codec appends its value verbatim (the
          side-dict SIZE, LazyStringDictionaryTreeReader.java:120-139).
        """
        if not enc.pos_specs:
            return
        stream_bytes = {(c, int(k)): d for c, k, d in enc.streams}
        pos_kind_order = {
            StreamKind.PRESENT: 0,
            StreamKind.STRIDE_DICTIONARY: 1,
            StreamKind.STRIDE_DICTIONARY_LENGTH: 2,
            SIZE_POS_MARKER: 3,
            StreamKind.LENGTH: 4,
            StreamKind.DATA: 5,
            StreamKind.NANO_DATA: 6,
            StreamKind.IN_DICTIONARY: 7,
        }
        compressed = self.compression != CompressionKind.NONE
        for col, specs in enc.pos_specs.items():
            ri = enc.row_indexes.get(col)
            if ri is None:
                # nested columns (LIST/MAP/STRUCT and their children)
                # carry seek positions but no per-stride statistics:
                # create bare entries so the positions have a ROW_INDEX
                # to ride in (the reference's nested TreeWriters do the
                # same — positions without stride stats)
                n_entries = len(specs[0][2])
                ri = proto.RowIndex(
                    entry=[proto.RowIndexEntry() for _ in range(n_entries)]
                )
                enc.row_indexes[col] = ri
            n_entries = len(ri.entry)
            per_entry: list[list[int]] = [[] for _ in range(n_entries)]
            for kind, codec, targets in sorted(
                specs, key=lambda s: pos_kind_order.get(s[0], 9)
            ):
                if codec == "const":
                    if len(targets) == n_entries:
                        for i, v in enumerate(targets):
                            per_entry[i].append(int(v))
                    continue
                data = stream_bytes.get((col, int(kind)))
                if data is None or len(targets) != n_entries:
                    continue
                buf = np.frombuffer(data, dtype=np.uint8)
                if codec == "int_rle":
                    resolved = [
                        (off, (skip,))
                        for off, skip in codecs.int_rle_positions(buf, targets)
                    ]
                elif codec == "byte_rle":
                    resolved = [
                        (off, (skip,))
                        for off, skip in codecs.byte_rle_positions(buf, targets)
                    ]
                elif codec == "bits":
                    resolved = [
                        (off, (skip, bit))
                        for off, skip, bit in codecs.bit_positions(buf, targets)
                    ]
                else:  # raw
                    resolved = [(int(t), ()) for t in targets]
                if compressed:
                    starts = codecs.compressed_block_starts(
                        comp_cache[(col, int(kind))]
                    )
                    bs = self.block_size
                    for i, (off, extra) in enumerate(resolved):
                        # a clamped tail target can land exactly at stream
                        # end (empty trailing strings); pin to the last block
                        b = min(off // bs, len(starts) - 1)
                        per_entry[i] += [
                            int(starts[b]),
                            int(off - b * bs),
                            *extra,
                        ]
                else:
                    for i, (off, extra) in enumerate(resolved):
                        per_entry[i] += [int(off), *extra]
            for entry, plist in zip(ri.entry, per_entry):
                if plist:
                    entry.positions = list(entry.positions) + plist

    # -- public API -----------------------------------------------------------

    def write_batch(self, batch: pa.RecordBatch) -> None:
        with profiler.phase("write"), profiler.phase("serialization"):
            batch = _conform_batch(batch, self.schema)
        while batch.num_rows:
            # rows this stripe can still take (row- or byte-budgeted)
            if self.stripe_rows:
                room = self.stripe_rows - self._buffered_rows
            else:
                per_row = max(1, batch.nbytes // max(1, batch.num_rows))
                room = max(1, (self.stripe_size - self._buffered_bytes) // per_row)
            piece = batch.slice(0, min(batch.num_rows, room))
            batch = batch.slice(piece.num_rows)
            self._buffer.append(piece)
            self._buffered_rows += piece.num_rows
            self._buffered_bytes += piece.nbytes
            if (self.stripe_rows and self._buffered_rows >= self.stripe_rows) or (
                self._buffered_bytes >= self.stripe_size
            ):
                self.flush_stripe()

    def write_table(self, table: pa.Table) -> None:
        for batch in table.to_batches():
            self.write_batch(batch)

    def flush_stripe(self) -> None:
        if not self._buffered_rows:
            return
        with profiler.phase("write"):
            self._flush_stripe_impl()

    def _flush_stripe_impl(self) -> None:
        table = pa.Table.from_batches(self._buffer, schema=self.schema).combine_chunks()
        self._buffer.clear()
        self._buffered_rows = 0
        self._buffered_bytes = 0

        decide = self._stripe_seq % self.opts["encoding_interval"] == 0
        enc = _StripeEncoder(
            self.types, self.opts, carried=self._carried, decide=decide
        )
        self._stripe_seq += 1
        with profiler.phase("encoding"):
            enc.encode_root(table)

        # area ordering: INDEX, then (LENGTH, DICTIONARY_DATA) pairs, then DATA
        dict_streams: list[tuple[int, StreamKind, bytes]] = []
        data_streams: list[tuple[int, StreamKind, bytes]] = []
        dict_cols = {
            c
            for c, e in enc.encodings.items()
            if e.kind == int(ColumnEncodingKind.DICTIONARY)
        }
        kind_order = {
            StreamKind.PRESENT: 0,
            StreamKind.LENGTH: 1,
            StreamKind.DATA: 2,
            StreamKind.NANO_DATA: 3,
        }
        by_col: dict[int, list] = {}
        for col, kind, data in enc.streams:
            by_col.setdefault(col, []).append((kind, data))
        for col in sorted(by_col):
            entries = sorted(by_col[col], key=lambda kd: kind_order.get(kd[0], 9))
            for kind, data in entries:
                if kind == StreamKind.DICTIONARY_DATA or (
                    kind == StreamKind.LENGTH and col in dict_cols
                ):
                    dict_streams.append((col, kind, data))
                else:
                    data_streams.append((col, kind, data))
        # LENGTH precedes DICTIONARY_DATA within the dictionary area
        dict_streams.sort(
            key=lambda s: (s[0], 0 if s[1] == StreamKind.LENGTH else 1)
        )

        # compress dict/data streams BEFORE serializing the ROW_INDEX: the
        # stride seek positions reference compressed block boundaries, and
        # the index area precedes the data area in the file
        comp_cache: dict[tuple[int, int], bytes] = {}
        for col, kind, data in dict_streams + data_streams:
            comp_cache[(col, int(kind))] = self._compress(data)
        self._resolve_positions(enc, comp_cache)

        index_streams: list[tuple[int, StreamKind, bytes]] = []
        for col in sorted(enc.row_indexes):
            body = proto.encode_message(enc.row_indexes[col])
            index_streams.append((col, StreamKind.ROW_INDEX, body))

        start = self._pos
        footer = proto.StripeFooter()
        index_end = start
        want_crc = self.opts["checksums"]
        crc_index = crc_data = 0
        if want_crc:
            import zlib as _zlib
        for area in (index_streams, dict_streams, data_streams):
            for col, kind, data in area:
                comp = comp_cache.get((col, int(kind)))
                if comp is None:
                    comp = self._compress(data)
                self._write(comp)
                if want_crc:
                    if area is index_streams:
                        crc_index = _zlib.crc32(comp, crc_index)
                    else:
                        crc_data = _zlib.crc32(comp, crc_data)
                footer.streams.append(
                    proto.Stream(kind=int(kind), column=col, length=len(comp), useVInts=1)
                )
            if area is index_streams:
                index_end = self._pos
        data_end = self._pos
        for col in range(len(self.types)):
            footer.columns.append(
                enc.encodings.get(
                    col, proto.ColumnEncoding(kind=int(ColumnEncodingKind.DIRECT))
                )
            )
        footer_bytes = self._compress(proto.encode_message(footer))
        self._write(footer_bytes)
        if want_crc:
            self._stripe_crcs.append(
                (crc_index, crc_data, _zlib.crc32(footer_bytes))
            )

        self._stripes.append(
            proto.StripeInformation(
                offset=start,
                indexLength=index_end - start,
                dataLength=data_end - index_end,
                footerLength=len(footer_bytes),
                numberOfRows=table.num_rows,
                rawDataSize=enc.raw_size,
            )
        )
        self._row_count += table.num_rows
        self._raw_size += enc.raw_size
        for col, st in enc.stats.items():
            if col in self._file_stats:
                self._file_stats[col].merge(st)
            else:
                merged = ColumnStats(st.kind)
                merged.merge(st)
                self._file_stats[col] = merged

    def close(self) -> None:
        with profiler.phase("write"):
            self._close_impl()

    def _close_impl(self) -> None:
        self.flush_stripe()
        if self.opts["checksums"] and self._stripe_crcs:
            # one "idx:data:foot" crc32 triple per stripe, in stripe order
            self.metadata[CHECKSUM_METADATA_KEY] = ";".join(
                f"{a}:{b}:{c}" for a, b, c in self._stripe_crcs
            ).encode()
        body_length = self._pos
        footer = proto.Footer(
            headerLength=len(MAGIC),
            contentLength=body_length,
            stripes=self._stripes,
            types=self.types,
            numberOfRows=self._row_count,
            rowIndexStride=self.opts["row_index_stride"],
            rawDataSize=self._raw_size,
        )
        for col in range(len(self.types)):
            st = self._file_stats.get(col)
            footer.statistics.append(
                st.to_proto() if st else proto.ColumnStatistics(numberOfValues=0)
            )
        for name, value in self.metadata.items():
            footer.metadata.append(proto.UserMetadataItem(name=name, value=value))
        footer_bytes = self._compress(proto.encode_message(footer))
        self._write(footer_bytes)
        ps = proto.PostScript(
            footerLength=len(footer_bytes), compression=int(self.compression)
        )
        if self.compression != CompressionKind.NONE:
            ps.compressionBlockSize = self.block_size
        ps_bytes = proto.encode_message(ps)
        if len(ps_bytes) > 255:
            raise ValueError("PostScript too large")
        self._write(ps_bytes)
        self._write(bytes([len(ps_bytes)]))
        if self._own_file:
            self._f.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def _conform_batch(batch: pa.RecordBatch, schema: pa.Schema) -> pa.RecordBatch:
    if batch.schema.equals(schema):
        return batch
    cols = []
    for i, f in enumerate(schema):
        col = batch.column(i)
        if not col.type.equals(f.type):
            if patypes.is_timestamp(col.type) and patypes.is_timestamp(f.type):
                col = col.cast(f.type)
            else:
                col = col.cast(f.type)
        cols.append(col)
    return pa.RecordBatch.from_arrays(cols, schema=schema)


def write_arrow_table(path: str, table: pa.Table, **options) -> None:
    """Convenience: write a whole Arrow table as one DWRF file."""
    schema = _normalize_schema(table.schema)
    with DwrfWriter(path, schema, **options) as w:
        w.write_table(table.cast(schema))


def _normalize_schema(schema: pa.Schema) -> pa.Schema:
    """Map to DWRF-representable arrow types (timestamps -> us, etc.)."""

    def norm(t: pa.DataType) -> pa.DataType:
        if patypes.is_timestamp(t):
            # ns kept at full fidelity (DWRF stores seconds+nanos);
            # s/ms/us normalize to us
            return pa.timestamp("ns") if t.unit == "ns" else pa.timestamp("us")
        if patypes.is_large_string(t):
            return pa.string()
        if patypes.is_large_binary(t):
            return pa.binary()
        if patypes.is_list(t) or patypes.is_large_list(t):
            return pa.list_(norm(t.value_type))
        if patypes.is_map(t):
            return pa.map_(norm(t.key_type), norm(t.item_type))
        if patypes.is_struct(t):
            return pa.struct([pa.field(f.name, norm(f.type)) for f in t])
        return t

    return pa.schema([pa.field(f.name, norm(f.type)) for f in schema])
