"""Batched point lookup: DwrfFile.read_rows_at (single-file, row-id
addressed) and format.lookup.lookup_keys (multi-file, key addressed with
footer/stride statistics pruning) — the serving half of the A5 seek
surface (RecordReaderImpl.java:494-543 seekToRow, amortized over key
batches the way the reference's host engine amortizes it with footer
statistics, ReaderImpl.java:204-260)."""

from __future__ import annotations

import os
import sys
import threading
import time
from collections import Counter, OrderedDict

import numpy as np
import pyarrow as pa
import pytest

from hive_dwrf_spark.format import DwrfFile, lookup, write_arrow_table
from hive_dwrf_spark.format.lookup import lookup_keys
from hive_dwrf_spark.format.constants import ColumnEncodingKind, StreamKind
from hive_dwrf_spark.format.reader import _DictStride, _LruCache, stride_cache_budget


def _nested_table(n: int) -> pa.Table:
    return pa.table(
        {
            "i": pa.array(np.arange(n, dtype=np.int64)),
            "s": pa.array(
                [f"val{i % 97}" if i % 13 else None for i in range(n)]
            ),
            "lst": pa.array(
                [[i, i + 1] if i % 7 else None for i in range(n)],
                type=pa.list_(pa.int64()),
            ),
            "st": pa.array(
                [{"a": i % 5, "b": f"x{i % 3}"} for i in range(n)],
                type=pa.struct([("a", pa.int64()), ("b", pa.string())]),
            ),
        }
    )


@pytest.fixture
def blocks(monkeypatch):
    """A fresh process-wide block cache: the decoders a test builds keep
    their decompressed blocks there, so its totals count only them."""
    from hive_dwrf_spark.format import reader as reader_mod

    cache = reader_mod._LruCache()
    monkeypatch.setattr(reader_mod, "_BLOCKS", cache)
    return cache


def _assert_cache_counts(cache) -> None:
    """An LRU cache's byte counts, in total and per owner, agree with its
    entries: no insert or eviction lost an update."""
    per_token: Counter = Counter()
    for key, (_, nbytes) in list(cache.entries.items()):
        per_token[key[0]] += nbytes
    assert cache.nbytes == sum(per_token.values())
    assert cache._owned == dict(per_token)


@pytest.fixture(scope="module")
def nested_file(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("batch") / "t.dwrf")
    write_arrow_table(
        path, _nested_table(25_000), stripe_rows=8_000, row_index_stride=1_000
    )
    return path


class TestReadRowsAt:
    def test_parity_with_read_row(self, nested_file):
        ids = [0, 999, 1000, 7999, 8000, 8001, 24999, 5, 5, 12345, 3]
        with DwrfFile(nested_file) as f:
            t = f.read_rows_at(ids)
            assert t.num_rows == len(ids)
            for k, r in enumerate(ids):
                row = f.read_row(r)
                got = {c: t.column(c)[k].as_py() for c in t.schema.names}
                assert got == row, (r, got, row)

    def test_input_order_and_duplicates(self, nested_file):
        ids = [20_000, 3, 3, 9_999, 20_000]
        with DwrfFile(nested_file) as f:
            t = f.read_rows_at(ids, columns=["i"])
            assert t.column("i").to_pylist() == ids

    def test_projection_nested_path(self, nested_file):
        with DwrfFile(nested_file) as f:
            t = f.read_rows_at([100, 20_000], columns=["i", "st.a"])
            assert t.column("i").to_pylist() == [100, 20_000]
            assert t.column("st").to_pylist() == [{"a": 0}, {"a": 0}]

    def test_empty_and_out_of_range(self, nested_file):
        with DwrfFile(nested_file) as f:
            e = f.read_rows_at([])
            assert e.num_rows == 0
            assert e.schema.names == ["i", "s", "lst", "st"]
            with pytest.raises(IndexError):
                f.read_rows_at([25_000])
            with pytest.raises(IndexError):
                f.read_rows_at([0, -1])

    def test_batch_decodes_each_stride_once(self, nested_file):
        """100 rows in one stride must cost ~1 stride decode per column,
        not 100 — counted by instrumenting the decoder method."""
        from hive_dwrf_spark.format import reader as reader_mod

        calls = {"n": 0}
        orig = reader_mod._StripeDecoder.decode_stride_column

        def counting(self, *a, **kw):
            calls["n"] += 1
            return orig(self, *a, **kw)

        reader_mod._StripeDecoder.decode_stride_column = counting
        try:
            with DwrfFile(nested_file) as f:
                f.read_rows_at(list(range(200, 300)), columns=["i", "s"])
        finally:
            reader_mod._StripeDecoder.decode_stride_column = orig
        assert calls["n"] <= 4, calls  # one per projected column

    def test_no_row_index_fallback(self, tmp_path):
        path = str(tmp_path / "legacy.dwrf")
        write_arrow_table(
            path, _nested_table(5_000), row_index_stride=0, stripe_rows=2_000
        )
        ids = [0, 1999, 2000, 4999, 42]
        with DwrfFile(path) as f:
            t = f.read_rows_at(ids)
            for k, r in enumerate(ids):
                assert t.column("i")[k].as_py() == r
                assert t.column("st")[k].as_py() == {
                    "a": r % 5,
                    "b": f"x{r % 3}",
                }

    def test_union_column_fallback(self, tmp_path):
        """UNION columns have no per-branch seek positions (the reference
        records none either) — the batch path must fall back to one
        whole-stripe decode and still return exact values."""
        path = str(tmp_path / "u.dwrf")
        n = 3_000
        table = pa.table(
            {
                "i": pa.array(np.arange(n, dtype=np.int64)),
                "u": pa.array(
                    [
                        {"tag": 0, "field0": i, "field1": None}
                        if i % 2 == 0
                        else {"tag": 1, "field0": None, "field1": f"s{i}"}
                        for i in range(n)
                    ],
                    type=pa.struct(
                        [
                            ("tag", pa.int8()),
                            ("field0", pa.int64()),
                            ("field1", pa.string()),
                        ]
                    ),
                ),
            }
        )
        write_arrow_table(
            path,
            table,
            union_columns={"u"},
            stripe_rows=1_000,
            row_index_stride=500,
        )
        with DwrfFile(path) as f:
            t = f.read_rows_at([0, 1, 1500, 2999])
            assert t.column("i").to_pylist() == [0, 1, 1500, 2999]
            assert t.column("u")[1].as_py()["field1"] == "s1"
            assert t.column("u")[2].as_py()["field0"] == 1500

    def test_point_decoder_cache_is_lru(self, nested_file):
        with DwrfFile(nested_file) as f:
            f._point_decoders.clear()
            # 4 stripes x 3 projections = 12 (stripe, projection) keys;
            # churn past the cap, then confirm the hot key survives reuse
            projections = [["i"], ["s"], ["i", "s"]]
            for stripe_row in (0, 8_000, 16_000, 24_000):
                for cols in projections:
                    f.read_row(stripe_row, columns=cols)
            assert len(f._point_decoders) <= 8
            # most-recently-used key must be retained across a re-access
            f.read_row(24_000, columns=["i", "s"])
            hot = list(f._point_decoders)[-1]
            dec = f._point_decoders[hot]
            f.read_row(24_001, columns=["i", "s"])
            assert f._point_decoders[hot] is dec  # reused, not rebuilt
            assert list(f._point_decoders)[-1] == hot  # touched to back

    def test_stride_array_cache_hits_and_budget(self, nested_file, monkeypatch):
        """The handle-level decoded-stride LRU (the r8 concurrent-serving
        fix): a repeat read_row of the same stride decodes nothing new,
        values stay exact, and the byte budget evicts instead of
        growing without bound."""
        with DwrfFile(nested_file) as f:
            first = f.read_row(1_234)
            held = f.cache_bytes()["strides"]
            assert held > 0
            # repeat hit: same keys, same values, nothing new cached
            again = f.read_row(1_234)
            assert again == first
            assert f.cache_bytes()["strides"] == held
            # neighbor row in the same stride: pure cache hit too
            f.read_row(1_235)
            assert f.cache_bytes()["strides"] == held
        # a 1-MB budget must bound the cache while answers stay exact
        monkeypatch.setenv("SPARK_GRAFT_STRIDE_CACHE_MB", "1")
        with DwrfFile(nested_file) as f:
            rows = {}
            for r in (0, 8_000, 16_000, 24_000, 1_234):
                rows[r] = f.read_row(r)
            assert 0 < f.cache_bytes()["strides"] <= stride_cache_budget() == 1 << 20
            assert rows[1_234] == first

    def test_concurrent_lookups_shared_handle_exact(self, nested_file):
        """32 threads on ONE handle: every thread sees exact values while
        the shared decoder + stride caches serve all of them."""
        from concurrent.futures import ThreadPoolExecutor

        with DwrfFile(nested_file) as f:
            targets = list(range(0, f.num_rows, max(1, f.num_rows // 20)))[:20]
            expect = {r: f.read_row(r) for r in targets}

            def client(_):
                for r in targets:
                    if f.read_row(r) != expect[r]:
                        return False
                return True

            with ThreadPoolExecutor(max_workers=32) as pool:
                assert all(pool.map(client, range(32)))


class TestLookupKeys:
    @pytest.fixture(scope="class")
    def serving_dir(self, tmp_path_factory):
        """4 range-sorted files of 20k rows each — the layout a
        key-addressed serving table has at any scale."""
        d = str(tmp_path_factory.mktemp("serving"))
        n = 20_000
        for fidx in range(4):
            base = fidx * n
            t = pa.table(
                {
                    "k": pa.array(np.arange(base, base + n, dtype=np.int64)),
                    "v": pa.array([f"s{(base + i) % 31}" for i in range(n)]),
                    "lst": pa.array(
                        [[i % 7, i % 5] for i in range(n)],
                        type=pa.list_(pa.int64()),
                    ),
                }
            )
            write_arrow_table(
                os.path.join(d, f"part-{fidx:04d}.dwrf"),
                t,
                stripe_rows=8_000,
                row_index_stride=1_000,
            )
        return d

    def test_values_and_pruning(self, serving_dir):
        keys = [20_001, 20_500, 25_000, 61_000, 61_001, 999_999, -5]
        trace = {}
        out = lookup_keys(serving_dir, "k", keys, trace=trace)
        assert sorted(out.column("k").to_pylist()) == [
            20_001,
            20_500,
            25_000,
            61_000,
            61_001,
        ]
        assert out.column("v").to_pylist() == [
            f"s{k % 31}" for k in out.column("k").to_pylist()
        ]
        # files 0 and 2 hold none of the keys: pruned on footer stats
        assert trace["files_pruned"] == 2, trace
        # within surviving files only the strides holding keys decode
        assert trace["strides_scanned"] < trace["strides_total"] / 4, trace

    def test_projection_without_key_column(self, serving_dir):
        out = lookup_keys(serving_dir, "k", [100, 200], columns=["v", "lst"])
        assert out.schema.names == ["v", "lst"]
        assert out.column("v").to_pylist() == ["s7", "s14"]
        assert out.column("lst").to_pylist() == [
            [100 % 7, 100 % 5],
            [200 % 7, 200 % 5],
        ]

    def test_duplicate_matches_and_string_keys(self, tmp_path):
        d = str(tmp_path / "dup")
        os.makedirs(d)
        t = pa.table(
            {
                "k": pa.array([1, 1, 2], type=pa.int64()),
                "v": pa.array(["a", "b", "c"]),
            }
        )
        write_arrow_table(os.path.join(d, "p.dwrf"), t)
        out = lookup_keys(d, "k", [1])
        assert sorted(out.column("v").to_pylist()) == ["a", "b"]
        out2 = lookup_keys(d, "v", ["c", "zz"])
        assert out2.column("k").to_pylist() == [2]

    def test_no_match_returns_empty_with_schema(self, serving_dir):
        out = lookup_keys(serving_dir, "k", [10_000_000])
        assert out.num_rows == 0
        assert out.schema.names == ["k", "v", "lst"]

    def test_null_keys_never_match(self, tmp_path):
        d = str(tmp_path / "nulls")
        os.makedirs(d)
        t = pa.table(
            {
                "k": pa.array([None, 5, None], type=pa.int64()),
                "v": pa.array(["x", "y", "z"]),
            }
        )
        write_arrow_table(os.path.join(d, "p.dwrf"), t)
        out = lookup_keys(d, "k", [5])
        assert out.column("v").to_pylist() == ["y"]

    def test_legacy_file_without_row_index(self, tmp_path):
        d = str(tmp_path / "legacy")
        os.makedirs(d)
        n = 4_000
        t = pa.table(
            {
                "k": pa.array(np.arange(n, dtype=np.int64)),
                "v": pa.array([str(i) for i in range(n)]),
            }
        )
        write_arrow_table(
            os.path.join(d, "p.dwrf"), t, row_index_stride=0, stripe_rows=1_500
        )
        out = lookup_keys(d, "k", [0, 1_499, 1_500, 3_999])
        assert sorted(out.column("k").to_pylist()) == [0, 1_499, 1_500, 3_999]
        assert sorted(out.column("v").to_pylist(), key=int) == [
            "0",
            "1499",
            "1500",
            "3999",
        ]

    def test_requires_keys_and_known_column(self, serving_dir):
        with pytest.raises(ValueError):
            lookup_keys(serving_dir, "k", [])
        with pytest.raises(KeyError):
            lookup_keys(serving_dir, "nope", [1])

    def test_null_and_mixed_type_keys(self, serving_dir):
        # NULL keys match nothing and must not break the sort
        t = lookup_keys(serving_dir, "k", [None, 1500, None])
        assert t.num_rows == 1
        with pytest.raises(ValueError, match="non-null"):
            lookup_keys(serving_dir, "k", [None, None])
        # mixed int/str keys: a clear error naming the types, not a
        # bare TypeError from sorted()
        with pytest.raises(ValueError, match="orderable type"):
            lookup_keys(serving_dir, "k", [1, "one"])


def _write_part(path: str, base: int, n: int, prefix: str = "s", **options):
    t = pa.table(
        {
            "k": pa.array(np.arange(base, base + n, dtype=np.int64)),
            "v": pa.array([f"{prefix}{i:06d}" for i in range(base, base + n)]),
        }
    )
    write_arrow_table(path, t, stripe_rows=4_000, row_index_stride=500, **options)


def _reference(d: str, key_column: str, keys) -> pa.Table:
    """Full reads of every file, filtered: the answer lookup_keys must
    give, computed without the lookup path or its handle cache."""
    tables = []
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".dwrf"):
            with DwrfFile(os.path.join(d, fn)) as f:
                tables.append(f.read())
    t = pa.concat_tables(tables)
    return t.filter(pa.compute.is_in(t[key_column], value_set=pa.array(keys)))


class TestLookupHandleCache:
    """lookup_keys serves every file from a process-wide open handle keyed
    by (path, stat identity): parses and stride decodes amortize across
    calls, while changed, added and removed files are seen at once."""

    @pytest.fixture(autouse=True)
    def fresh_cache(self, monkeypatch):
        monkeypatch.setattr(lookup, "_HANDLES", OrderedDict())
        monkeypatch.setattr(lookup, "_STRIDES", _LruCache())

    @pytest.fixture
    def opens(self, monkeypatch):
        """path -> number of DwrfFile.__init__ calls (failed ones too)."""
        counts: Counter = Counter()
        orig = DwrfFile.__init__

        def counting(self, path, *a, **kw):
            counts[path] += 1
            orig(self, path, *a, **kw)

        monkeypatch.setattr(DwrfFile, "__init__", counting)
        return counts

    @pytest.fixture
    def four_parts(self, tmp_path):
        d = str(tmp_path / "parts")
        os.makedirs(d)
        for i in range(4):
            _write_part(os.path.join(d, f"part-{i}.dwrf"), i * 10_000, 10_000)
        return d

    def test_unchanged_directory_opens_each_file_once(self, four_parts, opens):
        batches = [[5, 12_345, 39_999], [7, 8, 9], [20_000, 25_000, 31_001]]
        # a handle opens on the first call whose keys the file's summary
        # admits: parts 0, 1, 3, then part 2 on the third call
        for n, want_opened in enumerate([3, 0, 1, 0, 0, 0]):
            keys = batches[n % len(batches)]
            trace = {}
            got = lookup_keys(four_parts, "k", keys, trace=trace)
            assert got.equals(_reference(four_parts, "k", keys))
            assert trace["files_opened"] == want_opened, trace
        lookup_opens = {p: c for p, c in opens.items() if "part-" in p}
        # _reference's own opens are one per file per call; the lookup
        # path adds one footer parse and one handle per file over all six
        # calls
        assert set(lookup_opens.values()) == {6 + 2}, lookup_opens
        # cached handles answer like fresh ones
        cached = lookup_keys(four_parts, "k", batches[0], columns=["v"])
        lookup._HANDLES = OrderedDict()
        assert cached.equals(lookup_keys(four_parts, "k", batches[0], columns=["v"]))

    def test_replaced_member_is_reread(self, four_parts):
        from hive_dwrf_spark.format.fs import get_fs

        target = os.path.join(four_parts, "part-1.dwrf")
        keys = [10_001, 19_999]
        # uncompressed, so a same-length prefix gives a same-size file
        _write_part(target, 10_000, 10_000, prefix="s", compression="none")
        assert lookup_keys(four_parts, "k", keys).column("v").to_pylist() == [
            "s010001", "s019999",
        ]
        before = get_fs(target).stat_key(target)
        incoming = os.path.join(four_parts, "_incoming")
        _write_part(incoming, 10_000, 10_000, prefix="t", compression="none")
        os.replace(incoming, target)
        after = get_fs(target).stat_key(target)
        assert after[0] == before[0] and after != before
        assert lookup_keys(four_parts, "k", keys).column("v").to_pylist() == [
            "t010001", "t019999",
        ]
        # rewritten in place at a different size
        _write_part(target, 10_000, 5_000, prefix="u")
        assert lookup_keys(four_parts, "k", keys).column("v").to_pylist() == [
            "u010001",
        ]

    def test_added_and_removed_files_are_seen(self, four_parts):
        keys = [3, 45_000]
        assert lookup_keys(four_parts, "k", keys).column("k").to_pylist() == [3]
        _write_part(os.path.join(four_parts, "part-4.dwrf"), 40_000, 10_000)
        assert lookup_keys(four_parts, "k", keys).column("k").to_pylist() == [
            3, 45_000,
        ]
        os.remove(os.path.join(four_parts, "part-0.dwrf"))
        assert lookup_keys(four_parts, "k", keys).column("k").to_pylist() == [
            45_000,
        ]

    def test_concurrent_calls_match_serial(self, four_parts, monkeypatch):
        """4 threads x 20 calls on shared handles, under a 1 MB budget so
        evictions race with reads, give the serial answers and leave the
        shared stride cache's counts exact."""
        monkeypatch.setenv("SPARK_GRAFT_STRIDE_CACHE_MB", "1")
        rng = np.random.default_rng(7)
        batches = [
            sorted(int(k) for k in rng.integers(0, 40_000, 24)) for _ in range(80)
        ]
        serial = [lookup_keys(four_parts, "k", b) for b in batches]

        monkeypatch.setattr(lookup, "_HANDLES", OrderedDict())
        results: dict[int, pa.Table] = {}
        errors: list[BaseException] = []

        def client(c: int) -> None:
            try:
                for j in range(c, len(batches), 4):
                    results[j] = lookup_keys(four_parts, "k", batches[j])
            except BaseException as e:  # reported below
                errors.append(e)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            threads = [threading.Thread(target=client, args=(c,)) for c in range(4)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert len(results) == len(batches)
        for j, want in enumerate(serial):
            assert results[j].equals(want), j
        assert len(lookup._HANDLES) == 4
        _assert_cache_counts(lookup._STRIDES)
        assert 0 < lookup._STRIDES.nbytes <= 1 << 20

    @staticmethod
    def _wide(tmp_path, name: str = "wide") -> str:
        """4 files whose strides each decode to ~100 KB of strings: one
        file's strides alone fill a 1 MB budget."""
        d = str(tmp_path / name)
        os.makedirs(d)
        for i in range(4):
            _write_part(os.path.join(d, f"{i}.dwrf"), i * 10_000, 10_000, "x" * 200)
        return d

    def test_decoded_bytes_bounded_across_handles(self, tmp_path, monkeypatch):
        """Each handle alone would fill a budget, and the handles share one
        stride cache, so the sum over all cached handles stays under one
        budget."""
        d = self._wide(tmp_path)
        monkeypatch.setenv("SPARK_GRAFT_STRIDE_CACHE_MB", "1")
        keys = list(range(0, 40_000, 97))  # a key in every stride
        want = _reference(d, "k", keys)
        for _ in range(2):
            assert lookup_keys(d, "k", keys).equals(want)
            held = [f.cache_bytes()["strides"] for _, f in lookup._HANDLES.values()]
            assert len(held) == 4 and sum(held) <= 1 << 20, held
            assert max(held) > 0

    def test_lookup_strides_within_budget_after_every_put(
        self, tmp_path, monkeypatch
    ):
        """The lookup handles' summed strides stay within one budget after
        every insert, in the middle of a call too, not only between the
        files a call reads."""
        d = self._wide(tmp_path)
        monkeypatch.setenv("SPARK_GRAFT_STRIDE_CACHE_MB", "1")
        cache = lookup._STRIDES
        real_put = cache.put
        sums: list[int] = []

        def checked_put(*a):
            out = real_put(*a)
            sums.append(lookup.cache_bytes().get("strides", 0))
            assert sums[-1] == cache.nbytes <= 1 << 20, sums[-1]
            return out

        monkeypatch.setattr(cache, "put", checked_put)
        keys = list(range(0, 40_000, 97))
        assert lookup_keys(d, "k", keys).equals(_reference(d, "k", keys))
        # the puts of the files read later evicted those of earlier ones
        assert len(sums) > 10 and max(sums) > (1 << 20) // 2

    def test_user_and_lookup_strides_do_not_evict_each_other(
        self, tmp_path, monkeypatch
    ):
        """A user-held handle has a stride cache of its own: churning its
        strides past its budget evicts none of the lookup handles'
        strides, and churning the lookup handles evicts none of its."""
        d = self._wide(tmp_path)
        monkeypatch.setenv("SPARK_GRAFT_STRIDE_CACHE_MB", "1")
        user_path = str(tmp_path / "user.dwrf")
        _write_part(user_path, 0, 10_000, "y" * 200)
        with DwrfFile(user_path) as user:
            user.read_rows_at([5, 2_500])
            lookup_keys(d, "k", [5, 12_500])
            served = set(lookup._STRIDES.entries)
            held = set(user._strides.entries)
            assert served and held and user._strides is not lookup._STRIDES
            # the user handle's churn: every stride, more than its budget
            for r in range(0, 10_000, 500):
                user.read_row(r)
            assert user.cache_bytes()["strides"] <= 1 << 20
            assert held - set(user._strides.entries)  # it evicted its own
            assert set(lookup._STRIDES.entries) == served
            # the lookup handles' churn: every stride of every file
            held = set(user._strides.entries)
            lookup_keys(d, "k", list(range(0, 40_000, 97)))
            assert served - set(lookup._STRIDES.entries)
            assert set(user._strides.entries) == held

    def test_dropped_handle_leaves_no_shared_strides(self, four_parts):
        """A handle dropped from the handle LRU and collected takes its
        entries out of the shared stride cache; the others keep theirs."""
        import gc

        lookup_keys(four_parts, "k", [5, 15_000, 25_000, 35_000])
        cache = lookup._STRIDES
        tokens = {f._token for _, f in lookup._HANDLES.values()}
        assert {key[0] for key in cache.entries} == tokens
        _, dropped = lookup._HANDLES.popitem(last=False)[1]
        token = dropped._token
        del dropped
        gc.collect()
        assert {key[0] for key in cache.entries} == tokens - {token}
        assert cache.owned(token) == 0
        lookup._HANDLES.clear()
        gc.collect()
        assert cache.nbytes == 0 and not cache.entries

    def test_absent_keys_with_columns_open_no_handle(self, four_parts):
        """A projected lookup whose keys no file holds builds the empty
        result's schema without a serving handle: none is opened or kept."""
        before = OrderedDict(lookup._HANDLES)
        trace = {}
        got = lookup_keys(four_parts, "k", [99_999], columns=["v"], trace=trace)
        assert got.num_rows == 0 and got.schema.names == ["v"]
        assert trace["files_opened"] == 0 and trace["files_pruned"] == 4
        assert lookup._HANDLES == before

    def test_handle_count_bounded(self, four_parts, monkeypatch):
        monkeypatch.setattr(lookup, "_HANDLES_MAX", 2)
        keys = [1, 15_000, 25_000, 35_000]
        for _ in range(2):
            trace = {}
            assert lookup_keys(four_parts, "k", keys, trace=trace).equals(
                _reference(four_parts, "k", keys)
            )
            assert len(lookup._HANDLES) == 2
            # an LRU of 2 over a 4-file scan reuses nothing
            assert trace["files_opened"] == 4

    def test_lru_follows_serving_order(self, four_parts, monkeypatch):
        """Planning opens no handle, so the handle LRU follows the order
        files were served in: with plans computed in reverse file order,
        the LRU of 2 ends on the last two files served."""
        real = lookup.file_plans

        def reverse_plans(files, stat_keys=None):
            out = {}
            for fp in reversed(files):
                out.update(real([fp], stat_keys))
            return out

        monkeypatch.setattr(lookup, "file_plans", reverse_plans)
        monkeypatch.setattr(lookup, "_HANDLES_MAX", 2)
        keys = [1, 15_000, 25_000, 35_000]
        for n_call in range(2):
            trace = {}
            assert lookup_keys(four_parts, "k", keys, trace=trace).equals(
                _reference(four_parts, "k", keys)
            )
            assert [os.path.basename(p) for p in lookup._HANDLES] == [
                "part-2.dwrf",
                "part-3.dwrf",
            ], n_call
            assert trace["files_opened"] == 4

    def test_more_files_than_handles_reopens_only_key_holders(self, tmp_path):
        """200 range-sorted files, more than the handle LRU holds: file
        pruning reads the cached footer summaries, so a repeat call opens
        at most the files that hold keys (a cyclic scan of all 200 files
        through a 128-entry LRU would reopen every one)."""
        d = str(tmp_path / "many")
        os.makedirs(d)
        for i in range(200):
            t = pa.table({"k": pa.array(np.arange(i * 100, i * 100 + 100))})
            write_arrow_table(os.path.join(d, f"part-{i:03d}.dwrf"), t)
        assert len(os.listdir(d)) > lookup._HANDLES_MAX
        keys = [150, 151, 4_321, 9_999, 19_950]
        holders = len({k // 100 for k in keys})
        want = _reference(d, "k", keys)
        for n in range(3):
            trace = {}
            assert lookup_keys(d, "k", keys, trace=trace).equals(want)
            assert trace["files_pruned"] == 200 - holders, trace
            if n:
                assert trace["files_opened"] <= holders, trace

    def test_cold_call_holds_few_files_open(self, tmp_path, monkeypatch):
        """A cold call over more files than the handle LRU holds opens a
        handle only on the files that hold keys, and keeps no more files
        open than the LRU, the one being served and the plan pool's
        threads, when the keys sit in a few files and when they sit in
        all of them."""
        import gc
        import weakref

        from hive_dwrf_spark.format import plans

        monkeypatch.setattr(lookup, "_HANDLES_MAX", 8)
        live: "weakref.WeakSet[DwrfFile]" = weakref.WeakSet()
        most = [0]
        lock = threading.Lock()
        orig = DwrfFile.__init__

        def tracking(self, path, *a, **kw):
            orig(self, path, *a, **kw)
            with lock:
                live.add(self)
                gc.collect()  # a dropped handle with decoders is a cycle
                most[0] = max(most[0], sum(not f._f.closed for f in live))

        monkeypatch.setattr(DwrfFile, "__init__", tracking)
        bound = lookup._HANDLES_MAX + 1 + plans._PLAN_POOL_WORKERS
        for name, keys in [("few", [150, 4_321]), ("all", list(range(7, 6_000, 100)))]:
            d = str(tmp_path / name)
            os.makedirs(d)
            for i in range(60):
                t = pa.table({"k": pa.array(np.arange(i * 100, i * 100 + 100))})
                write_arrow_table(os.path.join(d, f"part-{i:03d}.dwrf"), t)
            most[0] = 0
            trace = {}
            got = lookup_keys(d, "k", keys, trace=trace)
            assert got.column("k").to_pylist() == keys
            assert trace["files_opened"] == len({k // 100 for k in keys}), trace
            assert most[0] <= bound, (name, most[0])

    def test_dropped_handle_frees_without_cyclic_gc(
        self, nested_file, four_parts, blocks
    ):
        """A handle that has built point decoders is freed, and its file
        closed, as soon as its last reference goes: with the cyclic GC off,
        a weakref to it is dead right after `del`, and a handle the lookup
        LRU evicts is freed on eviction. Its decompressed blocks leave the
        process-wide block cache with it."""
        import gc
        import weakref

        gc.collect()
        gc.disable()
        try:
            f = DwrfFile(nested_file)
            f.read_rows_at([5, 9_000, 17_500], columns=["i", "s"])
            assert f._point_decoders
            assert 0 < f.cache_bytes()["blocks"] == blocks.nbytes
            refs = [weakref.ref(f), weakref.ref(f._f)]
            del f
            assert [r() for r in refs] == [None, None]  # file object freed
            assert blocks.nbytes == 0 and not blocks.entries

            lookup_keys(four_parts, "k", [5, 15_000, 25_000, 35_000])
            refs = [weakref.ref(h) for _, h in lookup._HANDLES.values()]
            assert len(refs) == 4 and all(r() is not None for r in refs)
            assert 0 < lookup.cache_bytes()["blocks"] == blocks.nbytes
            lookup._HANDLES.clear()
            assert [r() for r in refs] == [None] * 4
            assert blocks.nbytes == 0 and not blocks.entries
            _assert_cache_counts(blocks)
        finally:
            gc.enable()

    def test_blocks_of_all_handles_share_one_budget(
        self, tmp_path, monkeypatch, blocks
    ):
        """More handles and decoders than a small block budget holds: the
        decompressed blocks of two user-held handles and of every lookup
        handle stay within ONE budget per process, and the handles' shares
        add up to exactly what the cache holds, after every call."""
        from hive_dwrf_spark.format import reader as reader_mod

        budget, block = 64 * 1024, 16_384
        monkeypatch.setattr(reader_mod._StripeDecoder, "_BLK_CACHE_BUDGET", budget)
        d = str(tmp_path / "keys")
        os.makedirs(d)
        for i in range(4):
            _write_part(
                os.path.join(d, f"part-{i}.dwrf"), i * 10_000, 10_000,
                compression_block_size=block,
            )
        n = 20_000
        table = _multi_block_table(n)
        user = []
        for i in range(2):
            path = str(tmp_path / f"rows-{i}.dwrf")
            write_arrow_table(
                path, table, stripe_rows=5_000, row_index_stride=1_000,
                compression_block_size=block,
            )
            user.append(DwrfFile(path))
        keys = list(range(0, 40_000, 499))  # a key in every stride
        want = _reference(d, "k", keys)
        tokens: set[int] = set()

        def check() -> None:
            _assert_cache_counts(blocks)
            shares = sum(f.cache_bytes()["blocks"] for f in user)
            shares += lookup.cache_bytes().get("blocks", 0)
            assert shares == blocks.nbytes <= budget, (shares, blocks.nbytes)
            tokens.update(key[0] for key in blocks.entries)

        rng = np.random.default_rng(2)
        for _ in range(3):
            for f in user:
                rows = sorted(int(r) for r in rng.integers(0, n, 12))
                assert f.read_rows_at(rows).equals(table.take(rows))
                check()
            assert lookup_keys(d, "k", keys).equals(want)
            check()
        # the decoders that cached blocks outnumber the blocks it holds
        assert len(tokens) > budget // block, len(tokens)
        for f in user:
            f.close()

    def test_stride_bounds_parse_once_per_decoder(self, four_parts, monkeypatch):
        """The key column's stride statistics are parsed once per decoder,
        not on every call, and pick the same strides: exactly those whose
        rows hold a key."""
        from hive_dwrf_spark.format import reader as reader_mod

        batches = [[5, 12_345, 39_999], [7, 8, 9], [3, 20_000, 25_000, 31_001]]
        want = [_reference(four_parts, "k", keys) for keys in batches]
        parsed: list = []  # every statistics message the reader parses
        stats_from_proto = reader_mod.stats_from_proto

        def counting(kind, msg):
            parsed.append(msg)
            return stats_from_proto(kind, msg)

        monkeypatch.setattr(reader_mod, "stats_from_proto", counting)
        for n in range(6):
            keys = batches[n % len(batches)]
            trace = {}
            assert lookup_keys(four_parts, "k", keys, trace=trace).equals(
                want[n % len(batches)]
            )
            # 500-row strides in 4000-row stripes: stride k // 500 holds k
            assert trace["strides_scanned"] == len({k // 500 for k in keys})
            if n == len(batches) - 1:
                warm = len(parsed)
        assert len(parsed) == warm  # repeat calls parse nothing
        decoders = [
            dec for _, f in lookup._HANDLES.values()
            for dec in f._point_decoders.values()
        ]
        assert len(decoders) == 4 * 3
        # each stride's statistics of each decoder parsed exactly once
        times = Counter(id(msg) for msg in parsed)
        entries = [e.statistics for dec in decoders for e in dec.row_index(1).entry]
        assert [times[id(msg)] for msg in entries] == [1] * len(entries)

    def test_corrupt_member_raises_every_call(self, four_parts, opens):
        from hive_dwrf_spark.format.reader import DwrfCorruptError

        bad = os.path.join(four_parts, "part-2.dwrf")
        with open(bad, "rb") as fh:
            raw = fh.read()
        with DwrfFile(bad) as f:
            s = f.footer.stripes[0]
            lo, hi = s.offset + s.indexLength, s.offset + s.indexLength + s.dataLength
        # truncated: the open fails, so nothing is cached and every call
        # opens (and fails) again
        with open(bad, "wb") as fh:
            fh.write(raw[: len(raw) // 2])
        for n in range(3):
            with pytest.raises(DwrfCorruptError):
                lookup_keys(four_parts, "k", [25_000])
            assert bad not in lookup._HANDLES
            assert opens[bad] == 1 + n + 1
        # damaged data bytes: the open succeeds and the handle is cached,
        # but every decode through it still fails
        damaged = raw[:lo] + bytes([0xAA]) * (hi - lo) + raw[hi:]
        with open(bad, "wb") as fh:
            fh.write(damaged)
        for _ in range(3):
            with pytest.raises(DwrfCorruptError):
                lookup_keys(four_parts, "k", [20_001])
            assert bad in lookup._HANDLES
        # healthy members keep serving
        assert lookup_keys(four_parts, "k", [5]).column("k").to_pylist() == [5]

    def test_udtf_analyze_reads_the_plan(self, four_parts):
        """The dwrf_lookup TVF reads its schema from the first file's
        footer summary and opens no handle: the lookup that follows opens
        the one file that holds its key."""
        from types import SimpleNamespace

        from hive_dwrf_spark.sources.udtf import DwrfLookupUDTF

        def const(v):
            return SimpleNamespace(isConstantExpression=True, value=v)

        res = DwrfLookupUDTF.analyze(const(four_parts), const("K"), None)
        assert res.schema.fieldNames() == ["k", "v"]
        assert not lookup._HANDLES
        with pytest.raises(ValueError, match="no column"):
            DwrfLookupUDTF.analyze(const(four_parts), const("nope"), None)
        trace = {}
        lookup_keys(four_parts, "k", [1], trace=trace)
        assert trace["files_opened"] == 1
        (_, f), = lookup._HANDLES.values()
        assert f.path == os.path.join(four_parts, "part-0.dwrf")


def _mixed_table(n: int) -> pa.Table:
    """Every stride-decodable kind, NULLs in the data columns, and
    low-cardinality int and string columns the writer dictionary-encodes."""
    i = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "i": pa.array(i),
            "d": pa.array([None if r % 11 == 0 else r % 37 for r in range(n)], type=pa.int64()),
            "s": pa.array([None if r % 13 == 0 else f"w{r % 53}" for r in range(n)]),
            "txt": pa.array([f"row-{r}-{r * 7919 % 10007}" for r in range(n)]),
            "f": pa.array([None if r % 7 == 0 else r / 4 for r in range(n)], type=pa.float64()),
            "lst": pa.array(
                [[r, r + 1] if r % 5 else None for r in range(n)], type=pa.list_(pa.int64())
            ),
            "m": pa.array(
                [[(f"k{r % 3}", r)] if r % 6 else [] for r in range(n)],
                type=pa.map_(pa.string(), pa.int64()),
            ),
            "st": pa.array(
                [{"a": r % 5, "b": None if r % 4 == 0 else f"x{r % 3}"} for r in range(n)],
                type=pa.struct([("a", pa.int64()), ("b", pa.string())]),
            ),
        }
    )


@pytest.fixture(scope="module")
def mixed_file(tmp_path_factory):
    """3 stripes of 2000 rows, strides of 250, 2 KB compression blocks."""
    path = str(tmp_path_factory.mktemp("mixed") / "m.dwrf")
    write_arrow_table(
        path,
        _mixed_table(6_000),
        stripe_rows=2_000,
        row_index_stride=250,
        compression_block_size=2_048,
    )
    return path


def _ids(n_rows: int) -> dict[str, list[int]]:
    rng = np.random.default_rng(11)
    return {
        "duplicates_unsorted": [5_000, 3, 3, 1_999, 2_000, 5_000, 250, 4],
        "contiguous_run": list(range(600, 640)),
        "scattered_run": [745, 600, 610, 601],
        "run_and_scatter": list(range(2_010, 2_020)) + [2_240, 2_003, 2_240, 1_000],
        "stripe_edges": [0, 1_999, 2_000, 3_999, 4_000, 5_999],
        "thousands_few_strides": [int(r) for r in rng.integers(4_000, 4_750, 3_000)],
        "everywhere": [int(r) for r in rng.permutation(n_rows)[:500]],
    }


def _runs(ids: list[int]) -> list[tuple[int, int]]:
    """(position, length) of each maximal run of consecutive row ids."""
    out = []
    for k, r in enumerate(ids):
        if out and ids[k - 1] + 1 == r:
            out[-1] = (out[-1][0], out[-1][1] + 1)
        else:
            out.append((k, 1))
    return out


def _assert_point_reads(f: DwrfFile, ids: list[int], columns=None) -> None:
    """read_rows_at, read_row per id and read_rows per contiguous run of
    `ids` all equal the full read taken at `ids`."""
    want = f.read(columns=columns).take(pa.array(ids, type=pa.int64()))
    assert f.read_rows_at(ids, columns=columns).equals(want)
    rows = want.to_pylist()
    for r, row in zip(ids, rows):
        assert f.read_row(r, columns=columns) == row, r
    for k, n in _runs(ids):
        assert f.read_rows(ids[k], n, columns=columns).equals(want.slice(k, n)), (ids[k], n)


class TestGatherParity:
    """read_rows_at and lookup_keys gather a slice per contiguous run and
    one take per scattered run, through the point-read path read_row and
    read_rows share; every shape must equal a full read."""

    def test_gatherer_branches(self):
        from hive_dwrf_spark.format.reader import _gatherer

        arr = pa.array(np.arange(100, dtype=np.int64) * 3)
        run = _gatherer([40, 41, 42])(arr)
        assert run.to_pylist() == [120, 123, 126]
        # a run is a zero-copy window onto the same buffer
        assert run.buffers()[1].address == arr.buffers()[1].address
        assert _gatherer(np.array([7]))(arr).to_pylist() == [21]
        assert _gatherer([2, 50, 51])(arr).to_pylist() == [6, 150, 153]

    @pytest.mark.parametrize("case", sorted(_ids(6_000)))
    @pytest.mark.parametrize("columns", [None, ["s", "st.b", "m", "d"]])
    def test_read_rows_at(self, mixed_file, case, columns):
        ids = _ids(6_000)[case]
        with DwrfFile(mixed_file) as f:
            _assert_point_reads(f, ids, columns)
            # again through the warm decoder and stride caches
            _assert_point_reads(f, ids, columns)

    def test_dotted_projection_reads_no_unprojected_field(
        self, mixed_file, monkeypatch, blocks
    ):
        """A point read of "st.b" decodes only that field of the struct:
        no block or whole stream of "st.a" is read, and the decoded
        stride holds the projected fields only."""
        from hive_dwrf_spark.format.reader import _StripeDecoder

        read: set[int] = set()
        for name in ("_block", "stream"):
            real = getattr(_StripeDecoder, name)

            def spy(self, col, kind, *rest, _real=real):
                read.add(col)
                return _real(self, col, kind, *rest)

            monkeypatch.setattr(_StripeDecoder, name, spy)
        with DwrfFile(mixed_file) as f:
            root = f.types[0]
            st = f.types[root.subtypes[list(root.fieldNames).index("st")]]
            a, b = (st.subtypes[list(st.fieldNames).index(n)] for n in "ab")
            row = f.read_row(745, columns=["s", "st.b", "m", "d"])
            assert row["st"] == {"b": "x1"}
            assert b in read and a not in read
            got = f.read_rows_at([745, 10], columns=["st.b"])
            assert got.schema == f.projected_schema(["st.b"])
            assert a not in read

    def test_read_rows_at_without_row_index(self, tmp_path):
        path = str(tmp_path / "legacy.dwrf")
        write_arrow_table(path, _mixed_table(3_000), stripe_rows=1_000, row_index_stride=0)
        ids = [2_999, 5, 6, 7, 1_000, 5, 1_500, 1_100]
        with DwrfFile(path) as f:
            # a projection's whole-stripe decodes must not serve another's
            _assert_point_reads(f, ids, ["s", "st.b", "m", "d"])
            _assert_point_reads(f, ids)

    def test_read_rows_at_union_fallback(self, tmp_path):
        """A UNION column has no seek positions: its rows come from one
        whole-stripe decode, gathered at the stride's offset."""
        n = 3_000
        table = pa.table(
            {
                "i": pa.array(np.arange(n, dtype=np.int64)),
                "u": pa.array(
                    [
                        {"tag": 0, "field0": r, "field1": None}
                        if r % 3
                        else {"tag": 1, "field0": None, "field1": f"s{r}"}
                        for r in range(n)
                    ],
                    type=pa.struct(
                        [("tag", pa.int8()), ("field0", pa.int64()), ("field1", pa.string())]
                    ),
                ),
            }
        )
        path = str(tmp_path / "u.dwrf")
        write_arrow_table(path, table, union_columns={"u"}, stripe_rows=1_000, row_index_stride=250)
        ids = [0, 1, 7, 600, 601, 602, 749, 1_500, 2_999, 7, 2_260, 2_251]
        with DwrfFile(path) as f:
            _assert_point_reads(f, ids)

    @staticmethod
    def _key_dir(root, name: str, tables: list[pa.Table], **options) -> str:
        d = os.path.join(str(root), name)
        os.makedirs(d)
        for n, t in enumerate(tables):
            write_arrow_table(os.path.join(d, f"part-{n}.dwrf"), t, **options)
        return d

    @pytest.fixture(scope="class")
    def unsorted_dir(self, tmp_path_factory):
        """Keys in a seeded permutation with duplicates, so every stride's
        min/max admits many keys and hits are scattered."""
        rng = np.random.default_rng(5)
        t = _mixed_table(8_000)
        k = rng.permutation(8_000) // 2  # each key on two scattered rows
        t = t.append_column("k", pa.array(k, type=pa.int64()))
        return self._key_dir(
            tmp_path_factory.mktemp("keys"),
            "unsorted",
            [t.slice(0, 4_000), t.slice(4_000)],
            stripe_rows=1_500,
            row_index_stride=250,
            compression_block_size=2_048,
        )

    @pytest.mark.parametrize(
        "keys",
        [[7], [7, 8, 9, 1_999], list(range(0, 4_000, 9)), [None, 12, 3_999, 10**9]],
        ids=["one", "few", "hundreds", "null_and_absent"],
    )
    def test_lookup_unsorted_int_keys(self, unsorted_dir, keys):
        got = lookup_keys(unsorted_dir, "k", keys)
        assert got.equals(_reference(unsorted_dir, "k", [k for k in keys if k is not None]))
        cols = ["st", "k", "lst"]
        got = lookup_keys(unsorted_dir, "k", keys, columns=cols)
        assert got.equals(
            _reference(unsorted_dir, "k", [k for k in keys if k is not None]).select(cols)
        )

    def test_lookup_sorted_runs(self, tmp_path):
        """Range-sorted keys: each key's rows form one contiguous run."""
        t = _mixed_table(6_000)
        t = t.append_column("k", pa.array(np.arange(6_000) // 3, type=pa.int64()))
        d = self._key_dir(tmp_path, "sorted", [t], stripe_rows=2_000, row_index_stride=250)
        keys = [0, 83, 84, 666, 667, 1_999, 5_000]
        assert lookup_keys(d, "k", keys).equals(_reference(d, "k", keys))

    def test_lookup_string_keys(self, unsorted_dir):
        keys = ["w3", "w52", "nope"]
        assert lookup_keys(unsorted_dir, "s", keys).equals(_reference(unsorted_dir, "s", keys))

    def test_lookup_int_key_column_with_nulls(self, unsorted_dir):
        """"d" holds NULLs: matching takes the Arrow path, NULLs never match."""
        keys = [0, 5, 36]
        got = lookup_keys(unsorted_dir, "d", keys)
        assert got.num_rows > 0
        assert got.equals(_reference(unsorted_dir, "d", keys))

    def test_lookup_without_row_index(self, tmp_path):
        t = _mixed_table(3_000)
        t = t.append_column("k", pa.array(np.arange(3_000)[::-1] % 700, type=pa.int64()))
        d = self._key_dir(tmp_path, "legacy", [t], stripe_rows=1_000, row_index_stride=0)
        keys = [0, 1, 699, 350]
        assert lookup_keys(d, "k", keys).equals(_reference(d, "k", keys))

    def test_lookup_union_output_column(self, tmp_path):
        """A projected UNION column falls back to a whole-stripe decode,
        gathered at the key stride's offset."""
        n = 2_000
        t = pa.table(
            {
                "k": pa.array(np.arange(n) % 500, type=pa.int64()),
                "u": pa.array(
                    [
                        {"tag": 0, "field0": r, "field1": None}
                        if r % 2
                        else {"tag": 1, "field0": None, "field1": f"s{r}"}
                        for r in range(n)
                    ],
                    type=pa.struct(
                        [("tag", pa.int8()), ("field0", pa.int64()), ("field1", pa.string())]
                    ),
                ),
            }
        )
        d = self._key_dir(
            tmp_path, "union", [t], union_columns={"u"}, stripe_rows=1_000, row_index_stride=250
        )
        keys = [3, 260, 499]
        assert lookup_keys(d, "k", keys).equals(_reference(d, "k", keys))


def test_threads_share_handle_caches(mixed_file, monkeypatch, blocks):
    """8 threads on ONE handle cycle through 12 (stripe, projection)
    pairs, more than the decoder cache holds, with stride and block caches
    small enough to evict constantly. Every answer equals a serial read,
    nothing raises, no block-cache byte count, in total or per decoder,
    loses an update, and the blocks of every dropped decoder leave the
    cache, also of those dropped while another thread held its lock."""
    projections = [None, ["i", "s"], ["txt", "d", "st"], ["f", "lst", "m"]]
    _threads_share_handle_caches(mixed_file, projections, monkeypatch, blocks)


def test_threads_share_lazy_dictionary_strides(dict_file, monkeypatch, blocks):
    """The same over lazy dictionary strides, whose dictionary views each
    decoder builds once for every thread."""
    projections = [None, ["sh", "st"], ["lg", "dt", "rec"], ["in", "nl", "sd"]]
    _threads_share_handle_caches(dict_file, projections, monkeypatch, blocks)


def _threads_share_handle_caches(path, projections, monkeypatch, blocks):
    """test_threads_share_handle_caches over the 3 stripes of 2,000 rows
    of `path`, with 4 `projections`."""
    import gc

    from hive_dwrf_spark.format import reader as reader_mod

    monkeypatch.setenv("SPARK_GRAFT_STRIDE_CACHE_MB", "1")
    monkeypatch.setattr(reader_mod._StripeDecoder, "_BLK_CACHE_BUDGET", 16 * 1024)
    rng = np.random.default_rng(3)
    requests = [
        (cols, [int(r) for r in stripe * 2_000 + rng.integers(0, 2_000, 12)])
        for stripe in range(3)
        for cols in projections
    ]
    with DwrfFile(path) as f:
        serial = [f.read_rows_at(ids, columns=cols) for cols, ids in requests]

    shared = DwrfFile(path)
    built: set[int] = set()  # tokens of the decoders built
    point_decoder = shared._point_decoder

    def recording(*a):
        dec = point_decoder(*a)
        built.add(dec._token)
        return dec

    shared._point_decoder = recording
    errors: list[BaseException] = []
    mismatches: list[tuple[int, int]] = []
    stop = threading.Event()
    deadline = time.monotonic() + 3.0

    def client(c: int) -> None:
        try:
            j = c // 4  # two groups of four threads in step
            while time.monotonic() < deadline and not stop.is_set():
                k = (j * 5) % len(requests)
                cols, ids = requests[k]
                if not shared.read_rows_at(ids, columns=cols).equals(serial[k]):
                    mismatches.append((c, k))
                j += 1
        except BaseException as e:  # reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client, args=(c,)) for c in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        stop.set()
    finally:
        sys.setswitchinterval(old)
    shared.close()
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert not mismatches, mismatches
    assert len(built) > 8
    _assert_cache_counts(blocks)
    assert blocks.nbytes <= 16 * 1024
    del shared, point_decoder, recording
    gc.collect()  # the handle's patched method refers to the handle
    assert blocks.nbytes == 0 and not blocks.entries and not blocks._owned


def _multi_block_table(n: int) -> pa.Table:
    """Compressible columns (every block of every stream deflates), so a
    small block size makes each stream span many blocks."""
    rng = np.random.default_rng(11)
    i = rng.integers(0, 1000, n)
    return pa.table(
        {
            "i": pa.array(i, type=pa.int64()),
            "s": pa.array([f"row-{x:05d}" for x in range(n)]),
            "d": pa.array(i / 4.0),
        }
    )


def test_point_reads_hold_no_compressed_bytes(tmp_path, monkeypatch, blocks):
    """4 threads x 50 read_rows_at calls on one handle over a multi-block
    file: every answer is exact, no buffer read from the file outlives
    the call that read it (the handle keeps decompressed blocks, decoded
    strides, dictionaries and row indexes, never compressed bytes), and
    each cache layer stays within its bound."""
    from hive_dwrf_spark.format import reader as reader_mod

    monkeypatch.setenv("SPARK_GRAFT_STRIDE_CACHE_MB", "1")
    monkeypatch.setattr(reader_mod._StripeDecoder, "_BLK_CACHE_BUDGET", 64 * 1024)
    n = 40_000
    table = _multi_block_table(n)
    path = str(tmp_path / "blocks.dwrf")
    write_arrow_table(
        path, table, stripe_rows=20_000, row_index_stride=1_000,
        compression_block_size=16_384,
    )
    f = DwrfFile(path)
    reads: list[bytes] = []
    read_at = f._read_at

    def recording(offset, length):
        data = read_at(offset, length)
        reads.append(data)
        return data

    f._read_at = recording
    errors: list[BaseException] = []
    wrong: list[list[int]] = []

    def client(c: int) -> None:
        rng = np.random.default_rng(c)
        try:
            for _ in range(50):
                rows = [int(r) for r in rng.integers(0, n, 8)]
                if not f.read_rows_at(rows).equals(table.take(rows)):
                    wrong.append(rows)
        except BaseException as e:  # reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(c,)) for c in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert not wrong, wrong[:3]
    assert reads
    _assert_cache_counts(blocks)  # no lost block-cache update

    def root(buf):
        while True:
            if isinstance(buf, np.ndarray) and buf.base is not None:
                buf = buf.base
            elif isinstance(buf, memoryview):
                buf = buf.obj
            else:
                return buf

    # a stream stored uncompressed is its own decompressed stream: kept
    # whole (a dictionary stream here), it may share its read's buffer
    streams = {
        id(root(a)) for dec in f._point_decoders.values() for a in dec._cache.values()
    }
    # any other read is referenced only by `reads` and getrefcount's
    # own argument
    held = [
        len(reads[k]) for k in range(len(reads))
        if sys.getrefcount(reads[k]) > 2 and id(reads[k]) not in streams
    ]
    assert held == [], f"{len(held)} reads ({sum(held)} bytes) still held"
    layers = f.cache_bytes()
    assert set(layers) == {"strides", "blocks", "streams", "dictionaries"}
    assert 0 < layers["strides"] <= 1 << 20, layers
    assert 0 < layers["blocks"] == blocks.nbytes <= 64 * 1024, layers
    f.close()


def test_stride_inside_one_block_inflates_one_block(tmp_path, monkeypatch):
    """A stride whose bytes lie inside one compressed block inflates that
    block alone, also where the worst-case RLE window for its row count
    (11 bytes a value) would reach into the next block."""
    from hive_dwrf_spark.format import codecs
    from hive_dwrf_spark.format import reader as reader_mod

    n, stride, block = 60_000, 1_000, 32_768
    vals = np.random.default_rng(5).integers(0, 64, n)  # 1-byte varints
    path = str(tmp_path / "v.dwrf")
    write_arrow_table(
        path, pa.table({"v": pa.array(vals, type=pa.int64())}),
        stripe_rows=n, row_index_stride=stride, compression_block_size=block,
    )
    # no block stays cached, so every stride read inflates what it needs
    monkeypatch.setattr(reader_mod._StripeDecoder, "_BLK_CACHE_BUDGET", 0)
    inflated: list[int] = []
    decompress_block = codecs._decompress_block

    def counting_block(data, *a):
        inflated.append(len(data))
        return decompress_block(data, *a)

    monkeypatch.setattr(codecs, "_decompress_block", counting_block)
    with DwrfFile(path) as f:
        dec = f._point_decoder(0, None)
        # DATA positions: (block offset, offset in block, values to skip)
        pos = [tuple(e.positions[:3]) for e in dec.row_index(1).entry]
        # stride s lies inside one block when the strides after it start
        # in that block too: the RLE group holding its last value ends
        # where the group at stride s + 2 starts, or earlier
        inside = [
            s for s in range(len(pos) - 2)
            if pos[s][0] == pos[s + 1][0] == pos[s + 2][0]
            and pos[s + 2][1] > pos[s + 1][1]
        ]
        worst = [s for s in inside if pos[s][1] + (stride + pos[s][2]) * 11 > block]
        assert len(inside) > 20 and worst, (len(inside), worst)
        for s in inside:
            inflated.clear()
            got = dec.decode_stride_column(1, s, stride, n)
            assert got.to_pylist() == vals[s * stride : (s + 1) * stride].tolist()
            assert len(inflated) == 1, (s, pos[s], inflated)


def _dict_table(n: int) -> pa.Table:
    """DICTIONARY SHORT, INT, LONG and STRING columns the point reads keep
    as lazy strides, next to the cases that stay materialized: NULLs in
    a few strides (the column's other strides stay lazy), a date column,
    stride dictionaries (singletons next to NULLs) and a struct whose
    children are dictionary-encoded."""
    r = np.arange(n)
    return pa.table(
        {
            "sh": pa.array((r * 7) % 41, type=pa.int16()),
            "in": pa.array((r * 13) % 300 - 150, type=pa.int32()),
            "lg": pa.array((r // 3) * 1_000_003, type=pa.int64()),
            "st": pa.array([f"w{x % 53}" for x in r]),
            "nl": pa.array([None if x % 997 == 0 else x % 37 for x in r], type=pa.int64()),
            "dt": pa.array((r % 29).astype(np.int32), type=pa.date32()),
            "sd": pa.array(
                [None if x % 13 == 0 else f"u{x}" if x % 5 == 0 else f"c{x % 7}" for x in r]
            ),
            "rec": pa.array(
                [{"a": x % 5, "b": f"x{x % 3}"} for x in r],
                type=pa.struct([("a", pa.int64()), ("b", pa.string())]),
            ),
        }
    )


_DICT_OPTIONS = dict(
    stripe_rows=2_000,
    row_index_stride=250,
    compression_block_size=2_048,
    stride_dictionaries=True,
    entropy_threshold=0,  # keep every string dictionary the ratio admits
)


@pytest.fixture(scope="module")
def dict_file(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dicts") / "d.dwrf")
    write_arrow_table(path, _dict_table(6_000), **_DICT_OPTIONS)
    return path


def _lazy_columns(f: DwrfFile) -> dict[str, set[bool]]:
    """Column name -> whether each of its cached strides is lazy."""
    names = {tid: name for name, tid in f._projection(None)[0]}
    out: dict[str, set[bool]] = {}
    for key, (arr, _) in f._strides.entries.items():
        out.setdefault(names[key[2]], set()).add(type(arr) is _DictStride)
    return out


class TestLazyDictionaryStrides:
    """The point reads cache a NULL-free stride of a top-level DICTIONARY
    SHORT/INT/LONG/STRING column as ids over the stripe dictionary
    (_DictStride) and look up only the rows they gather; every read
    equals a full read, values and schema."""

    def test_which_strides_are_lazy(self, dict_file):
        with DwrfFile(dict_file) as f:
            dec = f._point_decoder(0, None)
            sd = f._top_level_id("sd")
            assert dec.has_stream(sd, StreamKind.IN_DICTIONARY)
            for name in ("sh", "in", "lg", "st", "nl", "dt"):
                enc = dec.encodings[f._top_level_id(name)]
                assert enc.kind == ColumnEncodingKind.DICTIONARY, name
            f.read_rows_at(list(range(0, 6_000, 125)))
            lazy = _lazy_columns(f)
        for name in ("sh", "in", "lg", "st"):
            assert lazy[name] == {True}, name
        # NULLs at rows 0, 997, ...: those strides materialize, the rest not
        assert lazy["nl"] == {True, False}
        for name in ("dt", "sd", "rec"):
            assert lazy[name] == {False}, name

    @pytest.mark.parametrize("case", sorted(_ids(6_000)))
    @pytest.mark.parametrize("columns", [None, ["st", "rec.b", "lg", "dt", "nl"]])
    def test_point_reads_equal_full_read(self, dict_file, case, columns):
        ids = _ids(6_000)[case]
        with DwrfFile(dict_file) as f:
            _assert_point_reads(f, ids, columns)
            _assert_point_reads(f, ids, columns)  # from the cached strides

    @pytest.fixture(scope="class")
    def dict_dir(self, tmp_path_factory):
        d = str(tmp_path_factory.mktemp("dict_dir"))
        t = _dict_table(8_000)
        for n, part in enumerate((t.slice(0, 4_000), t.slice(4_000))):
            write_arrow_table(os.path.join(d, f"part-{n}.dwrf"), part, **_DICT_OPTIONS)
        return d

    @pytest.mark.parametrize(
        "key_column, keys",
        [
            ("sh", [0, 7, 40, 99]),
            ("in", [-150, 3, 149, 150, 10**12]),
            ("lg", [0, 1_000_003 * 1_333, 1_000_003 * 2_666 + 1, 1_000_003 * 2_666]),
            ("st", ["w0", "w52", "w9", "nope"]),
            ("nl", [0, 36, 5]),
            ("lg", [1_000_003 * 7]),
        ],
    )
    def test_lookup_keys_equal_full_read(self, dict_dir, key_column, keys, monkeypatch):
        with DwrfFile(os.path.join(dict_dir, "part-0.dwrf")) as f:
            full_schema = f.schema
        want = _reference(dict_dir, key_column, keys)
        assert want.num_rows > 0
        # sorted dictionaries: every lazy key stride is matched by ids
        materialized: list[int] = []
        to_arrow = _DictStride.to_arrow
        monkeypatch.setattr(
            _DictStride, "to_arrow", lambda *a: materialized.append(1) or to_arrow(*a)
        )
        got = lookup_keys(dict_dir, key_column, keys)
        assert not materialized
        assert got.schema == full_schema
        assert got.equals(want)
        cols = ["rec", "st", "dt", "in"]
        assert lookup_keys(dict_dir, key_column, keys, columns=cols).equals(want.select(cols))

    def test_ids_are_narrowest_and_charged_alone(self, tmp_path):
        """A lazy stride's ids take the narrowest unsigned type for its
        stripe dictionary, and its cache entry is charged their bytes;
        the stripe dictionary is counted once under "dictionaries",
        however many strides read it."""
        r = np.arange(100_000)
        t = pa.table(
            {
                "u8": pa.array(r % 200, type=pa.int64()),
                "u16": pa.array((r * 7) % 1_000, type=pa.int64()),
                "u32": pa.array(r % 66_000, type=pa.int64()),
                "s": pa.array([f"v{x % 300}" for x in r]),
            }
        )
        path = str(tmp_path / "w.dwrf")
        write_arrow_table(path, t, row_index_stride=10_000)
        with DwrfFile(path) as f:
            assert len(f.footer.stripes) == 1
            assert f.read_rows_at([5]).equals(t.take([5]))
            dicts = f.cache_bytes()["dictionaries"]
            dec = f._point_decoder(0, None)
            assert dicts == dec.dictionary_bytes() > 0
            f.read_rows_at(list(range(0, 100_000, 9_999)))
            assert f.cache_bytes()["dictionaries"] == dicts
            widths = {"u8": np.uint8, "u16": np.uint16, "u32": np.uint32, "s": np.uint16}
            names = {tid: name for name, tid in f._projection(None)[0]}
            entries = list(f._strides.entries.items())
            assert len(entries) == 4 * 10
            for key, (arr, charged) in entries:
                assert type(arr) is _DictStride
                assert arr.ids.dtype == widths[names[key[2]]]
                assert charged == arr.nbytes == arr.ids.nbytes == 10_000 * arr.ids.itemsize
            assert f.cache_bytes()["strides"] == sum(c for _, (_, c) in entries)
            _assert_cache_counts(f._strides)

    def test_dropped_decoder_takes_its_lazy_strides(self, tmp_path):
        """A lazy stride reads its decoder's dictionary. When the decoder
        leaves the handle's 8-decoder LRU, the lazy strides of its stripe
        leave the cache, so each dictionary a cached stride keeps alive
        is a live decoder's, which cache_bytes counts; materialized
        strides stay."""
        r = np.arange(40_000)
        t = pa.table(
            {
                "k": pa.array((r * 7_919) % 2_000, type=pa.int64()),
                "v": pa.array(r, type=pa.int64()),
            }
        )
        path = str(tmp_path / "stripes.dwrf")
        write_arrow_table(path, t, stripe_rows=4_000, row_index_stride=1_000)
        with DwrfFile(path) as f:
            for s in range(10):
                row = s * 4_000 + 5
                assert f.read_rows_at([row]).equals(t.take([row]))
            decs = list(f._point_decoders.values())
            assert len(decs) == 8
            lazy = {k[1]: v for k, (v, _) in f._strides.entries.items() if type(v) is _DictStride}
            assert sorted(lazy) == list(range(2, 10))
            views = {id(d._views[1][0]) for d in decs}
            assert {id(v.values) for v in lazy.values()} == views
            assert f.cache_bytes()["dictionaries"] == sum(d.dictionary_bytes() for d in decs)
            assert len(f._strides.entries) == 10 + 8
            _assert_cache_counts(f._strides)

    def test_unsorted_int_dictionary(self, tmp_path, monkeypatch):
        """A foreign writer may leave an int dictionary unsorted: the ids
        of such a stride are matched by value, not by searchsorted."""
        from hive_dwrf_spark.format import writer as writer_mod

        sorted_unique_inverse = writer_mod._sorted_unique_inverse

        def descending(vals):
            u, ids = sorted_unique_inverse(vals)
            return u[::-1].copy(), len(u) - 1 - ids

        monkeypatch.setattr(writer_mod, "_sorted_unique_inverse", descending)
        rng = np.random.default_rng(9)
        t = pa.table(
            {
                "k": pa.array(rng.integers(0, 400, 3_000), type=pa.int64()),
                "v": pa.array(np.arange(3_000), type=pa.int64()),
            }
        )
        d = str(tmp_path / "unsorted")
        os.makedirs(d)
        path = os.path.join(d, "part-0.dwrf")
        write_arrow_table(path, t, stripe_rows=1_500, row_index_stride=250)
        ids = [2_999, 0, 17, 1_500, 17, 640]
        with DwrfFile(path) as f:
            dec = f._point_decoder(0, None)
            assert dec.encodings[1].kind == ColumnEncodingKind.DICTIONARY
            assert f.read_rows_at(ids).equals(t.take(ids))
            stride = f._point_window(dec, 0, 0, [("k", 1)])[0]
            assert type(stride) is _DictStride and not stride.ascending
            assert stride.key_ids([1, 2]) is None
        for keys in ([5], [0, 1, 2, 399], list(range(0, 400, 7))):
            want = t.filter(pa.compute.is_in(t["k"], value_set=pa.array(keys)))
            assert lookup_keys(d, "k", keys).equals(want), keys

    def test_whole_file_read_rows_keeps_cached_strides(self, dict_file):
        """read_rows reads the strides it covers whole through the stride
        cache without inserting them, and builds no lazy stride for
        them: the strides cached for point reads stay, and nothing new
        joins them."""
        with DwrfFile(dict_file) as f:
            f.read_rows_at([10, 2_600, 5_999])
            held = dict(f._strides.entries)
            assert held
            assert f.read_rows(0, f.num_rows).equals(f.read())
            assert dict(f._strides.entries) == held
            # a range inside one stride reads part of it: that stride is kept
            f.read_rows(1_010, 5)
            assert len(f._strides.entries) > len(held)
        with DwrfFile(dict_file) as f:
            assert f.read_rows(0, f.num_rows).equals(f.read())
            assert not f._strides.entries
            assert not any(dec._views for dec in f._point_decoders.values())
