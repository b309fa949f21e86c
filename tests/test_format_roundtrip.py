"""End-to-end DWRF write→read round-trips on typed fixtures, mirroring the
reference's TestOrcFile style: nested schemas, nulls, empty files, projection,
metadata, seeded random tables, stats checks."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from hive_dwrf_spark.format import DwrfFile, DwrfWriter, write_arrow_table
from hive_dwrf_spark.format.constants import TypeKind


def rt(tmp_path, table: pa.Table, **opts) -> pa.Table:
    path = str(tmp_path / "t.dwrf")
    write_arrow_table(path, table, **opts)
    with DwrfFile(path) as f:
        got = f.read()
    return got


def assert_tables_equal(a: pa.Table, b: pa.Table):
    assert a.schema.equals(b.schema), f"{a.schema}\n!=\n{b.schema}"
    assert a.num_rows == b.num_rows
    for name in a.column_names:
        ca, cb = a.column(name), b.column(name)
        assert ca.equals(cb) or ca.to_pylist() == cb.to_pylist(), f"column {name} differs"


class TestPrimitives:
    def test_all_primitive_types(self, tmp_path):
        n = 5000
        rng = np.random.default_rng(42)
        table = pa.table(
            {
                "b": pa.array(rng.integers(0, 2, n).astype(bool)),
                "i8": pa.array(rng.integers(-128, 128, n).astype(np.int8)),
                "i16": pa.array(rng.integers(-32768, 32768, n).astype(np.int16)),
                "i32": pa.array(rng.integers(-(2**31), 2**31, n).astype(np.int32)),
                "i64": pa.array(rng.integers(-(2**62), 2**62, n)),
                "f32": pa.array(rng.random(n).astype(np.float32)),
                "f64": pa.array(rng.random(n) * 1e9),
                "s": pa.array([f"row-{i % 100}" for i in range(n)]),
                "bin": pa.array([bytes([i % 256, 255 - i % 256]) for i in range(n)], type=pa.binary()),
            }
        )
        got = rt(tmp_path, table)
        assert_tables_equal(got, table)

    def test_nulls_everywhere(self, tmp_path):
        n = 2000
        rng = np.random.default_rng(1)
        mask = rng.random(n) < 0.3

        def with_nulls(vals):
            return pa.array(
                [None if m else v for v, m in zip(vals, mask)]
            )

        table = pa.table(
            {
                "i": with_nulls(list(range(n))),
                "s": with_nulls([f"v{i}" for i in range(n)]),
                "d": with_nulls([float(i) * 0.5 for i in range(n)]),
            }
        )
        got = rt(tmp_path, table)
        assert_tables_equal(got, table)

    def test_all_null_column(self, tmp_path):
        table = pa.table({"x": pa.array([None] * 100, type=pa.int64())})
        got = rt(tmp_path, table)
        assert got.column("x").null_count == 100

    def test_timestamps_subsecond(self, tmp_path):
        # exercise the 2015-epoch + packed-nanos path incl. negative-rel seconds
        us_values = [
            0,  # 1970: far before the 2015 base epoch -> negative seconds
            1_420_070_400_000_000,  # exactly the base epoch
            1_700_000_000_123_456,  # sub-millisecond micros
            1_700_000_000_120_000,  # trailing zeros -> packed nanos
            1_700_000_000_000_001,
            999_999,  # 1970-01-01 00:00:00.999999
        ]
        table = pa.table({"ts": pa.array(us_values, type=pa.timestamp("us"))})
        got = rt(tmp_path, table)
        assert got.column("ts").to_pylist() == table.column("ts").to_pylist()


class TestNested:
    def test_list_map_struct(self, tmp_path):
        table = pa.table(
            {
                "arr": pa.array([[1.5, 2.5], [], None, [3.25]], type=pa.list_(pa.float64())),
                "m": pa.array(
                    [{"a": 1}, {"b": 2, "c": 3}, None, {}],
                    type=pa.map_(pa.string(), pa.int64()),
                ),
                "st": pa.array(
                    [
                        {"qty": 1.0, "flag": "A"},
                        {"qty": None, "flag": "B"},
                        None,
                        {"qty": 4.0, "flag": None},
                    ],
                    type=pa.struct([("qty", pa.float64()), ("flag", pa.string())]),
                ),
            }
        )
        got = rt(tmp_path, table)
        for c in table.column_names:
            assert got.column(c).to_pylist() == table.column(c).to_pylist(), c

    def test_deep_nesting(self, tmp_path):
        t = pa.list_(pa.struct([("xs", pa.list_(pa.int64())), ("name", pa.string())]))
        table = pa.table(
            {
                "deep": pa.array(
                    [
                        [{"xs": [1, 2], "name": "a"}, {"xs": [], "name": None}],
                        [],
                        None,
                        [{"xs": None, "name": "d"}],
                    ],
                    type=t,
                )
            }
        )
        got = rt(tmp_path, table)
        assert got.column("deep").to_pylist() == table.column("deep").to_pylist()


class TestFileFeatures:
    def test_empty_table(self, tmp_path):
        table = pa.table({"x": pa.array([], type=pa.int64())})
        got = rt(tmp_path, table)
        assert got.num_rows == 0
        assert got.schema.field("x").type == pa.int64()

    def test_multiple_stripes(self, tmp_path):
        n = 25_000
        table = pa.table({"i": pa.array(np.arange(n)), "s": pa.array([f"x{i%7}" for i in range(n)])})
        path = str(tmp_path / "m.dwrf")
        write_arrow_table(path, table, stripe_rows=10_000)
        with DwrfFile(path) as f:
            assert len(f.footer.stripes) == 3
            got = f.read()
            assert got.column("i").to_pylist() == list(range(n))

    def test_user_metadata(self, tmp_path):
        table = pa.table({"x": pa.array([1, 2, 3])})
        path = str(tmp_path / "meta.dwrf")
        write_arrow_table(path, table, metadata={"writer": b"hive_dwrf_spark"})
        with DwrfFile(path) as f:
            assert f.metadata["writer"] == b"hive_dwrf_spark"

    def test_projection(self, tmp_path):
        table = pa.table({"a": pa.array([1, 2]), "b": pa.array(["x", "y"]), "c": pa.array([0.5, 1.5])})
        path = str(tmp_path / "p.dwrf")
        write_arrow_table(path, table)
        with DwrfFile(path) as f:
            got = f.read(columns=["c", "a"])
            assert got.column_names == ["c", "a"]
            assert got.column("a").to_pylist() == [1, 2]

    def test_file_stats(self, tmp_path):
        table = pa.table({"i": pa.array([5, 1, 9, None]), "d": pa.array([0.5, -2.0, 3.5, 1.0])})
        path = str(tmp_path / "s.dwrf")
        write_arrow_table(path, table)
        with DwrfFile(path) as f:
            si = f.file_stats(1)
            assert (si.minimum, si.maximum, si.sum, si.count) == (1, 9, 15, 3)
            sd = f.file_stats(2)
            assert (sd.minimum, sd.maximum) == (-2.0, 3.5)

    def test_filter_pruning(self, tmp_path):
        n = 30_000
        table = pa.table({"k": pa.array(np.arange(n)), "v": pa.array(np.arange(n) % 100)})
        path = str(tmp_path / "f.dwrf")
        write_arrow_table(path, table, stripe_rows=10_000)
        with DwrfFile(path) as f:
            # file-level prune: impossible predicate reads nothing
            got = f.read(filters=[("k", "gt", 10**9)])
            assert got.num_rows == 0
            # stripe-level prune: only stripe 3 can contain k >= 25000
            got = f.read(filters=[("k", "gte", 25_000)])
            assert got.num_rows == 10_000  # stripes 1-2 pruned, residual rows stay

    def test_dictionary_encoding_kicks_in(self, tmp_path):
        from hive_dwrf_spark.format import proto
        from hive_dwrf_spark.format.constants import ColumnEncodingKind

        n = 10_000
        table = pa.table({"s": pa.array([f"key{i % 50}" for i in range(n)])})
        path = str(tmp_path / "d.dwrf")
        write_arrow_table(path, table)
        with DwrfFile(path) as f:
            from hive_dwrf_spark.format.reader import _StripeDecoder

            dec = _StripeDecoder(f, f.footer.stripes[0])
            assert dec.encodings[1].kind == int(ColumnEncodingKind.DICTIONARY)
            assert dec.encodings[1].dictionarySize == 50
            got = f.read()
            assert got.column("s").to_pylist() == table.column("s").to_pylist()

    def test_bad_magic_rejected(self, tmp_path):
        p = tmp_path / "bad.dwrf"
        p.write_bytes(b"PAR1" + b"\x00" * 100)
        with pytest.raises(ValueError, match="bad magic"):
            DwrfFile(str(p))

    def test_lzo_roundtrips_without_codec(self, tmp_path):
        """compression="lzo" round-trips in EVERY environment: with
        python-lzo absent the writer uses the vendored pure-Python LZO1X
        compressor (codecs._lzo1x_compress_py) and the reader the vendored
        decoder — valid LZO1X streams either way, so files stay readable
        by the real codec too (cross-checked in tests/test_codecs.py when
        python-lzo is importable)."""
        import pyarrow as pa

        from hive_dwrf_spark.format import write_arrow_table

        table = pa.table(
            {
                "a": pa.array(np.arange(25_000, dtype=np.int64)),
                "s": pa.array(
                    [f"lzo-{i % 400}" if i % 9 else None for i in range(25_000)]
                ),
            }
        )
        p = str(tmp_path / "lzo_novendor.dwrf")
        write_arrow_table(p, table, compression="lzo", row_index_stride=1000)
        with DwrfFile(p) as f:
            assert f.compression.name == "LZO"
            got = f.read()
            assert got.column("a").to_pylist() == table.column("a").to_pylist()
            assert got.column("s").to_pylist() == table.column("s").to_pylist()
            # stride seeks work through LZO block framing regardless of
            # which compressor produced the blocks
            assert f.read_row(15_432) == {
                "a": 15_432,
                "s": f"lzo-{15_432 % 400}",
            }

    def test_lzo_code_path_with_codec_installed(self, tmp_path, monkeypatch):
        """The LZO decode path is real code, not a stub: with a codec
        module present (a zlib stand-in here, the python-lzo API shape),
        an LZO-kind file writes and reads end to end and the open-time
        rejection lifts. When genuine python-lzo is importable, the same
        test exercises the real LZO1X bytes."""
        import types
        import zlib

        from hive_dwrf_spark.format import codecs as _codecs
        from hive_dwrf_spark.format import write_arrow_table

        if not _codecs.lzo_available():
            fake = types.SimpleNamespace(
                compress=lambda data, level=1, header=True: zlib.compress(
                    data, 6
                ),
                decompress=lambda data, header=True, buflen=0: zlib.decompress(
                    data
                ),
                error=zlib.error,
            )
            monkeypatch.setattr(_codecs, "_lzo", fake)
        table = pa.table(
            {
                "a": pa.array(np.arange(20_000, dtype=np.int64)),
                "s": pa.array([f"lzo-{i % 400}" for i in range(20_000)]),
            }
        )
        p = str(tmp_path / "real_lzo.dwrf")
        write_arrow_table(p, table, compression="lzo", row_index_stride=1000)
        with DwrfFile(p) as f:
            assert f.compression.name == "LZO"
            got = f.read()
            assert got.column("a").to_pylist() == table.column("a").to_pylist()
            assert got.column("s").to_pylist() == table.column("s").to_pylist()
            # stride seek positions work through the LZO block framing too
            assert f.read_row(15_432) == {"a": 15_432, "s": f"lzo-{15_432 % 400}"}


class TestSeededRandom:
    """Seeded randomized round-trip, analog of TestOrcFile random tests."""

    @pytest.mark.parametrize("seed", [42, 7])
    def test_random_table(self, tmp_path, seed):
        rng = np.random.default_rng(seed)
        n = 8000
        words = ["alpha", "beta", "gamma", "delta", ""]

        def maybe_null(vals, p=0.1):
            m = rng.random(n) < p
            return pa.array([None if mm else v for v, mm in zip(vals, m)])

        table = pa.table(
            {
                "i": maybe_null(rng.integers(-(10**12), 10**12, n).tolist()),
                "s": maybe_null([words[i] + str(rng.integers(0, 10)) for i in rng.integers(0, 5, n)]),
                "f": maybe_null((rng.random(n) * 100).tolist()),
                "ts": pa.array(
                    rng.integers(1_400_000_000_000_000, 1_800_000_000_000_000, n),
                    type=pa.timestamp("us"),
                ),
            }
        )
        got = rt(tmp_path, table, stripe_rows=3000)
        for c in table.column_names:
            assert got.column(c).to_pylist() == table.column(c).to_pylist(), c


def test_parallel_column_decode_matches_serial(tmp_path):
    """read_stripe(parallel_columns=True) must be value-identical to the
    serial path on a mixed-type table with nulls, dictionary strings,
    timestamps, and nested columns (the decoder's stream cache and TLS
    scratch are shared across the column pool)."""
    rng = np.random.default_rng(13)
    n = 20_000
    words = ["alpha", "beta", "gamma", "delta"]
    mask = rng.random(n) < 0.15
    table = pa.table(
        {
            "i": pa.array(
                [None if m else int(v) for v, m in zip(rng.integers(0, 500, n), mask)]
            ),
            "l": pa.array(rng.integers(-(10**14), 10**14, n)),
            "s": pa.array([words[i] for i in rng.integers(0, 4, n)]),
            "f": pa.array(rng.random(n)),
            "ts": pa.array(
                rng.integers(1_500_000_000_000_000, 1_700_000_000_000_000, n),
                type=pa.timestamp("us"),
            ),
            "arr": pa.array(
                [[int(x) for x in rng.integers(0, 9, int(k))] for k in rng.integers(0, 4, n)]
            ),
        }
    )
    path = str(tmp_path / "pc.dwrf")
    write_arrow_table(path, table)
    with DwrfFile(path) as f:
        serial = f.read_stripe(0)
        par = f.read_stripe(0, parallel_columns=True)
    assert par.equals(serial)
    for c in table.column_names:
        assert par.column(c).to_pylist() == table.column(c).to_pylist(), c


class TestRandomAccess:
    """seekToRow analog (RecordReaderImpl.java:494-543): ranged reads at
    every boundary shape, mirroring the reference's seek test patterns."""

    def _write(self, tmp_path, n=25_000):
        import numpy as np
        import pyarrow as pa

        from hive_dwrf_spark.format import write_arrow_table

        rng = np.random.RandomState(42)
        table = pa.table(
            {
                "k": np.arange(n, dtype=np.int64),
                "v": rng.randint(0, 1000, size=n),
                "s": pa.array([f"row{i}" for i in range(n)]),
            }
        )
        path = str(tmp_path / "seek.dwrf")
        write_arrow_table(
            path, table, stripe_rows=7000, row_index_stride=1000
        )
        return path, table

    def test_ranged_reads(self, tmp_path):
        from hive_dwrf_spark.format import DwrfFile

        path, table = self._write(tmp_path)
        with DwrfFile(path) as f:
            for off, cnt in [
                (0, 10), (6995, 10), (7000, 7000), (13999, 2),
                (24990, 10), (24990, 100), (0, 25000), (12345, 1),
            ]:
                got = f.read_rows(off, cnt)
                exp = table.slice(off, min(cnt, 25000 - off))
                assert got.num_rows == exp.num_rows, (off, cnt)
                assert got.column("k").to_pylist() == exp.column("k").to_pylist()
            # past-the-end reads return empty
            assert f.read_rows(25000, 10).num_rows == 0
            # projection composes with seek
            got = f.read_rows(7001, 3, columns=["s"])
            assert got.column_names == ["s"]
            assert got.column("s").to_pylist() == ["row7001", "row7002", "row7003"]

    def test_every_nth_row_sweep(self, tmp_path):
        """TestOrcFile.java:1533-1694 analog: read back every Nth row for
        N in {1,2,3,7,10,100,1000,10000} (positions capped per N so the
        sweep stays fast); values must match the source exactly at every
        stride/stripe phase."""
        from hive_dwrf_spark.format import DwrfFile

        path, table = self._write(tmp_path)
        ks = table.column("k").to_pylist()
        ss = table.column("s").to_pylist()
        with DwrfFile(path) as f:
            for n in (1, 2, 3, 7, 10, 100, 1000, 10000):
                positions = range(0, 25_000, n)
                # cap the N=1..10 sweeps; always include boundary-phase rows
                sample = list(positions)[:150] + [
                    p for p in (6999, 7000, 13999, 20999, 24999) if p % n == 0
                ]
                for off in sample:
                    got = f.read_rows(off, 1)
                    assert got.num_rows == 1, (n, off)
                    assert got.column("k").to_pylist() == [ks[off]], (n, off)
                    assert got.column("s").to_pylist() == [ss[off]], (n, off)

    def test_seek_across_engineered_block_boundaries(self, tmp_path):
        """TestOrcFile.java:266-344 analog: a tiny compression block size
        forces every stream to span many blocks; ranged reads that cross
        block boundaries must still decode exactly."""
        import numpy as np
        import pyarrow as pa

        from hive_dwrf_spark.format import DwrfFile, write_arrow_table

        rng = np.random.RandomState(7)
        n = 20_000
        table = pa.table(
            {
                "k": np.arange(n, dtype=np.int64),
                "v": rng.randint(-(10**9), 10**9, size=n),
                "s": pa.array([f"value-{i:08d}" for i in range(n)]),
            }
        )
        path = str(tmp_path / "blocks.dwrf")
        write_arrow_table(
            path,
            table,
            stripe_rows=6000,
            row_index_stride=500,
            compression_block_size=1024,  # hundreds of blocks per stream
        )
        with DwrfFile(path) as f:
            for off, cnt in [
                (0, 20_000), (5990, 20), (11999, 2), (499, 502),
                (17777, 1), (19999, 1),
            ]:
                got = f.read_rows(off, cnt)
                exp = table.slice(off, min(cnt, n - off))
                assert got.column("v").to_pylist() == exp.column("v").to_pylist()
                assert got.column("s").to_pylist() == exp.column("s").to_pylist()

    def test_stride_pruning_slices_rows(self, tmp_path):
        from hive_dwrf_spark.format import DwrfFile

        path, table = self._write(tmp_path)
        with DwrfFile(path) as f:
            # k >= 24000: only the last stripe's last strides survive; the
            # returned row count must shrink below the full stripe size
            t = f.read(filters=[("k", "gte", 24000)])
            assert t.num_rows < 7000
            ks = t.column("k").to_pylist()
            assert all(k >= 23000 for k in ks)  # stride-aligned superset
            assert set(range(24000, 25000)) <= set(ks)  # no real row lost


class TestUnionType:
    """DWRF UNION (orc_proto.proto:90-92; WriterImpl.java:1996-2008) has no
    Spark/Arrow analog; it round-trips through the tagged-struct surrogate
    struct<tag: int8, field0, field1> declared via the union_columns
    writer option."""

    @staticmethod
    def _union_file(tmp_path, **opts):
        """(path, tags, longs, strs) of a 5000-row file whose column "u"
        is a UNION<long, string>, in stripes of 2000 rows."""
        from hive_dwrf_spark.format.writer import DwrfWriter

        n = 5000
        rng = np.random.RandomState(3)
        tags = rng.randint(0, 2, size=n).astype(np.int8)
        longs = pa.array(
            [int(i) if t == 0 else None for i, t in enumerate(tags)],
            type=pa.int64(),
        )
        strs = pa.array(
            [f"s{i}" if t == 1 else None for i, t in enumerate(tags)],
            type=pa.string(),
        )
        u = pa.StructArray.from_arrays(
            [pa.array(tags, type=pa.int8()), longs, strs],
            names=["tag", "field0", "field1"],
        )
        table = pa.table({"k": pa.array(range(n), type=pa.int64()), "u": u})
        path = str(tmp_path / "union.dwrf")
        w = DwrfWriter(
            path, table.schema, union_columns={"u"}, stripe_rows=2000, **opts
        )
        w.write_table(table)
        w.close()
        return path, tags, longs, strs

    def test_union_roundtrip(self, tmp_path):
        from hive_dwrf_spark.format import DwrfFile
        from hive_dwrf_spark.format.constants import TypeKind

        path, tags, longs, strs = self._union_file(tmp_path)
        n = len(tags)
        with DwrfFile(path) as f:
            # the footer really contains a UNION node, not a struct
            kinds = {TypeKind(t.kind) for t in f.types}
            assert TypeKind.UNION in kinds
            back = f.read()
        assert back.num_rows == n
        got = back.column("u").combine_chunks()
        assert got.field("tag").to_pylist() == list(tags)
        assert got.field("field0").to_pylist() == longs.to_pylist()
        assert got.field("field1").to_pylist() == strs.to_pylist()

    def test_union_point_reads_take_whole_stripe_fallback(self, tmp_path):
        """read_row and read_rows_at on the union file, at stripe and
        stride edges, equal read(): a UNION has no seek positions, so each
        stride of it is sliced from one cached whole-stripe decode."""
        from hive_dwrf_spark.format import DwrfFile

        path, _, _, _ = self._union_file(tmp_path, row_index_stride=700)
        rows = [0, 699, 700, 1399, 1400, 1999, 2000, 2699, 2700, 3999, 4000, 4999]
        with DwrfFile(path) as f:
            full = f.read()
            expect = full.take(rows)
            assert f.read_rows_at(rows).equals(expect)
            assert f.read_rows_at(rows[::-1]).equals(full.take(rows[::-1]))
            for r, want in zip(rows, expect.to_pylist()):
                assert f.read_row(r) == want, r
            u = f._top_level_id("u")
            # the UNION's entries are whole stripes (stride -1), one per
            # stripe read; the long column's are strides
            assert {k[1] for k in f._strides.entries if k[2] == u and k[3] == -1} == {0, 1, 2}
            assert not [k for k in f._strides.entries if k[2] == u and k[3] != -1]

    def test_union_followed_by_date_and_ts_keeps_logical_types(self, tmp_path):
        """Regression: logical-type annotation ids (dwrf.date.ids /
        dwrf.timestamp.ns.ids) must use the same pre-order numbering as the
        footer type tree, which does NOT number a union surrogate's tag
        field. With the old numbering every id at/after a union column was
        off by +1: here the date column read back as int32 and the shifted
        id landed on the unrelated int column, mis-casting it to date32."""
        import datetime

        import numpy as np
        import pyarrow as pa

        from hive_dwrf_spark.format import DwrfFile
        from hive_dwrf_spark.format.writer import DwrfWriter

        n = 100
        tags = np.zeros(n, dtype=np.int8)
        u = pa.StructArray.from_arrays(
            [
                pa.array(tags, type=pa.int8()),
                pa.array(range(n), type=pa.int64()),
                pa.array([f"s{i}" for i in range(n)], type=pa.string()),
            ],
            names=["tag", "field0", "field1"],
        )
        dates = pa.array(
            [datetime.date(2020, 1, 1) + datetime.timedelta(days=i) for i in range(n)],
            type=pa.date32(),
        )
        ints = pa.array(range(n), type=pa.int32())
        ts = pa.array(
            np.datetime64("2021-06-01", "ns") + np.arange(n).astype("timedelta64[ns]"),
            type=pa.timestamp("ns"),
        )
        table = pa.table({"u": u, "d": dates, "i": ints, "t": ts})
        path = str(tmp_path / "union_date.dwrf")
        w = DwrfWriter(path, table.schema, union_columns={"u"})
        w.write_table(table)
        w.close()

        with DwrfFile(path) as f:
            back = f.read()
        assert back.schema.field("d").type == pa.date32()
        assert back.schema.field("i").type == pa.int32()
        assert back.schema.field("t").type == pa.timestamp("ns")
        assert back.column("d").to_pylist() == dates.to_pylist()
        assert back.column("i").to_pylist() == ints.to_pylist()
        assert back.column("t").to_pylist() == ts.to_pylist()

    def test_union_requires_tagged_struct(self, tmp_path):
        import pyarrow as pa
        import pytest as _pytest

        from hive_dwrf_spark.format.writer import DwrfWriter

        schema = pa.schema([pa.field("u", pa.struct([("a", pa.int64())]))])
        with _pytest.raises(TypeError, match="union column"):
            DwrfWriter(str(tmp_path / "x.dwrf"), schema, union_columns={"u"})


class TestLazyIO:
    """Eager-vs-lazy stripe IO (RecordReaderImpl.java:281-399 analog): a
    projected read must fetch only the included columns' stream bytes."""

    def test_projected_read_does_less_io(self, tmp_path, monkeypatch):
        import numpy as np
        import pyarrow as pa

        from hive_dwrf_spark.format import DwrfFile, write_arrow_table

        n = 50_000
        rng = np.random.RandomState(5)
        table = pa.table(
            {
                "a": np.arange(n, dtype=np.int64),
                # wide random payload dominates the stripe bytes
                "blob": pa.array(
                    ["".join(chr(97 + x) for x in rng.randint(0, 26, 60)) for _ in range(n)]
                ),
                "b": rng.randint(0, 10, size=n),
            }
        )
        path = str(tmp_path / "wide.dwrf")
        write_arrow_table(path, table, row_index_stride=10_000)

        def read_bytes(f, columns=None, filters=None):
            counts = {"n": 0}
            orig = DwrfFile._read_at

            def counting(self, off, ln):
                counts["n"] += ln
                return orig(self, off, ln)

            monkeypatch.setattr(DwrfFile, "_read_at", counting)
            try:
                with DwrfFile(f) as r:
                    t = r.read(columns=columns, filters=filters)
            finally:
                monkeypatch.setattr(DwrfFile, "_read_at", orig)
            return t, counts["n"]

        full, full_bytes = read_bytes(path)
        proj, proj_bytes = read_bytes(path, columns=["a"])
        assert proj.column_names == ["a"]
        assert proj.column("a").to_pylist() == full.column("a").to_pylist()
        # the blob column dominates; projecting 'a' must skip most bytes
        assert proj_bytes < full_bytes / 3, (proj_bytes, full_bytes)
        # filters on a non-projected column still work (index-only ranges)
        filt, _ = read_bytes(path, columns=["a"], filters=[("b", "lte", 100)])
        assert filt.column("a").to_pylist() == full.column("a").to_pylist()


class TestDateType:
    """DWRF has no DATE kind (predates the Apache ORC addition); Spark
    DateType stores as INT days-since-epoch plus a footer annotation that
    restores the logical type on read."""

    def test_date_roundtrip_format(self, tmp_path):
        import datetime

        import pyarrow as pa

        from hive_dwrf_spark.format import DwrfFile, write_arrow_table

        t = pa.table(
            {
                "d": pa.array(
                    [datetime.date(2020, 1, 1), None, datetime.date(1969, 12, 31)],
                    type=pa.date32(),
                ),
                "k": pa.array([1, 2, 3]),
            }
        )
        path = str(tmp_path / "dates.dwrf")
        write_arrow_table(path, t)
        with DwrfFile(path) as f:
            back = f.read()
        assert back.schema.field("d").type == pa.date32()
        assert back.column("d").to_pylist() == t.column("d").to_pylist()

    def test_date_roundtrip_spark(self, spark, tmp_path):
        from hive_dwrf_spark.sources import register

        register(spark)
        df = spark.sql(
            "SELECT id AS k, date_add(DATE '2020-01-01', CAST(id AS INT)) AS d "
            "FROM range(100)"
        )
        out = str(tmp_path / "dates_dwrf")
        df.write.format("dwrf").option("path", out).mode("append").save()
        back = spark.read.format("dwrf").load(out)
        assert dict(back.dtypes)["d"] == "date"
        a = sorted((r.k, r.d) for r in df.collect())
        b = sorted((r.k, r.d) for r in back.collect())
        assert a == b


class TestNestedProjection:
    """A4's recursive projection: a dotted path like "s.qty" decodes (and
    reads) only that subtree of the struct, not its siblings."""

    def _write(self, tmp_path):
        import numpy as np
        import pyarrow as pa

        from hive_dwrf_spark.format import write_arrow_table

        n = 2000
        rng = np.random.RandomState(9)
        blobs = [
            "".join(chr(33 + c) for c in rng.randint(0, 90, 120)) for _ in range(n)
        ]
        s = pa.StructArray.from_arrays(
            [
                pa.array(range(n), type=pa.int64()),
                pa.array(blobs),
                pa.array([float(i) / 7 for i in range(n)]),
            ],
            names=["qty", "blob", "rate"],
        )
        table = pa.table({"k": pa.array(range(n), type=pa.int64()), "s": s})
        path = str(tmp_path / "nested_proj.dwrf")
        write_arrow_table(path, table)
        return path, table

    def test_nested_field_projection(self, tmp_path):
        import pyarrow as pa

        from hive_dwrf_spark.format import DwrfFile

        path, table = self._write(tmp_path)
        with DwrfFile(path) as f:
            got = f.read(columns=["k", "s.qty"])
        assert got.column_names == ["k", "s"]
        st = got.schema.field("s").type
        assert st.num_fields == 1 and st.field(0).name == "qty"
        assert got.column("s").combine_chunks().field("qty").to_pylist() == list(
            range(2000)
        )
        # two sub-fields of the same struct
        with DwrfFile(path) as f:
            got2 = f.read(columns=["s.qty", "s.rate"])
        st2 = got2.schema.field("s").type
        assert [st2.field(i).name for i in range(st2.num_fields)] == ["qty", "rate"]

    def test_nested_projection_reads_fewer_bytes(self, tmp_path, monkeypatch):
        from hive_dwrf_spark.format import DwrfFile

        path, _ = self._write(tmp_path)
        counts = {"full": 0, "proj": 0}
        orig = DwrfFile._read_at
        for mode, cols in [("full", None), ("proj", ["s.qty"])]:
            def counting(self, off, ln, _m=mode):
                counts[_m] += ln
                return orig(self, off, ln)

            monkeypatch.setattr(DwrfFile, "_read_at", counting)
            with DwrfFile(path) as f:
                f.read(columns=cols)
            monkeypatch.setattr(DwrfFile, "_read_at", orig)
        # the blob sibling dominates the bytes; skipping it must show
        assert counts["proj"] < counts["full"] / 2, counts


class TestStrideDictionaries:
    """A14 stride dictionaries (WriterImpl.java:1418-1472;
    LazyStringDictionaryTreeReader.java:155-217): keys occurring once move
    into per-stride side dictionaries, IN_DICTIONARY selects the source."""

    def _make_table(self, n=5000, n_unique=800, seed=7):
        import numpy as np
        import pyarrow as pa

        rng = np.random.RandomState(seed)
        common = [f"common_{i}" for i in range(20)]
        vals = [common[rng.randint(20)] for _ in range(n)]
        # sprinkle unique singletons across the rows
        for pos in rng.choice(n, size=n_unique, replace=False):
            vals[pos] = f"unique_{pos:07d}"
        # a few nulls to exercise the dense->row mapping
        for pos in rng.choice(n, size=50, replace=False):
            vals[pos] = None
        return pa.table({"s": pa.array(vals, type=pa.string()),
                         "k": pa.array(range(n), type=pa.int64())}), vals

    def test_roundtrip_with_stride_dictionaries(self, tmp_path):
        from hive_dwrf_spark.format import DwrfFile
        from hive_dwrf_spark.format.writer import DwrfWriter

        table, vals = self._make_table()
        path = str(tmp_path / "stride_dict.dwrf")
        w = DwrfWriter(
            path, table.schema, stride_dictionaries=True, row_index_stride=1000,
            entropy_threshold=0,
        )
        w.write_table(table)
        w.close()

        with DwrfFile(path) as f:
            back = f.read()
        assert back.column("s").to_pylist() == vals

    def test_stride_dict_streams_and_smaller_stripe_dict(self, tmp_path):
        from hive_dwrf_spark.format import DwrfFile
        from hive_dwrf_spark.format.constants import ColumnEncodingKind, StreamKind
        from hive_dwrf_spark.format.reader import _StripeDecoder
        from hive_dwrf_spark.format.writer import DwrfWriter

        table, vals = self._make_table()
        n_singletons = sum(1 for v in vals if v is not None and v.startswith("unique"))
        for flag in (True, False):
            path = str(tmp_path / f"sd_{flag}.dwrf")
            w = DwrfWriter(
                path, table.schema, stride_dictionaries=flag,
                row_index_stride=1000, entropy_threshold=0,
            )
            w.write_table(table)
            w.close()
            with DwrfFile(path) as f:
                dec = _StripeDecoder(f, f.footer.stripes[0])
                enc = dec.encodings[1]
                assert enc.kind == int(ColumnEncodingKind.DICTIONARY)
                if flag:
                    assert dec.has_stream(1, StreamKind.IN_DICTIONARY)
                    assert dec.has_stream(1, StreamKind.STRIDE_DICTIONARY)
                    assert dec.has_stream(1, StreamKind.STRIDE_DICTIONARY_LENGTH)
                    # stripe dictionary holds only the repeated keys
                    assert enc.dictionarySize == 20
                    # side-dict sizes sit at the reference loadIndeces
                    # position (after PRESENT + STRIDE_DICTIONARY +
                    # STRIDE_DICTIONARY_LENGTH seek coordinates)
                    ri = dec.row_index(1)
                    sidx = dec._stride_dict_size_index(1)
                    sizes = [
                        e.positions[sidx] if e.positions else 0
                        for e in ri.entry
                    ]
                    assert sum(sizes) == n_singletons
                else:
                    assert not dec.has_stream(1, StreamKind.IN_DICTIONARY)
                    assert enc.dictionarySize == 20 + n_singletons
                assert f.read().column("s").to_pylist() == vals

    def test_no_singletons_suppresses_stride_streams(self, tmp_path):
        import pyarrow as pa

        from hive_dwrf_spark.format import DwrfFile
        from hive_dwrf_spark.format.constants import StreamKind
        from hive_dwrf_spark.format.reader import _StripeDecoder
        from hive_dwrf_spark.format.writer import DwrfWriter

        vals = [f"v{i % 10}" for i in range(2000)]
        table = pa.table({"s": pa.array(vals)})
        path = str(tmp_path / "nosingle.dwrf")
        w = DwrfWriter(path, table.schema, stride_dictionaries=True,
                       row_index_stride=500, entropy_threshold=0)
        w.write_table(table)
        w.close()
        with DwrfFile(path) as f:
            dec = _StripeDecoder(f, f.footer.stripes[0])
            assert not dec.has_stream(1, StreamKind.IN_DICTIONARY)
            assert f.read().column("s").to_pylist() == vals

    def test_projected_filtered_read_with_stride_dicts(self, tmp_path):
        from hive_dwrf_spark.format import DwrfFile
        from hive_dwrf_spark.format.writer import DwrfWriter

        table, vals = self._make_table()
        path = str(tmp_path / "sd_proj.dwrf")
        w = DwrfWriter(path, table.schema, stride_dictionaries=True,
                       row_index_stride=1000, entropy_threshold=0)
        w.write_table(table)
        w.close()
        with DwrfFile(path) as f:
            got = f.read(columns=["s"], filters=[("s", "starts_with", "unique_00000")])
        expect = [v for v in vals if v is not None and v.startswith("unique_00000")]
        got_vals = [v for v in got.column("s").to_pylist() if v is not None and v.startswith("unique_00000")]
        assert sorted(got_vals) == sorted(expect) and len(expect) > 0


class TestEntropyHeuristic:
    """A13 entropy gate (WriterImpl.java:1297-1363, OrcConf.java:46-51):
    with few repeated values, dictionary encoding is kept only when sampled
    keys exceed the distinct-character threshold."""

    def _encoding_kind(self, tmp_path, vals, **opts):
        from hive_dwrf_spark.format import DwrfFile
        from hive_dwrf_spark.format.reader import _StripeDecoder
        from hive_dwrf_spark.format.writer import DwrfWriter

        table = pa.table({"s": pa.array(vals, type=pa.string())})
        path = str(tmp_path / f"e{abs(hash(vals[0]))}.dwrf")
        w = DwrfWriter(path, table.schema, **opts)
        w.write_table(table)
        w.close()
        with DwrfFile(path) as f:
            dec = _StripeDecoder(f, f.footer.stripes[0])
            kind = dec.encodings[1].kind
            assert f.read().column("s").to_pylist() == vals
        return kind

    def test_low_entropy_keys_fall_back_to_direct(self, tmp_path):
        from hive_dwrf_spark.format.constants import ColumnEncodingKind

        # 60% distinct (passes 0.8 threshold) but keys use only 3 chars:
        # entropy gate sends it DIRECT
        vals = []
        i = 0
        for _ in range(3000):
            vals.append(format(i % 1800, "b").replace("1", "a").replace("0", "b"))
            i += 1
        kind = self._encoding_kind(tmp_path, vals)
        assert kind == int(ColumnEncodingKind.DIRECT)

    def test_high_entropy_keys_keep_dictionary(self, tmp_path):
        from hive_dwrf_spark.format.constants import ColumnEncodingKind

        # same repeat structure, but keys span the alphabet + digits
        import string

        alphabet = string.ascii_letters + string.digits
        vals = []
        for i in range(3000):
            k = i % 1800
            vals.append("".join(alphabet[(k * 7 + j * 13) % len(alphabet)] for j in range(8)))
        kind = self._encoding_kind(tmp_path, vals)
        assert kind == int(ColumnEncodingKind.DICTIONARY)

    def test_high_repetition_skips_entropy_gate(self, tmp_path):
        from hive_dwrf_spark.format.constants import ColumnEncodingKind

        # 10 low-entropy keys heavily repeated: repeatedFraction > 0.9 so
        # the entropy gate does not apply and dictionary wins
        vals = [f"aa{i % 10}" for i in range(3000)]
        kind = self._encoding_kind(tmp_path, vals)
        assert kind == int(ColumnEncodingKind.DICTIONARY)

    def test_low_memory_mode_abandons_dictionaries(self, tmp_path):
        from hive_dwrf_spark.format.constants import ColumnEncodingKind

        vals = [f"aa{i % 10}" for i in range(3000)]
        kind = self._encoding_kind(tmp_path, vals, low_memory=True)
        assert kind == int(ColumnEncodingKind.DIRECT)


class TestSeekPatterns:
    """Every-Nth-row read patterns (TestOrcFile.java:1533-1694 analog):
    ranged reads at stride N for N in {1,2,3,7,100,1000,10000} must see
    exactly the right rows, across stripe and stride boundaries, with and
    without nulls."""

    def test_every_nth_row(self, tmp_path):
        n = 21_000
        rng = np.random.RandomState(42)
        vals = rng.randint(0, 10**6, size=n)
        nulls = rng.random(n) < 0.1
        table = pa.table(
            {
                "k": pa.array(np.arange(n, dtype=np.int64)),
                "v": pa.array(
                    [None if m else int(x) for x, m in zip(vals, nulls)],
                    type=pa.int64(),
                ),
            }
        )
        path = str(tmp_path / "nth.dwrf")
        write_arrow_table(path, table, stripe_rows=6000, row_index_stride=1000)
        with DwrfFile(path) as f:
            for step in (1, 2, 3, 7, 100, 1000, 10000):
                for start in (0, 1, 5999, 6000, 20998):
                    got = f.read_rows(start, min(step, n - start))
                    ks = got.column("k").to_pylist()
                    assert ks == list(range(start, start + min(step, n - start)))
                    expect_v = [
                        None if nulls[i] else int(vals[i])
                        for i in range(start, start + min(step, n - start))
                    ]
                    assert got.column("v").to_pylist() == expect_v


def test_read_rows_with_stride_dictionaries(tmp_path):
    """Random access must survive stride dictionaries: sliced reads decode
    the full stripe's dictionary state, so values land correctly at any
    offset."""
    n = 8000
    rng = np.random.RandomState(3)
    vals = [f"shared_{i % 15}" for i in range(n)]
    for pos in rng.choice(n, size=500, replace=False):
        vals[pos] = f"only_{pos:06d}"
    table = pa.table({"s": pa.array(vals), "k": pa.array(np.arange(n))})
    path = str(tmp_path / "sd_seek.dwrf")
    write_arrow_table(
        path, table, stride_dictionaries=True, row_index_stride=1000,
        entropy_threshold=0, stripe_rows=3000,
    )
    with DwrfFile(path) as f:
        for off, cnt in [(0, 10), (999, 2), (2999, 2), (3000, 10), (7990, 10)]:
            got = f.read_rows(off, cnt)
            assert got.column("s").to_pylist() == vals[off : off + cnt]
            assert got.column("k").to_pylist() == list(range(off, off + cnt))


def test_encoding_interval_carries_decision(tmp_path):
    """A13 re-evaluation interval (OrcConf.java:53): with interval 30,
    stripe 2's data would choose DIRECT on its own (all-unique strings),
    but the carried stripe-1 decision keeps it DICTIONARY; with interval 1
    each stripe decides independently."""
    from hive_dwrf_spark.format.constants import ColumnEncodingKind
    from hive_dwrf_spark.format.reader import _StripeDecoder

    repeats = pa.table({"s": pa.array([f"k{i % 5}" for i in range(4000)])})
    uniques = pa.table({"s": pa.array([f"u{i:08d}x{i}" for i in range(4000)])})

    for interval, expect_stripe2 in [(30, ColumnEncodingKind.DICTIONARY),
                                     (1, ColumnEncodingKind.DIRECT)]:
        path = str(tmp_path / f"iv{interval}.dwrf")
        w = DwrfWriter(
            path, repeats.schema, stripe_rows=4000, encoding_interval=interval
        )
        w.write_table(repeats)   # stripe 1: clearly dictionary
        w.write_table(uniques)   # stripe 2: clearly direct on its own
        w.close()
        with DwrfFile(path) as f:
            assert len(f.footer.stripes) == 2
            k1 = _StripeDecoder(f, f.footer.stripes[0]).encodings[1].kind
            k2 = _StripeDecoder(f, f.footer.stripes[1]).encodings[1].kind
            assert k1 == int(ColumnEncodingKind.DICTIONARY)
            assert k2 == int(expect_stripe2), interval
            got = f.read()
        assert got.column("s").to_pylist() == (
            repeats.column("s").to_pylist() + uniques.column("s").to_pylist()
        )


class TestCaseInsensitiveLookup:
    """Field name lookup is case-insensitive, as in the reference's
    ObjectInspector (TestObjectInspector.java:553-587)."""

    def test_projection_and_filters_ignore_case(self, tmp_path):
        table = pa.table(
            {
                "OrderKey": pa.array([1, 2, 3], pa.int64()),
                "S": pa.array(
                    [{"Qty": 1, "Price": 2.0}] * 3,
                    pa.struct([("Qty", pa.int32()), ("Price", pa.float64())]),
                ),
            }
        )
        path = str(tmp_path / "t.dwrf")
        write_arrow_table(path, table)
        with DwrfFile(path) as f:
            got = f.read(columns=["orderkey"])
            # canonical (file) spelling is preserved in the result
            assert got.column_names == ["OrderKey"]
            assert got.column("OrderKey").to_pylist() == [1, 2, 3]
            nested = f.read(columns=["s.qty"])
            assert nested.column("S").to_pylist() == [{"Qty": 1}] * 3
            filtered = f.read(columns=["ORDERKEY"], filters=[("orderkey", "gt", 5)])
            assert filtered.num_rows == 0

    def test_unknown_name_still_rejected(self, tmp_path):
        table = pa.table({"a": pa.array([1], pa.int64())})
        path = str(tmp_path / "t.dwrf")
        write_arrow_table(path, table)
        with DwrfFile(path) as f:
            with pytest.raises(KeyError):
                f.read(columns=["nope"])


class TestCorruptFiles:
    """Reader behavior on damaged inputs, mirroring the reference's corrupt
    InStream tests (TestInStream.java) and NotAnORCFileException paths:
    every failure mode raises a clean Python exception, never garbage data
    or a hang."""

    def _golden(self, tmp_path):
        rng = np.random.default_rng(3)
        table = pa.table(
            {
                "i": pa.array(rng.integers(0, 50, 5000).astype(np.int32)),
                "s": pa.array([f"v{x}" for x in rng.integers(0, 30, 5000)]),
            }
        )
        path = str(tmp_path / "c.dwrf")
        write_arrow_table(path, table)
        return path

    def test_truncated_tail_rejected(self, tmp_path):
        path = self._golden(tmp_path)
        data = open(path, "rb").read()
        for cut in (1, 10, len(data) // 2):
            trunc = str(tmp_path / f"t{cut}.dwrf")
            open(trunc, "wb").write(data[:-cut])
            with pytest.raises(Exception) as ei:
                with DwrfFile(trunc) as f:
                    f.read()
            assert not isinstance(ei.value, (SystemExit, KeyboardInterrupt))

    def test_corrupt_footer_rejected(self, tmp_path):
        # DWRF blocks carry no checksums (neither here nor in the
        # reference), so *data* bit-flips are not deterministically
        # detectable — but corrupt METADATA (footer/postscript region)
        # must always raise a clean error, never parse as garbage
        path = self._golden(tmp_path)
        data = bytearray(open(path, "rb").read())
        ps_len = data[-1]
        for off in range(len(data) - 1 - ps_len - 40, len(data) - 1):
            data[off] ^= 0xA5
        bad = str(tmp_path / "bad.dwrf")
        open(bad, "wb").write(bytes(data))
        with pytest.raises(Exception) as ei:
            with DwrfFile(bad) as f:
                f.read()
        assert not isinstance(ei.value, (SystemExit, KeyboardInterrupt))

    def test_empty_file_rejected(self, tmp_path):
        empty = str(tmp_path / "e.dwrf")
        open(empty, "wb").close()
        with pytest.raises(Exception):
            with DwrfFile(empty) as f:
                f.read()


def test_no_index_mode(tmp_path):
    """rowIndexStride=0 writes no ROW_INDEX streams and remains fully
    readable including random access (OrcFile.java:117 legal no-index mode;
    reference test TestOrcFile.java:954)."""
    n = 25_000
    table = pa.table(
        {"i": pa.array(np.arange(n)), "s": pa.array([f"x{i % 9}" for i in range(n)])}
    )
    path = str(tmp_path / "noidx.dwrf")
    write_arrow_table(path, table, row_index_stride=0, stripe_rows=10_000)
    with DwrfFile(path) as f:
        assert f.footer.rowIndexStride in (0, None)
        got = f.read()
        assert got.column("i").to_pylist() == list(range(n))
        rr = f.read_rows(12_345, 4)
        assert rr.column("i").to_pylist() == [12345, 12346, 12347, 12348]
        # stride pruning silently degrades to no pruning (stats absent)
        assert f.read(filters=[("i", "gt", 24_000)]).num_rows >= 999


def test_cross_block_seeks(tmp_path):
    """Engineered tiny compression blocks (TestOrcFile.java:266-344 analog):
    every stream spans many compressed blocks, so random access exercises
    the (block offset, in-block offset) seek arithmetic at every boundary."""
    n = 20_000
    rng = np.random.default_rng(11)
    table = pa.table(
        {
            "i": pa.array(rng.integers(0, 1_000_000, n)),
            "s": pa.array([f"value-{int(x)}" for x in rng.integers(0, 5000, n)]),
        }
    )
    path = str(tmp_path / "blocks.dwrf")
    write_arrow_table(
        path, table, compression_block_size=256, stripe_rows=8_000
    )
    want_i = table.column("i").to_pylist()
    want_s = table.column("s").to_pylist()
    with DwrfFile(path) as f:
        got = f.read()
        assert got.column("i").to_pylist() == want_i
        assert got.column("s").to_pylist() == want_s
        for off in (0, 1, 255, 256, 257, 7_999, 8_000, 8_001, 13_579, n - 3):
            rr = f.read_rows(off, 3)
            assert rr.column("i").to_pylist() == want_i[off : off + 3], off
            assert rr.column("s").to_pylist() == want_s[off : off + 3], off


def test_read_row_every_nth(tmp_path):
    """Point-lookup parity with the reference's seekToRow test
    (TestOrcFile.java:1533-1694): read every Nth row for N in
    {1, 7, 100, 10000} via read_row and compare to the full decode.
    Multiple stripes + nulls + nested values so the stripe directory,
    projection, and null scatter all participate."""
    n = 25_000
    table = pa.table(
        {
            "i": pa.array(np.arange(n, dtype=np.int64)),
            "s": pa.array([f"row-{i % 97}" for i in range(n)]),
            "ns": pa.array(
                [None if i % 7 == 0 else i for i in range(n)],
                type=pa.int64(),
            ),
            "arr": pa.array(
                [[i, i + 1] for i in range(n)], type=pa.list_(pa.int64())
            ),
        }
    )
    path = str(tmp_path / "seek.dwrf")
    write_arrow_table(path, table, stripe_rows=8_000, row_index_stride=1_000)
    with DwrfFile(path) as f:
        for step in (10_000, 100, 7):
            for r in range(0, n, step):
                got = f.read_row(r)
                assert got["i"] == r
                assert got["s"] == f"row-{r % 97}"
                assert got["ns"] == (None if r % 7 == 0 else r)
                assert got["arr"] == [r, r + 1]
        # step 1 over a stripe boundary window (full sweep is O(n^2) decode)
        for r in range(7_995, 8_005):
            assert f.read_row(r, columns=["i"]) == {"i": r}
        # projected lookup returns only asked columns
        assert f.read_row(12_345, columns=["s"]) == {"s": f"row-{12_345 % 97}"}
        import pytest as _pytest

        with _pytest.raises(IndexError):
            f.read_row(n)
        with _pytest.raises(IndexError):
            f.read_row(-1)


def test_read_row_all_null_column(tmp_path):
    """Stride-bounded point lookup on a column that is entirely null:
    no data stream exists, so the seek path must come from the PRESENT
    stream alone (RecordReaderImpl.java seeks every planned stream;
    an absent one has an empty position list)."""
    n = 25_000
    table = pa.table(
        {
            "a": pa.array([None] * n, type=pa.int64()),
            "b": pa.array([None if i % 3 == 0 else f"s{i}" for i in range(n)]),
            "c": pa.array(np.arange(n, dtype=np.int64)),
        }
    )
    path = str(tmp_path / "allnull.dwrf")
    write_arrow_table(path, table, stripe_rows=12_000, row_index_stride=1_000)
    with DwrfFile(path) as f:
        for r in (0, 999, 1_000, 5_001, 11_999, 12_000, 13_500, n - 1):
            row = f.read_row(r)
            assert row["a"] is None
            assert row["b"] == (None if r % 3 == 0 else f"s{r}")
            assert row["c"] == r


def test_row_index_records_seek_positions(tmp_path):
    """The writer records per-stride stream positions in the ROW_INDEX
    (WriterImpl.java:317-328,617-621 PositionRecorder parity): every
    stride entry of a positioned scalar column must carry a non-empty
    positions list whose stride-0 entry is all zeros, and whose layout
    round-trips through the stride decoder."""
    from hive_dwrf_spark.format.reader import _StripeDecoder

    n = 6_000
    table = pa.table(
        {
            "i": pa.array(np.arange(n, dtype=np.int64)),
            "f": pa.array(np.arange(n, dtype=np.float64) / 3),
            "s": pa.array([f"val-{i % 977}-{i}" for i in range(n)]),
        }
    )
    path = str(tmp_path / "pos.dwrf")
    write_arrow_table(path, table, row_index_stride=1_000)
    with DwrfFile(path) as f:
        dec = _StripeDecoder(f, f.footer.stripes[0])
        for col in (1, 2, 3):
            ri = dec.row_index(col)
            assert ri is not None and len(ri.entry) == 6
            for e in ri.entry:
                assert list(e.positions), f"column {col}: empty positions"
            assert all(v == 0 for v in ri.entry[0].positions), col


def test_read_row_decodes_stride_bounded_bytes(tmp_path):
    """A positions-aware point lookup must decompress only the blocks
    covering the containing stride, not the stripe: compared to a full
    stripe decode, a single read_row on a 200k-row single-stripe file
    must touch well under a tenth of the compressed blocks
    (RecordReaderImpl.java:494-543 seek + InStream.java:112-132 skip)."""
    from hive_dwrf_spark.format import codecs as _codecs

    n = 200_000
    rng = np.random.RandomState(11)
    table = pa.table(
        {
            "i": pa.array(rng.randint(0, 1 << 40, n).astype(np.int64)),
            "s": pa.array([f"text-{i}-{'x' * (i % 23)}" for i in range(n)]),
        }
    )
    path = str(tmp_path / "big.dwrf")
    write_arrow_table(
        path,
        table,
        stripe_rows=n,
        row_index_stride=10_000,
        compression_block_size=8_192,
    )

    counted = {"n": 0}
    orig = _codecs._decompress_block

    def counting(block, kind, *bufsize):
        counted["n"] += 1
        return orig(block, kind, *bufsize)

    _codecs._decompress_block = counting
    try:
        with DwrfFile(path) as f:
            f.read()
        full_blocks = counted["n"]
        counted["n"] = 0
        with DwrfFile(path) as f:
            got = f.read_row(155_555)
        seek_blocks = counted["n"]
    finally:
        _codecs._decompress_block = orig
    assert got["i"] == table.column("i")[155_555].as_py()
    assert got["s"] == table.column("s")[155_555].as_py()
    assert full_blocks > 50, full_blocks  # the file really is multi-block
    assert seek_blocks * 10 < full_blocks, (seek_blocks, full_blocks)


def test_binary_stride_seek(tmp_path):
    """BINARY columns carry seek positions too (string-direct shape:
    LENGTH int-RLE + DATA raw-byte offsets) — point lookups on payload
    tables decode one stride."""
    rng = np.random.RandomState(9)
    n = 12_000
    payloads = [
        bytes(rng.randint(0, 256, rng.randint(0, 40)).astype(np.uint8))
        for _ in range(n)
    ]
    mask = rng.rand(n) < 0.07
    table = pa.table(
        {
            "b": pa.array(
                [None if m else p for m, p in zip(mask, payloads)],
                type=pa.binary(),
            ),
            "i": pa.array(np.arange(n, dtype=np.int64)),
        }
    )
    path = str(tmp_path / "bin.dwrf")
    write_arrow_table(path, table, row_index_stride=1_000, stripe_rows=7_000)
    with DwrfFile(path) as f:
        from hive_dwrf_spark.format.reader import _StripeDecoder

        dec = _StripeDecoder(f, f.footer.stripes[0])
        ri = dec.row_index(1)
        assert ri is not None and all(list(e.positions) for e in ri.entry)
        full = f.read()
        for r in (0, 999, 1_000, 3_500, 6_999, 7_000, 8_001, 11_999):
            got = f.read_row(r)
            assert got == {
                c: full.column(c)[r].as_py() for c in full.schema.names
            }, r



def test_nested_and_stride_dict_seek_bounded(tmp_path):
    """Nested (LIST / MAP / STRUCT with nulls at every level) and
    stride-dictionary STRING columns seek too: point lookups decompress a
    bounded slice of the stripe instead of whole-stripe decoding, and
    every looked-up value matches the source (A5 closure — the two
    fallback shapes the round-6 audit flagged)."""
    from hive_dwrf_spark.format import codecs as _codecs

    n = 60_000
    rng = np.random.RandomState(23)

    def maybe(v, p=0.06):
        return None if rng.rand() < p else v

    li = [
        maybe([int(x) for x in rng.randint(0, 1000, rng.randint(0, 5))])
        for _ in range(n)
    ]
    mp = [
        maybe({f"k{j}": int(rng.randint(0, 50)) for j in range(rng.randint(0, 3))})
        for _ in range(n)
    ]
    st = [
        maybe({"q": maybe(float(rng.rand())), "f": maybe(f"s{rng.randint(0, 9)}")})
        for _ in range(n)
    ]
    # stride-dict shape: most values repeat, ~1 in 50 unique
    sd = [
        f"dup{i % 40}" if i % 50 else f"unique-{i}" for i in range(n)
    ]
    table = pa.table(
        {
            "li": pa.array(li, type=pa.list_(pa.int64())),
            "mp": pa.array(mp, type=pa.map_(pa.string(), pa.int64())),
            "st": pa.array(
                st, type=pa.struct([("q", pa.float64()), ("f", pa.string())])
            ),
            "sd": pa.array(sd),
        }
    )
    path = str(tmp_path / "nested_seek.dwrf")
    write_arrow_table(
        path,
        table,
        stripe_rows=n,
        row_index_stride=5_000,
        compression_block_size=4_096,
        stride_dictionaries=True,
        entropy_threshold=0,
    )
    with DwrfFile(path) as f:
        # stride-dict streams really exist (the shape under test)
        from hive_dwrf_spark.format.constants import StreamKind
        from hive_dwrf_spark.format.reader import _StripeDecoder

        dec = _StripeDecoder(f, f.footer.stripes[0])
        sd_tid = f._top_level_id("sd")
        assert dec.has_stream(sd_tid, StreamKind.IN_DICTIONARY)

    counted = {"n": 0}
    orig = _codecs._decompress_block

    def counting(block, kind, *bufsize):
        counted["n"] += 1
        return orig(block, kind, *bufsize)

    _codecs._decompress_block = counting
    try:
        with DwrfFile(path) as f:
            f.read()
        full_blocks = counted["n"]
        counted["n"] = 0
        with DwrfFile(path) as f:
            rows = [3, 17_503, 41_999, 55_555, n - 1]
            got = [f.read_row(r) for r in rows]
        seek_blocks = counted["n"]
    finally:
        _codecs._decompress_block = orig
    for r, g in zip(rows, got):
        assert g == {
            c: table.column(c)[r].as_py() for c in table.schema.names
        }, r
    assert full_blocks > 40, full_blocks
    # 5 point lookups across 4 columns x 12 strides: still a fraction of
    # the stripe's blocks (whole-stripe fallback would match full_blocks
    # per lookup)
    assert seek_blocks * 3 < full_blocks * len(rows), (
        seek_blocks,
        full_blocks,
    )


def test_stride_seek_matches_full_decode_nested(tmp_path):
    """decode_stride_column over every stride reassembles EXACTLY the
    whole-stripe decode for nested and stride-dict columns (value-level
    parity, not just point probes)."""
    from hive_dwrf_spark.format.reader import _StripeDecoder

    n = 7_000
    rng = np.random.RandomState(5)

    def maybe(v, p=0.1):
        return None if rng.rand() < p else v

    table = pa.table(
        {
            "li": pa.array(
                [
                    maybe([int(x) for x in rng.randint(0, 99, rng.randint(0, 4))])
                    for _ in range(n)
                ],
                type=pa.list_(pa.int64()),
            ),
            "st": pa.array(
                [maybe({"a": maybe(int(rng.randint(0, 9))), "b": f"t{rng.randint(0,5)}"})
                 for _ in range(n)],
                type=pa.struct([("a", pa.int64()), ("b", pa.string())]),
            ),
            "sd": pa.array(
                [f"dup{i % 11}" if i % 9 else f"uniq-{i}" for i in range(n)]
            ),
        }
    )
    path = str(tmp_path / "parity.dwrf")
    write_arrow_table(
        path,
        table,
        stripe_rows=n,
        row_index_stride=1_000,
        stride_dictionaries=True,
        entropy_threshold=0,
    )
    with DwrfFile(path) as f:
        full = f.read()
        dec = _StripeDecoder(f, f.footer.stripes[0])
        stride = f.footer.rowIndexStride
        for name in table.schema.names:
            tid = f._top_level_id(name)
            parts = [
                dec.decode_stride_column(tid, s, stride, n)
                for s in range((n + stride - 1) // stride)
            ]
            whole = pa.concat_arrays([p.cast(parts[0].type) for p in parts])
            assert whole.to_pylist() == full.column(name).to_pylist(), name


def _every_kind_table(n: int, stride: int) -> pa.Table:
    """A column of every type kind, NULLs in each. The NULLs sit in the
    even strides only, so the odd strides of a DICTIONARY column are
    NULL-free and decode lazily."""
    rng = np.random.RandomState(11)
    null = [(i // stride) % 2 == 0 and i % 5 == 0 for i in range(n)]

    def col(vals, type_):
        return pa.array([None if m else v for m, v in zip(null, vals)], type=type_)

    def ints(lo, hi):
        return rng.randint(lo, hi, n, dtype=np.int64).tolist()

    secs = ints(-(10**9), 2 * 10**9)
    nanos = ints(0, 10**9)
    return pa.table(
        {
            "bool": col((rng.rand(n) < 0.5).tolist(), pa.bool_()),
            "byte": col(ints(-128, 128), pa.int8()),
            "short_direct": col(ints(-(2**15), 2**15), pa.int16()),
            "short_dict": col(ints(-9, 9), pa.int16()),
            "int_direct": col(ints(-(2**31), 2**31), pa.int32()),
            "int_dict": col(ints(0, 30), pa.int32()),
            "long_direct": col(ints(-(2**62), 2**62), pa.int64()),
            "long_dict": col([v * 10**12 for v in ints(-20, 20)], pa.int64()),
            "float": col(rng.rand(n).astype(np.float32).tolist(), pa.float32()),
            "double": col((rng.rand(n) * 1e6).tolist(), pa.float64()),
            "str_direct": col([f"v{i}-{v}" for i, v in enumerate(ints(0, 10**9))], pa.string()),
            "str_dict": col([f"key{v}" for v in ints(0, 40)], pa.string()),
            "binary": col([bytes(rng.bytes(v)) for v in ints(0, 12)], pa.binary()),
            "ts_us": col([s * 10**6 + ns // 1000 for s, ns in zip(secs, nanos)], pa.timestamp("us")),
            "ts_ns": col([s * 10**9 + ns for s, ns in zip(secs, nanos)], pa.timestamp("ns")),
            "date": col(ints(-(10**5), 10**5), pa.date32()),
            "map": col(
                [
                    [(f"k{j}", None if (i + j) % 4 == 0 else i * j) for j in range(i % 3)]
                    for i in range(n)
                ],
                pa.map_(pa.string(), pa.int64()),
            ),
        }
    )


@pytest.mark.parametrize("compression", ["zlib", "none"])
def test_stride_seek_matches_full_decode_every_kind(tmp_path, compression):
    """decode_stride_column over every stride reassembles exactly the
    whole-stripe decode, and both the source, for a column of every type
    kind (direct and DICTIONARY integers and strings among them): under
    ZLIB with small compression blocks, so windows cross blocks, and
    uncompressed, where a stream offset is one position. A DICTIONARY
    column also decodes lazily: its NULL-free strides come back as
    _DictStride and are compared through to_arrow()."""
    from hive_dwrf_spark.format.constants import ColumnEncodingKind, CompressionKind
    from hive_dwrf_spark.format.reader import _DictStride, _StripeDecoder

    n, stride = 5_000, 1_000
    table = _every_kind_table(n, stride)
    path = str(tmp_path / "kinds.dwrf")
    write_arrow_table(
        path,
        table,
        stripe_rows=n,
        row_index_stride=stride,
        compression=compression,
        compression_block_size=1_024,
        entropy_threshold=0,
    )
    with DwrfFile(path) as f:
        assert (f.compression == CompressionKind.NONE) == (compression == "none")
        full = f.read()
        dec = _StripeDecoder(f, f.footer.stripes[0])
        lazy_strides = 0
        for name in table.schema.names:
            expect = table.column(name).to_pylist()
            assert full.column(name).to_pylist() == expect, name
            tid = f._top_level_id(name)
            is_dict = dec.encodings[tid].kind == int(ColumnEncodingKind.DICTIONARY)
            if name.endswith(("_dict", "_direct")):
                assert is_dict == name.endswith("_dict"), name
            for lazy in (False, True) if is_dict else (False,):
                parts = []
                for s in range(n // stride):
                    part = dec.decode_stride_column(tid, s, stride, n, lazy=lazy)
                    if type(part) is _DictStride:
                        lazy_strides += 1
                        part = part.to_arrow()
                    parts.append(part)
                got = pa.concat_arrays(parts).to_pylist()
                assert got == expect, (name, lazy)
        # the odd strides of the four DICTIONARY columns
        assert lazy_strides == 4 * 2


def test_nullable_stride_dict_seek_and_rebuild_parity(tmp_path):
    """Stride-dictionary column WITH nulls: the PRESENT bitfield shifts
    the side-dict SIZE to a later position index (reference loadIndeces
    order) — both the whole-stripe rebuild and the per-stride seek path
    must locate it and reassemble exactly, under block compression."""
    from hive_dwrf_spark.format.constants import StreamKind
    from hive_dwrf_spark.format.reader import _StripeDecoder

    n = 9_000
    rng = np.random.RandomState(41)
    vals = [
        None if rng.rand() < 0.08
        else (f"dup{i % 13}" if i % 11 else f"uniq-{i}")
        for i in range(n)
    ]
    table = pa.table({"sd": pa.array(vals, type=pa.string())})
    path = str(tmp_path / "sd_null.dwrf")
    write_arrow_table(
        path,
        table,
        stripe_rows=n,
        row_index_stride=1_500,
        stride_dictionaries=True,
        entropy_threshold=0,
        compression_block_size=4_096,
    )
    with DwrfFile(path) as f:
        dec = _StripeDecoder(f, f.footer.stripes[0])
        assert dec.has_stream(1, StreamKind.IN_DICTIONARY)
        assert dec.has_stream(1, StreamKind.PRESENT)
        # positions carry the full layout: size sits at the
        # present-shifted index, not at 0
        sidx = dec._stride_dict_size_index(1)
        assert sidx > 3  # PRESENT (compressed bitfield) precedes
        # whole-stripe rebuild
        assert f.read().column("sd").to_pylist() == vals
        # per-stride seek parity
        stride = f.footer.rowIndexStride
        parts = [
            dec.decode_stride_column(1, s, stride, n)
            for s in range((n + stride - 1) // stride)
        ]
        got = pa.concat_arrays([p.cast(parts[0].type) for p in parts])
        assert got.to_pylist() == vals
        # point lookups across null/dup/unique rows
        for r in (0, 11, 1_499, 1_500, 4_321, n - 1):
            assert f.read_row(r) == {"sd": vals[r]}, r
