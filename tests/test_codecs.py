"""Codec unit tests, mirroring the reference's encoding-primitive tests
(TestRunLengthIntegerReader / TestBitFieldReader / TestInStream etc.):
write values, read back, across value distributions and edge cases."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hive_dwrf_spark.format import codecs
from hive_dwrf_spark.format.constants import CompressionKind


def rt_int(values, signed=True):
    arr = np.asarray(values, dtype=np.int64)
    enc = codecs.encode_int_rle(arr, signed=signed)
    dec, pos = codecs.decode_int_rle(np.frombuffer(enc, dtype=np.uint8), len(arr), signed)
    assert pos == len(enc)
    np.testing.assert_array_equal(dec, arr)


class TestVarints:
    def test_roundtrip_edge_values(self):
        vals = np.array(
            [0, 1, 127, 128, 300, 2**32, 2**63 - 1, 2**64 - 1], dtype=np.uint64
        )
        enc, lengths = codecs.encode_varints(vals)
        assert lengths[0] == 1 and lengths[2] == 1 and lengths[3] == 2
        dec, pos = codecs.decode_varints(np.frombuffer(enc, dtype=np.uint8), len(vals))
        assert pos == len(enc)
        np.testing.assert_array_equal(dec, vals)

    @given(st.lists(st.integers(0, 2**64 - 1), max_size=300))
    @settings(max_examples=50, deadline=None)
    def test_roundtrip_random(self, values):
        vals = np.array(values, dtype=np.uint64)
        enc, _ = codecs.encode_varints(vals)
        dec, _ = codecs.decode_varints(np.frombuffer(enc, dtype=np.uint8), len(vals))
        np.testing.assert_array_equal(dec, vals)

    def test_zigzag(self):
        vals = np.array([0, -1, 1, -2, 2, 2**62, -(2**62)], dtype=np.int64)
        np.testing.assert_array_equal(codecs.zigzag_decode(codecs.zigzag_encode(vals)), vals)


class TestIntRle:
    def test_runs(self):
        rt_int([7] * 1000)
        rt_int(list(range(5000)))  # delta=1 run
        rt_int(list(range(0, 50000, 100)))  # delta=100 run

    def test_literals(self):
        rng = np.random.default_rng(42)
        rt_int(rng.integers(-(2**62), 2**62, 5000))

    def test_mixed(self):
        rng = np.random.default_rng(1)
        pieces = []
        for _ in range(20):
            pieces.append(rng.integers(-1000, 1000, rng.integers(1, 50)))
            pieces.append(np.full(rng.integers(1, 400), int(rng.integers(-5, 5))))
            start = int(rng.integers(-100, 100))
            step = int(rng.integers(-128, 128))
            pieces.append(start + step * np.arange(rng.integers(1, 300)))
        rt_int(np.concatenate(pieces))

    def test_unsigned(self):
        rt_int([0, 5, 5, 5, 5, 1, 2, 3, 4, 2**63 - 1], signed=True)
        arr = np.array([0, 1, 2, 2, 2, 2, 10**18], dtype=np.int64)
        rt_int(arr, signed=False)

    def test_delta_boundaries(self):
        rt_int([0, 127, 254, 381, 508])  # delta=127 run
        rt_int([1000, 872, 744, 616])  # delta=-128 run
        rt_int([0, 129, 258])  # delta=129: not a run
        rt_int([])
        rt_int([42])
        rt_int([1, 2])

    @given(
        st.lists(
            st.integers(-(2**63), 2**63 - 1) | st.integers(-10, 10), max_size=500
        )
    )
    @settings(max_examples=60, deadline=None)
    def test_roundtrip_random(self, values):
        rt_int(values)


class TestByteRle:
    def test_basic(self):
        for vals in (
            [5] * 500,
            list(range(256)) * 3,
            [1, 1, 1, 2, 3, 3, 3, 3, 9],
            [],
            [0],
        ):
            arr = np.asarray(vals, dtype=np.uint8)
            enc = codecs.encode_byte_rle(arr)
            dec, pos = codecs.decode_byte_rle(np.frombuffer(enc, dtype=np.uint8), len(arr))
            assert pos == len(enc)
            np.testing.assert_array_equal(dec, arr)

    @given(st.binary(max_size=1000))
    @settings(max_examples=60, deadline=None)
    def test_random(self, data):
        arr = np.frombuffer(data, dtype=np.uint8)
        enc = codecs.encode_byte_rle(arr)
        dec, _ = codecs.decode_byte_rle(np.frombuffer(enc, dtype=np.uint8), len(arr))
        np.testing.assert_array_equal(dec, arr)


class TestBits:
    @given(st.lists(st.booleans(), max_size=2000))
    @settings(max_examples=40, deadline=None)
    def test_roundtrip(self, bits):
        arr = np.asarray(bits, dtype=bool)
        enc = codecs.encode_bits(arr)
        dec, _ = codecs.decode_bits(np.frombuffer(enc, dtype=np.uint8), len(arr))
        np.testing.assert_array_equal(dec, arr)


class TestCompression:
    @pytest.mark.parametrize("kind", [CompressionKind.NONE, CompressionKind.ZLIB])
    def test_roundtrip(self, kind):
        rng = np.random.default_rng(7)
        for payload in (
            b"",
            b"abc" * 100_000,  # compressible, multi-block
            rng.bytes(300_000),  # incompressible -> original blocks
        ):
            enc = codecs.compress_stream(payload, kind, 64 * 1024)
            assert codecs.decompress_stream(enc, kind) == payload

    @pytest.mark.parametrize("size", [1_000, 4_096, 50_000])
    def test_zlib_bufsize_is_only_a_hint(self, size):
        """Readers size zlib's output buffer to the file's block size; a
        block inflating to less, exactly that, or more (a foreign writer's
        oversize block) must decode the same."""
        payload = (b"0123456789abcdef" * (size // 16 + 1))[:size]
        block = codecs._compress_block(payload, CompressionKind.ZLIB, 4)
        assert codecs._decompress_block(block, CompressionKind.ZLIB, 4_096) == payload
        framed = codecs.compress_stream(payload, CompressionKind.ZLIB, 1 << 20)
        assert (
            codecs.decompress_stream(framed, CompressionKind.ZLIB, 4_096) == payload
        )

    def test_incompressible_stored_original(self):
        rng = np.random.default_rng(3)
        payload = rng.bytes(1000)
        enc = codecs.compress_stream(payload, CompressionKind.ZLIB, 64 * 1024)
        header = int.from_bytes(enc[:3], "little")
        assert header & 1 == 1  # original bit
        assert header >> 1 == 1000


class TestLzoCompressor:
    """Vendored pure-Python LZO1X compressor (write-side fallback when
    python-lzo is absent): every emitted stream must decode through the
    vendored decoder, and — when python-lzo IS importable — through the
    real codec too; conversely real-codec streams must decode through the
    vendored decoder (the compressor-produced-stream fuzz leg, covering
    the decoder's match/extension branches with non-hand-rolled input)."""

    @staticmethod
    def _rt(data: bytes) -> bytes:
        from hive_dwrf_spark.format.codecs import (
            _lzo1x_compress_py,
            _lzo1x_decompress_py,
        )

        enc = _lzo1x_compress_py(data)
        assert _lzo1x_decompress_py(enc) == data
        return enc

    def test_edge_sizes(self):
        for data in (b"", b"a", b"ab", b"abc", b"x" * 238, b"x" * 239):
            self._rt(data)

    def test_branch_coverage_by_construction(self):
        import random

        rng = random.Random(42)
        base = bytes(rng.randrange(256) for _ in range(300))
        pat = bytes(rng.randrange(256) for _ in range(50))
        seg = bytes(rng.randrange(256) for _ in range(600))
        cases = {
            "m2_short": b"abcabc",  # M2: len 3, dist 3
            "m2_mid": b"abcdefgh" * 3,  # M2: len 8 window
            "rle_overlap": b"a" * 100_000,  # dist < len overlap copy
            "m3_far": base + b"\x00" * 2_000 + base,  # M3 distance
            "m3_len_ext": pat + pat * 20,  # M3 length > 33 (0-ext)
            "m4_far": base + b"\x00" * 17_000 + base,  # M4 distance
            "m4_high_bit": base + b"\x00" * 40_000 + base,  # M4 dist>32k
            "m4_len_ext": seg + b"\x01" * 17_000 + seg,  # M4 len > 9
            "beyond_window": base + b"\x00" * 60_000 + base,  # literal
            "lit_ext": bytes(rng.randrange(256) for _ in range(5_000)),
        }
        for label, data in cases.items():
            enc = self._rt(data)
            assert enc, label
        # trailing literals 1..3 ride the final match's state bits
        for k in range(4):
            self._rt(b"abcdefgh" * 4 + b"XYZ"[:k])

    def test_seeded_fuzz(self):
        import random

        for trial in range(120):
            r = random.Random(trial)
            parts = []
            for _ in range(r.randrange(1, 12)):
                kind = r.randrange(4)
                if kind == 0:
                    parts.append(
                        bytes(
                            r.randrange(256)
                            for _ in range(r.randrange(0, 400))
                        )
                    )
                elif kind == 1:
                    parts.append(
                        bytes([r.randrange(256)]) * r.randrange(1, 2000)
                    )
                elif kind == 2 and parts:
                    prev = b"".join(parts)
                    st = r.randrange(len(prev)) if prev else 0
                    parts.append(prev[st : st + r.randrange(1, 500)])
                else:
                    parts.append(b"abc" * r.randrange(0, 200))
            self._rt(b"".join(parts))

    def test_lzo_stream_framing_roundtrip(self):
        """compress_stream/decompress_stream with CompressionKind.LZO now
        run in codec-less environments end to end."""
        rng = np.random.default_rng(5)
        for payload in (b"", b"abc" * 100_000, rng.bytes(300_000)):
            enc = codecs.compress_stream(payload, CompressionKind.LZO, 64 * 1024)
            assert codecs.decompress_stream(enc, CompressionKind.LZO) == payload

    def test_real_codec_cross_agreement(self):
        """Both directions against genuine python-lzo: our streams decode
        through the real codec; REAL-compressor streams decode through the
        vendored decoder (randomized — covers M1/M2/M3/M4 and the
        extension/state-carry branches with compressor-produced input,
        not hand-rolled fixtures)."""
        import random

        from hive_dwrf_spark.format import codecs as _codecs

        if not _codecs.lzo_available():
            pytest.skip(
                "python-lzo absent: vendored-vs-vendored covered above"
            )
        for trial in range(60):
            r = random.Random(1000 + trial)
            parts = []
            for _ in range(r.randrange(1, 10)):
                k = r.randrange(3)
                if k == 0:
                    parts.append(
                        bytes(
                            r.randrange(256)
                            for _ in range(r.randrange(0, 600))
                        )
                    )
                elif k == 1:
                    parts.append(
                        bytes([r.randrange(256)]) * r.randrange(1, 3000)
                    )
                else:
                    parts.append(b"lzo1x " * r.randrange(0, 300))
            data = b"".join(parts)
            ours = _codecs._lzo1x_compress_py(data)
            assert (
                _codecs._lzo.decompress(ours, False, max(len(data), 1) * 2 + 64)
                == data
            )
            theirs = _codecs._lzo.compress(data, 1, False)
            assert _codecs._lzo1x_decompress_py(theirs) == data


class TestSnappyFallback:
    """Snappy blocks through the one snappy path (pyarrow's codec, behind
    _compress_block/_decompress_block): every element kind decodes, and
    damage raises ValueError, which the reader's guard types as
    DwrfCorruptError."""

    def test_literal_roundtrip(self):
        from hive_dwrf_spark.format.codecs import _compress_block, _decompress_block
        from hive_dwrf_spark.format.constants import CompressionKind

        for data in [b"", b"x", b"hello world" * 10, bytes(range(256)) * 300]:
            block = _compress_block(data, CompressionKind.SNAPPY, 6)
            assert _decompress_block(block, CompressionKind.SNAPPY) == data

    def test_copy_elements(self):
        from hive_dwrf_spark.format.codecs import _decompress_block
        from hive_dwrf_spark.format.constants import CompressionKind

        # hand-crafted: len=12, literal "abcd", copy1 offset=4 len=8
        # copy1 tag: kind 1, len-4=4 in bits 2-4, offset high bits 5-7 = 0
        stream = bytes([12, (3 << 2), *b"abcd", (1 | (4 << 2)), 4])
        assert _decompress_block(stream, CompressionKind.SNAPPY) == b"abcdabcdabcd"
        # copy2: literal "ab", then offset=2 len=6 (overlapping)
        stream2 = bytes([8, (1 << 2), *b"ab", (2 | (5 << 2)), 2, 0])
        assert _decompress_block(stream2, CompressionKind.SNAPPY) == b"abababab"

    def test_corrupt_raises(self):
        import pytest as _pytest

        from hive_dwrf_spark.format.codecs import _decompress_block
        from hive_dwrf_spark.format.constants import CompressionKind

        for stream in [
            bytes([4, (1 | (4 << 2)), 9]),  # copy offset > output so far
            bytes([0xFF, 0xFF, 0xFF, 0x7F, 0]),  # preamble past any expansion
        ]:
            with _pytest.raises(ValueError, match="corrupt snappy block"):
                _decompress_block(stream, CompressionKind.SNAPPY)

    def test_snappy_file_roundtrip(self, tmp_path):
        import numpy as np
        import pyarrow as pa

        from hive_dwrf_spark.format import DwrfFile, write_arrow_table

        table = pa.table(
            {"k": np.arange(5000, dtype=np.int64), "s": [f"v{i}" for i in range(5000)]}
        )
        path = str(tmp_path / "sn.dwrf")
        write_arrow_table(path, table, compression="snappy")
        with DwrfFile(path) as f:
            got = f.read()
        assert got.column("k").to_pylist() == list(range(5000))
        assert got.column("s").to_pylist()[-1] == "v4999"


class TestNativeDecodeParity:
    """All three RLE decode paths — full native decode, vectorized numpy
    with the native group walk, and pure Python — must produce identical
    values and stream positions on every stream shape."""

    def _cases(self):
        import numpy as np

        rng = np.random.default_rng(7)
        return [
            rng.integers(-(2**40), 2**40, 10_000),  # literal-heavy
            np.repeat(np.arange(500), 20),  # repeat-heavy, delta 0
            np.arange(10_000) // 3,  # short runs
            np.concatenate([np.zeros(5000, np.int64), rng.integers(0, 9, 5000)]),
            rng.integers(0, 2, 1000).cumsum(),  # mixed tiny runs
        ]

    def test_three_paths_agree(self):
        import numpy as np

        from hive_dwrf_spark.format import _native, codecs

        if _native.rle_decode is None:
            import pytest as _pytest

            _pytest.skip("no C compiler available")
        saved_walk, saved_dec = _native.rle_walk, _native.rle_decode
        for vals in self._cases():
            vals = vals.astype(np.int64)
            for signed in (True, False):
                if not signed and vals.min() < 0:
                    continue
                enc = codecs.encode_int_rle(vals, signed=signed)
                buf = np.frombuffer(enc, dtype=np.uint8)
                got_c, pos_c = codecs.decode_int_rle(buf, len(vals), signed)
                try:
                    _native.rle_decode = None
                    got_vec, pos_vec = codecs.decode_int_rle(
                        buf, len(vals), signed
                    )
                    _native.rle_walk = None
                    got_py, pos_py = codecs.decode_int_rle(
                        buf, len(vals), signed
                    )
                finally:
                    _native.rle_walk = saved_walk
                    _native.rle_decode = saved_dec
                np.testing.assert_array_equal(got_c, vals)
                np.testing.assert_array_equal(got_vec, vals)
                np.testing.assert_array_equal(got_py, vals)
                assert pos_c == pos_vec == pos_py == len(enc)

    def test_byte_rle_paths_agree(self):
        import numpy as np

        from hive_dwrf_spark.format import _native, codecs

        if _native.byte_rle_decode is None:
            import pytest as _pytest

            _pytest.skip("no C compiler available")
        rng = np.random.default_rng(11)
        cases = [
            rng.integers(0, 256, 5000),  # literal-heavy
            np.repeat(rng.integers(0, 256, 40), 200),  # long runs
            np.r_[np.zeros(10), rng.integers(0, 2, 500)],  # mixed
        ]
        saved = _native.byte_rle_decode
        for vals in cases:
            vals = vals.astype(np.uint8)
            enc = codecs.encode_byte_rle(vals)
            buf = np.frombuffer(enc, dtype=np.uint8)
            got_c, pos_c = codecs.decode_byte_rle(buf, len(vals))
            try:
                _native.byte_rle_decode = None
                got_py, pos_py = codecs.decode_byte_rle(buf, len(vals))
            finally:
                _native.byte_rle_decode = saved
            np.testing.assert_array_equal(got_c, vals)
            np.testing.assert_array_equal(got_py, vals)
            assert pos_c == pos_py == len(enc)

    def test_random_bytes_never_crash(self):
        """Adversarial input: arbitrary bytes into either RLE decoder must
        raise ValueError or return exactly `count` values — never overrun
        the output buffer or crash (bounds checks in the C paths)."""
        import numpy as np

        from hive_dwrf_spark.format import codecs

        from hive_dwrf_spark.format import _native

        saved = (_native.rle_walk, _native.rle_decode, _native.byte_rle_decode)
        rng = np.random.default_rng(0)
        try:
            for native in (True, False):
                if not native:
                    _native.rle_walk = None
                    _native.rle_decode = None
                    _native.byte_rle_decode = None
                for i in range(400):
                    buf = rng.integers(
                        0, 256, int(rng.integers(1, 200))
                    ).astype(np.uint8)
                    count = int(rng.integers(1, 500))
                    try:
                        vals, _ = codecs.decode_int_rle(
                            buf, count, signed=bool(i % 2)
                        )
                        assert len(vals) == count
                    except ValueError:
                        pass
                    try:
                        v2, _ = codecs.decode_byte_rle(buf, count)
                        assert len(v2) == count
                    except ValueError:
                        pass
        finally:
            _native.rle_walk, _native.rle_decode, _native.byte_rle_decode = saved

    def test_native_truncation_raises(self):
        import numpy as np
        import pytest as _pytest

        from hive_dwrf_spark.format import _native, codecs

        if _native.rle_decode is None:
            _pytest.skip("no C compiler available")
        vals = np.arange(1000, dtype=np.int64)
        enc = codecs.encode_int_rle(vals, signed=True)
        buf = np.frombuffer(enc[: len(enc) // 2], dtype=np.uint8)
        with _pytest.raises(ValueError, match="truncated"):
            codecs.decode_int_rle(buf, len(vals), signed=True)


class TestColumnStatsMerge:
    """Stats merge semantics (TestColumnStatistics.java:38-72 analog):
    stripe stats merge into file stats preserving min/max/sum/counts and
    overflow-safety."""

    def test_int_merge(self):
        import numpy as np

        from hive_dwrf_spark.format.constants import TypeKind
        from hive_dwrf_spark.format.stats import ColumnStats

        a = ColumnStats(TypeKind.LONG)
        a.update_ints(np.array([1, 5, 9], dtype=np.int64))
        b = ColumnStats(TypeKind.LONG)
        b.update_ints(np.array([-3, 2], dtype=np.int64))
        a.merge(b)
        assert (a.minimum, a.maximum, a.sum, a.count) == (-3, 9, 14, 5)

    def test_int_sum_overflow_drops_sum(self):
        import numpy as np

        from hive_dwrf_spark.format.constants import TypeKind
        from hive_dwrf_spark.format.stats import ColumnStats

        big = (1 << 62) + 11
        a = ColumnStats(TypeKind.LONG)
        a.update_ints(np.array([big], dtype=np.int64))
        b = ColumnStats(TypeKind.LONG)
        b.update_ints(np.array([big], dtype=np.int64))
        a.merge(b)
        # reference drops the sum on overflow rather than wrapping
        assert a.sum is None or isinstance(a.sum, int)
        if a.sum is not None:
            assert a.sum == 2 * big  # only if arbitrary precision kept

    def test_string_and_bool_merge(self):
        import numpy as np

        from hive_dwrf_spark.format.constants import TypeKind
        from hive_dwrf_spark.format.stats import ColumnStats

        s1 = ColumnStats(TypeKind.STRING)
        s1.update_strings("apple", "pear", 4)
        s2 = ColumnStats(TypeKind.STRING)
        s2.update_strings("aardvark", "mango", 2)
        s1.merge(s2)
        assert (s1.minimum, s1.maximum, s1.count) == ("aardvark", "pear", 6)

        b1 = ColumnStats(TypeKind.BOOLEAN)
        b1.update_bools(np.array([True, True, False]))
        b2 = ColumnStats(TypeKind.BOOLEAN)
        b2.update_bools(np.array([True]))
        b1.merge(b2)
        assert b1.count == 4 and b1.true_count == 3
