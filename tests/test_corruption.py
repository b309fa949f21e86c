"""Corruption robustness of the DWRF reader (reference parity: the
corrupt/truncated-stream legs of TestInStream.java and the reader
validation in ReaderImpl.java).

Contract under test: structural damage — truncation anywhere, magic /
postscript / footer / stripe-directory / stripe-footer / ROW_INDEX /
compressed-block-header corruption — must raise DwrfCorruptError (one
typed error, original cause chained) from EVERY read surface, and must
never hang or return fabricated rows.

Documented detection boundary (same as the reference format): streams
carry no per-block checksums, so a bit-flip in raw DATA bytes that still
decodes structurally (an RLE literal value, a character inside a field
name) is undetectable by any reader of this format — those flips are
excluded from the must-raise set and covered by the region-mapped fuzz
below, which asserts that every SURVIVING flip outside data/value bytes
still yields either an identical table or a typed error.
"""

from __future__ import annotations

import contextlib
import gc
import os
import random
import sys
import warnings

import pyarrow as pa
import pytest

from hive_dwrf_spark.format import write_arrow_table
from hive_dwrf_spark.format.reader import DwrfCorruptError, DwrfFile


def _victim(p: str, n: int, **opts):
    """Write a multi-stripe, multi-stride, nested-column file of `n` rows
    to `p`; returns its path, raw bytes, golden decode and regions."""
    t = pa.table(
        {
            "i": pa.array(range(n), type=pa.int64()),
            "s": pa.array([f"str{i % 251}" for i in range(n)]),
            "lst": pa.array(
                [[i % 7, i % 5] for i in range(n)],
                type=pa.list_(pa.int64()),
            ),
        }
    )
    write_arrow_table(p, t, stripe_rows=8_000, row_index_stride=1_000, **opts)
    raw = open(p, "rb").read()
    with DwrfFile(p) as f:
        golden = f.read()
        regions = []
        for si, s in enumerate(f.footer.stripes):
            a = s.offset
            regions.append(("index", a, a + s.indexLength))
            regions.append(
                ("data", a + s.indexLength, a + s.indexLength + s.dataLength)
            )
            regions.append(
                (
                    "sfooter",
                    a + s.indexLength + s.dataLength,
                    a + s.indexLength + s.dataLength + s.footerLength,
                )
            )
        last = f.footer.stripes[-1]
        tail_start = (
            last.offset + last.indexLength + last.dataLength + last.footerLength
        )
        regions.append(("tail", tail_start, len(raw)))
    return p, raw, golden, regions


@pytest.fixture(scope="module")
def victim(tmp_path_factory):
    """A zlib-compressed victim plus its golden decode and raw bytes."""
    return _victim(str(tmp_path_factory.mktemp("corrupt") / "victim.dwrf"), 30_000)


@pytest.fixture(scope="module")
def snappy_victim(tmp_path_factory):
    """A snappy-compressed victim: pyarrow reports a damaged snappy block
    as an OSError, which the codec must type as corruption."""
    p = str(tmp_path_factory.mktemp("corrupt") / "snappy.dwrf")
    return _victim(p, 50_000, compression="snappy")


def _data_flips(regions, n: int, seed: int) -> list[int]:
    """`n` byte offsets spread at random over the data regions."""
    data = [(a, b) for name, a, b in regions if name == "data"]
    picks = random.Random(seed).sample(range(sum(b - a for a, b in data)), n)
    offs = []
    for k in sorted(picks):
        for a, b in data:
            if k < b - a:
                offs.append(a + k)
                break
            k -= b - a
    return offs


def _flip(tmp_path, raw: bytes, off: int, mask: int) -> str:
    b_ = bytearray(raw)
    b_[off] ^= mask
    return _write(tmp_path, bytes(b_))


def _write(tmp_path, data: bytes) -> str:
    p = str(tmp_path / "case.dwrf")
    open(p, "wb").write(data)
    return p


def _region_of(regions, off):
    for name, a, b in regions:
        if a <= off < b:
            return name
    return "header"


class TestTruncation:
    @pytest.mark.parametrize(
        "frac", [0.0, 0.001, 0.1, 0.25, 0.5, 0.75, 0.95, 0.999]
    )
    def test_truncation_everywhere_raises_typed(self, victim, tmp_path, frac):
        _, raw, _, _ = victim
        cut = min(len(raw) - 1, int(len(raw) * frac))
        p = _write(tmp_path, raw[:cut])
        with pytest.raises(DwrfCorruptError):
            with DwrfFile(p) as f:
                f.read()

    def test_one_byte_short_raises(self, victim, tmp_path):
        _, raw, _, _ = victim
        p = _write(tmp_path, raw[:-1])
        with pytest.raises(DwrfCorruptError):
            with DwrfFile(p) as f:
                f.read()

    def test_tiny_and_empty_files(self, tmp_path):
        for blob in (b"", b"O", b"OR", b"ORC"):
            p = _write(tmp_path, blob)
            with pytest.raises(DwrfCorruptError):
                DwrfFile(p)


class TestStructuralDamage:
    def test_bad_magic(self, victim, tmp_path):
        _, raw, _, _ = victim
        p = _write(tmp_path, b"XXX" + raw[3:])
        with pytest.raises(DwrfCorruptError, match="bad magic"):
            DwrfFile(p)

    @pytest.mark.parametrize("ps_len", [0, 1, 200, 255])
    def test_postscript_length_damage(self, victim, tmp_path, ps_len):
        _, raw, _, _ = victim
        p = _write(tmp_path, raw[:-1] + bytes([ps_len]))
        with pytest.raises(DwrfCorruptError):
            DwrfFile(p)

    def test_postscript_byte_flips(self, victim, tmp_path):
        _, raw, _, _ = victim
        ps_len = raw[-1]
        for off in range(len(raw) - 1 - ps_len, len(raw) - 1):
            b = bytearray(raw)
            b[off] ^= 0xFF
            p = _write(tmp_path, bytes(b))
            try:
                with DwrfFile(p) as f:
                    got = f.read()
                    # a flip the postscript decode survives must still
                    # read the true bytes, never fabricate
                    assert got.num_rows == 30_000
            except DwrfCorruptError:
                pass

    def test_footer_region_flips(self, victim, tmp_path):
        """Every byte of the compressed footer+postscript tail flipped:
        each one must either raise DwrfCorruptError or decode to the
        golden STRUCTURE (stripe extents / row counts are
        cross-validated at open; a flip that only renames a field or
        perturbs a stat is beyond any checksum-less format's
        detection)."""
        _, raw, golden, regions = victim
        tail_start = next(a for n, a, b in regions if n == "tail")
        outcomes = {"raised": 0, "survived": 0}
        for off in range(tail_start, len(raw) - 1):
            b = bytearray(raw)
            b[off] ^= 0x40
            p = _write(tmp_path, bytes(b))
            try:
                with DwrfFile(p) as f:
                    got = f.read()
                    assert got.num_rows == golden.num_rows
                    outcomes["survived"] += 1
            except DwrfCorruptError:
                outcomes["raised"] += 1
        # deflate framing + structural validation must catch the bulk
        assert outcomes["raised"] > 0

    def test_stripe_directory_shift_detected(self, victim, tmp_path):
        """Forged footer pointing a stripe out of bounds / overlapping /
        with inconsistent rows must be refused at open (the structural
        cross-validation), not read shifted bytes."""
        import hive_dwrf_spark.format.proto as proto
        from hive_dwrf_spark.format import codecs
        from hive_dwrf_spark.format.constants import CompressionKind

        p0, raw, _, _ = victim
        with DwrfFile(p0) as f:
            footer = f.footer
            comp = f.compression
            block = f.block_size or 256 * 1024
            ps_len = raw[-1]
        for mutate in (
            lambda ft: setattr(ft.stripes[1], "offset", ft.stripes[0].offset),
            lambda ft: setattr(ft.stripes[-1], "dataLength", 10**9),
            lambda ft: setattr(
                ft.stripes[2], "numberOfRows", ft.stripes[2].numberOfRows + 7
            ),
        ):
            with DwrfFile(p0) as f:  # fresh parse to mutate
                ft = f.footer
            mutate(ft)
            enc = codecs.compress_stream(
                proto.encode_message(ft), comp, block
            )
            ps = proto.PostScript(
                footerLength=len(enc), compression=int(comp)
            )
            if comp != CompressionKind.NONE:
                ps.compressionBlockSize = block
            ps_bytes = proto.encode_message(ps)
            body_end = len(raw) - 1 - ps_len - _orig_flen(raw, ps_len)
            blob = raw[:body_end] + enc + ps_bytes + bytes([len(ps_bytes)])
            p = _write(tmp_path, blob)
            with pytest.raises(DwrfCorruptError):
                with DwrfFile(p) as f:
                    f.read()


def _orig_flen(raw: bytes, ps_len: int) -> int:
    import hive_dwrf_spark.format.proto as proto

    ps = proto.decode_message(
        proto.PostScript, memoryview(bytes(raw[-1 - ps_len : -1]))
    )
    return ps.footerLength


class TestRegionFuzz:
    """Bit-flip fuzz mapped to file regions: no flip anywhere may hang,
    leak an untyped exception from a read surface, or (outside raw data
    bytes' documented blind spot) fabricate structure."""

    def test_index_sfooter_flips_raise_or_exact(self, victim, tmp_path):
        _, raw, golden, regions = victim
        random.seed(11)
        offs = []
        for name, a, b in regions:
            if name in ("index", "sfooter"):
                offs.extend(random.sample(range(a, b), min(12, b - a)))
        for off in offs:
            b_ = bytearray(raw)
            b_[off] ^= 0x40
            p = _write(tmp_path, bytes(b_))
            try:
                with DwrfFile(p) as f:
                    got = f.read()
                    # ROW_INDEX flips may survive whole-file reads (the
                    # index only steers seeks); values must be exact
                    assert got.equals(golden)
            except DwrfCorruptError:
                pass

    def test_point_lookup_surfaces_raise_typed(
        self, victim, snappy_victim, tmp_path
    ):
        """read_row / read_rows_at / read_rows on an index-corrupted
        file: typed error or exact values, never fabrication. On a
        snappy file with data flips (values may change, see the data-flip
        test): typed error or every requested row."""
        _, raw, golden, regions = victim
        random.seed(13)
        name, a, b = next(r for r in regions if r[0] == "index")
        for off in random.sample(range(a, b), 10):
            b_ = bytearray(raw)
            b_[off] ^= 0xFF
            p = _write(tmp_path, bytes(b_))
            try:
                with DwrfFile(p) as f:
                    row = f.read_row(4_321)
                    assert row["i"] == 4_321
                    t = f.read_rows_at([7, 8_001, 29_999])
                    assert t.column("i").to_pylist() == [7, 8_001, 29_999]
                    t2 = f.read_rows(8_000, 3)
                    assert t2.column("i").to_pylist() == [8_000, 8_001, 8_002]
            except DwrfCorruptError:
                pass
        _, raw, _, regions = snappy_victim
        ids = [7, 8_001, 20_000, 33_333, 49_999]
        for off in _data_flips(regions, 60, seed=23):
            p = _flip(tmp_path, raw, off, 0x40)
            try:
                with DwrfFile(p) as f:
                    assert f.read_rows_at(ids).num_rows == len(ids)
                    assert len(f.read_row(41_234)) == 3
                    assert f.read_rows(16_000, 3).num_rows == 3
            except DwrfCorruptError:
                pass

    def test_data_flips_never_leak_untyped(self, victim, snappy_victim, tmp_path):
        """Data-region flips: values may change (documented blind spot —
        no checksums in the format), but any structural consequence
        must still surface as DwrfCorruptError, and row COUNT must hold
        for flips that decode. Checked on a zlib and a snappy file."""
        _, raw, golden, regions = victim
        random.seed(17)
        offs = []
        for name, a, b in regions:
            if name == "data":
                offs.extend(random.sample(range(a, b), 10))
        cases = [(raw, golden, off) for off in offs]
        _, raw, golden, regions = snappy_victim
        cases += [(raw, golden, off) for off in _data_flips(regions, 60, seed=17)]
        for raw, golden, off in cases:
            p = _flip(tmp_path, raw, off, 0x40)
            try:
                with DwrfFile(p) as f:
                    got = f.read()
                    assert got.num_rows == golden.num_rows
            except DwrfCorruptError:
                pass

    def test_lookup_keys_on_damaged_directory(
        self, victim, snappy_victim, tmp_path
    ):
        """The multi-file serving surface (lookup_keys): a damaged file
        in the directory raises DwrfCorruptError (or serves exact values
        for flips its decode path never touches); a snappy file with data
        flips raises it or serves a table; contract errors stay
        themselves."""
        from hive_dwrf_spark.format.lookup import lookup_keys

        p, raw, _, regions = victim
        d = tmp_path / "serve"
        d.mkdir()
        (d / "a.dwrf").write_bytes(raw)
        random.seed(19)
        name, a, b = next(r for r in regions if r[0] == "index")
        for off in random.sample(range(a, b), 6):
            b_ = bytearray(raw)
            b_[off] ^= 0xFF
            (d / "b.dwrf").write_bytes(bytes(b_))
            try:
                t = lookup_keys(str(d), "i", [5, 9_000])
                assert sorted(t.column("i").to_pylist()) == [5, 5, 9_000, 9_000]
            except DwrfCorruptError:
                pass
        # truncated member file
        (d / "b.dwrf").write_bytes(raw[: len(raw) // 2])
        with pytest.raises(DwrfCorruptError):
            lookup_keys(str(d), "i", [5])
        # contract error survives the guard
        (d / "b.dwrf").write_bytes(raw)
        with pytest.raises(KeyError):
            lookup_keys(str(d), "nope", [5])
        _, raw, _, regions = snappy_victim
        keys = list(range(0, 50_000, 997))
        for n, off in enumerate(_data_flips(regions, 20, seed=29)):
            d = tmp_path / f"serve_snappy_{n}"  # a new path: no cached handle
            d.mkdir()
            b_ = bytearray(raw)
            b_[off] ^= 0x40
            (d / "a.dwrf").write_bytes(bytes(b_))
            try:
                assert isinstance(lookup_keys(str(d), "i", keys), pa.Table)
            except DwrfCorruptError:
                pass

    def test_contract_errors_stay_contract_errors(self, victim):
        """The guard must not swallow caller mistakes into 'corrupt':
        out-of-range rows stay IndexError, unknown columns stay
        KeyError."""
        p, _, _, _ = victim
        with DwrfFile(p) as f:
            with pytest.raises(IndexError):
                f.read_row(10**9)
            with pytest.raises(IndexError):
                f.read_rows_at([0, 10**9])
            with pytest.raises(KeyError):
                f.read(columns=["nope"])
            with pytest.raises(KeyError):
                f.read_row(0, columns=["nope"])


class TestChecksumScrub:
    """Opt-in per-stripe CRC32s (writer checksums=True) close the
    format's documented blind spot: silent data-byte flips become
    DETECTED by the scrub (DwrfFile.verify / CLI verify), while reads
    stay checksum-free (no per-query tax) and stripe merges preserve
    verifiability."""

    @pytest.fixture(scope="class")
    def checked(self, tmp_path_factory):
        p = str(tmp_path_factory.mktemp("crc") / "checked.dwrf")
        t = pa.table(
            {
                "i": pa.array(range(30_000), type=pa.int64()),
                "s": pa.array([f"str{i % 251}" for i in range(30_000)]),
            }
        )
        write_arrow_table(
            p, t, stripe_rows=8_000, row_index_stride=1_000, checksums=True
        )
        return p, open(p, "rb").read()

    def test_clean_file_verifies(self, checked):
        p, _ = checked
        with DwrfFile(p) as f:
            rep = f.verify()
            assert rep["stripes"] == 4 and rep["bytes"] > 0
            # values unchanged by the option
            assert f.read().column("i").to_pylist()[:3] == [0, 1, 2]

    def test_data_flip_now_detected(self, checked, tmp_path):
        """The exact failure mode the fuzz above documents as silent
        WITHOUT checksums: a data-region bit-flip that still decodes.
        With checksums the scrub catches every one."""
        p, raw = checked
        with DwrfFile(p) as f:
            s = f.footer.stripes[1]
            data_lo = s.offset + s.indexLength
            data_hi = data_lo + s.dataLength
        random.seed(23)
        for off in random.sample(range(data_lo, data_hi), 12):
            b = bytearray(raw)
            b[off] ^= 0x01  # single-BIT damage
            pc = _write(tmp_path, bytes(b))
            with DwrfFile(pc) as f:
                with pytest.raises(DwrfCorruptError, match="stripe 1 data"):
                    f.verify()

    def test_unchecked_file_refuses_to_pretend(self, victim):
        p, _, _, _ = victim
        with DwrfFile(p) as f:
            with pytest.raises(ValueError, match="no checksums"):
                f.verify()

    def test_merge_preserves_scrubability(self, checked, tmp_path):
        """Raw stripe copy keeps per-stripe CRCs valid: a merge of
        checksummed inputs verifies; mixing in an unchecked input drops
        the key instead of mis-indexing stripes."""
        from hive_dwrf_spark.format.merge import merge_files

        p, _ = checked
        p2 = str(tmp_path / "b.dwrf")
        write_arrow_table(
            p2,
            pa.table(
                {
                    "i": pa.array(range(100), type=pa.int64()),
                    "s": pa.array([f"x{i}" for i in range(100)]),
                }
            ),
            row_index_stride=1_000,
            checksums=True,
        )
        out = str(tmp_path / "merged.dwrf")
        merge_files([p, p2], out)
        with DwrfFile(out) as f:
            rep = f.verify()
            assert rep["stripes"] == 5
            assert f.num_rows == 30_100
        # unchecked member poisons: key dropped, verify refuses cleanly
        p3 = str(tmp_path / "c.dwrf")
        write_arrow_table(
            p3,
            pa.table(
                {
                    "i": pa.array([1], type=pa.int64()),
                    "s": pa.array(["y"]),
                }
            ),
            row_index_stride=1_000,
        )
        out2 = str(tmp_path / "merged2.dwrf")
        merge_files([p, p3], out2)
        with DwrfFile(out2) as f:
            with pytest.raises(ValueError, match="no checksums"):
                f.verify()

    def test_cli_verify(self, checked, tmp_path, capsys):
        from hive_dwrf_spark.__main__ import main

        p, raw = checked
        d = tmp_path / "scrub"
        d.mkdir()
        (d / "good.dwrf").write_bytes(raw)
        assert main(["verify", str(d)]) == 0
        out = capsys.readouterr().out
        assert "OK" in out
        b = bytearray(raw)
        b[len(raw) // 2] ^= 0x01
        (d / "bad.dwrf").write_bytes(bytes(b))
        assert main(["verify", str(d)]) == 1
        out = capsys.readouterr().out
        assert "CORRUPT" in out and "bad.dwrf" in out


class TestVerifyOnRead:
    """Opt-in READ-TIME CRC verification (DwrfFile(verify_checksums=True)
    / DataSource option verifyOnRead): a flipped bit fails the SCAN with
    a typed error naming the stripe; zero tax when off or when the file
    carries no checksums."""

    @pytest.fixture(scope="class")
    def checked(self, tmp_path_factory):
        p = str(tmp_path_factory.mktemp("vor") / "checked.dwrf")
        t = pa.table(
            {
                "i": pa.array(range(20_000), type=pa.int64()),
                "s": pa.array([f"str{i % 97}" for i in range(20_000)]),
            }
        )
        write_arrow_table(
            p, t, stripe_rows=5_000, row_index_stride=1_000, checksums=True
        )
        return p, open(p, "rb").read()

    def test_clean_read_is_value_identical(self, checked):
        p, _ = checked
        with DwrfFile(p, verify_checksums=True) as f:
            got = f.read()
        with DwrfFile(p) as f:
            assert got.equals(f.read())

    def test_data_flip_fails_the_scan_typed(self, checked, tmp_path):
        """Single-bit data damage in stripe 2: reading stripes 0-1 still
        works (per-stripe verification), stripe 2's read raises naming
        the stripe BEFORE any decode output escapes. The point reads
        (read_row, read_rows_at, read_rows) check the stripe the same
        way, on every call."""
        p, raw = checked
        with DwrfFile(p) as f:
            s = f.footer.stripes[2]
            off = s.offset + s.indexLength + s.dataLength // 3
        b = bytearray(raw)
        b[off] ^= 0x10
        pc = _write(tmp_path, bytes(b))
        with DwrfFile(pc, verify_checksums=True) as f:
            assert f.read_stripe(0).num_rows == 5_000
            assert f.read_stripe(1).num_rows == 5_000
            with pytest.raises(DwrfCorruptError, match="stripe 2 data"):
                f.read_stripe(2)
        with DwrfFile(pc, verify_checksums=True) as f:
            assert f.read_row(4_321) == {"i": 4_321, "s": f"str{4_321 % 97}"}
            assert f.read_rows_at([7, 9_999]).column("i").to_pylist() == [7, 9_999]
            assert f.read_rows(9_998, 2).column("i").to_pylist() == [9_998, 9_999]
            for _ in range(2):
                with pytest.raises(DwrfCorruptError, match="stripe 2 data"):
                    f.read_row(12_345)
                with pytest.raises(DwrfCorruptError, match="stripe 2 data"):
                    f.read_rows_at([12_345])
                with pytest.raises(DwrfCorruptError, match="stripe 2 data"):
                    f.read_rows(12_345, 3)
                with pytest.raises(DwrfCorruptError, match="stripe 2 data"):
                    f.read_rows(9_999, 2)

    def test_verification_runs_once_per_handle(self, checked):
        """Repeat reads of one stripe CRC-check only on the first touch
        (the scan pattern: one handle, many read_stripe calls; the
        serving pattern: many point reads)."""
        p, _ = checked
        with DwrfFile(p, verify_checksums=True) as f:
            calls = []
            orig = f._crc_check_stripe

            def counting(i, triple):
                calls.append(i)
                return orig(i, triple)

            f._crc_check_stripe = counting
            f.read_stripe(1)
            f.read_stripe(1)
            f.read_stripe(1)
            assert calls == [1]
            for r in (5_000, 7_777, 9_999, 7_777):
                assert f.read_row(r)["i"] == r
            assert calls == [1]
            for r in (15_000, 19_999, 16_001):
                assert f.read_row(r)["i"] == r
            assert calls == [1, 3]

    def test_no_checksums_is_a_noop_not_an_error(self, victim):
        """A file written without checksums reads normally under the
        option — verification quietly has nothing to check (blanket
        SPARK_GRAFT_VERIFY_ON_READ deployments must not break mixed
        tables)."""
        p, _, _, _ = victim
        with DwrfFile(p, verify_checksums=True) as f:
            assert f.read_stripe(0) is not None

    def test_datasource_scan_fails_typed(self, spark, checked, tmp_path):
        """Through Spark: option('verifyOnRead','true') on a scan of a
        damaged checksummed table fails with the CRC message surfaced,
        while the intact table scans clean under the same option."""
        import os
        import shutil

        p, raw = checked
        good_dir = str(tmp_path / "good")
        bad_dir = str(tmp_path / "bad")
        os.makedirs(good_dir)
        os.makedirs(bad_dir)
        shutil.copy(p, os.path.join(good_dir, "a.dwrf"))
        with DwrfFile(p) as f:
            s = f.footer.stripes[0]
            off = s.offset + s.indexLength + s.dataLength // 2
        b = bytearray(raw)
        b[off] ^= 0x01
        open(os.path.join(bad_dir, "a.dwrf"), "wb").write(bytes(b))

        from hive_dwrf_spark.sources import register

        register(spark)
        ok = (
            spark.read.format("dwrf")
            .option("verifyOnRead", "true")
            .load(good_dir)
        )
        assert ok.count() == 20_000
        with pytest.raises(Exception, match="CRC mismatch"):
            spark.read.format("dwrf").option("verifyOnRead", "true").load(
                bad_dir
            ).count()


def _open_fds(root) -> int:
    """/proc/self/fd entries open on files under `root` (sockets and
    pipes of a live Spark session come and go on their own)."""
    n = 0
    for fd in os.listdir("/proc/self/fd"):
        try:
            n += os.readlink(f"/proc/self/fd/{fd}").startswith(str(root))
        except OSError:  # closed since the listing
            pass
    return n


@contextlib.contextmanager
def _no_leaked_file(root, monkeypatch):
    """The block may raise, but must leave no file under `root` open: the
    fd count is unchanged both before and after a gc pass, and no
    ResourceWarning (an error here, so it reaches the unraisable hook
    from a finalizer) fires."""
    unraisable = []
    monkeypatch.setattr(sys, "unraisablehook", unraisable.append)
    gc.collect()
    before = _open_fds(root)
    with warnings.catch_warnings():
        warnings.simplefilter("error", ResourceWarning)
        yield
        assert _open_fds(root) == before
        gc.collect()
    assert _open_fds(root) == before
    assert not unraisable, [u.exc_value for u in unraisable]


@pytest.mark.skipif(
    not os.path.isdir("/proc/self/fd"), reason="needs /proc/self/fd"
)
class TestFailedOpenClosesFile:
    """A failed open closes its file before the error propagates."""

    def test_garbage_file(self, tmp_path, monkeypatch):
        p = _write(tmp_path, b"not a dwrf file at all" * 100)
        with _no_leaked_file(tmp_path, monkeypatch):
            with pytest.raises(DwrfCorruptError, match="bad magic"):
                DwrfFile(p)

    def test_truncated_file(self, victim, tmp_path, monkeypatch):
        _, raw, _, _ = victim
        p = _write(tmp_path, raw[: len(raw) // 2])
        with _no_leaked_file(tmp_path, monkeypatch):
            with pytest.raises(DwrfCorruptError):
                DwrfFile(p)

    def test_lookup_keys_retries_corrupt_member(
        self, victim, tmp_path, monkeypatch
    ):
        """The handle cache caches no failed open, so every call opens
        the corrupt member again; none of those opens may leak."""
        from hive_dwrf_spark.format.lookup import lookup_keys

        _, raw, _, _ = victim
        d = tmp_path / "serve"
        d.mkdir()
        (d / "a.dwrf").write_bytes(raw)
        (d / "b.dwrf").write_bytes(raw[: len(raw) // 2])
        lookup_keys(str(d / "a.dwrf"), "i", [5])  # a.dwrf stays cached
        with _no_leaked_file(tmp_path, monkeypatch):
            for _ in range(2):
                with pytest.raises(DwrfCorruptError):
                    lookup_keys(str(d), "i", [5])


def test_block_header_past_its_stream(tmp_path, monkeypatch):
    """A compressed block header whose length runs past the end of its
    stream fails a point read with one DwrfCorruptError naming the block,
    from read_rows_at and lookup_keys alike: the read stops at the
    stream's end instead of taking the neighbouring stream's bytes, and no
    zlib.error escapes."""
    import zlib

    import numpy as np

    from hive_dwrf_spark.format import codecs
    from hive_dwrf_spark.format.constants import StreamKind
    from hive_dwrf_spark.format.lookup import lookup_keys
    from hive_dwrf_spark.format.reader import _StripeDecoder

    n, stride = 20_000, 1_000
    rng = np.random.default_rng(17)
    d = tmp_path / "serve"
    d.mkdir()
    path = str(d / "t.dwrf")
    write_arrow_table(
        path,
        pa.table(
            {
                "k": pa.array(np.arange(n), type=pa.int64()),
                "v": pa.array(rng.integers(0, 1000, n), type=pa.int64()),
            }
        ),
        row_index_stride=stride,
        compression_block_size=8_192,
    )
    raw = bytearray(open(path, "rb").read())
    with DwrfFile(path) as f:
        stripe = f.footer.stripes[0]
        dec = _StripeDecoder(f, stripe)
        v = f._top_level_id("v")
        off, ln = dec._ranges[(v, int(StreamKind.DATA))]
        blocks = codecs.compressed_block_starts(bytes(dec._raw_slice(off, ln)))
        # the stride whose DATA window starts in the second block
        s = next(
            i for i, e in enumerate(dec.row_index(v).entry)
            if e.positions[0] == blocks[1]
        )
    stream_start = stripe.offset + off
    stream_end = stream_start + ln
    at = stream_start + int(blocks[1])
    past = stream_end - at  # framed length 3 more than the stream holds
    assert int.from_bytes(raw[at : at + 3], "little") & 1 == 0  # compressed
    raw[at : at + 3] = (past << 1).to_bytes(3, "little")
    open(path, "wb").write(bytes(raw))

    reads: list[tuple[int, int]] = []
    read_at = DwrfFile._read_at

    def recording(self, offset, length):
        reads.append((offset, length))
        return read_at(self, offset, length)

    monkeypatch.setattr(DwrfFile, "_read_at", recording)
    row = s * stride + 7
    with DwrfFile(path) as f:
        with pytest.raises(DwrfCorruptError, match="runs past stream") as e:
            f.read_rows_at([row])
        assert not isinstance(e.value.__cause__, zlib.error)
    with pytest.raises(DwrfCorruptError, match="runs past stream"):
        lookup_keys(str(d), "k", [row], columns=["v"])
    # no read that starts in the damaged stream goes past its end
    assert any(stream_start <= offset < stream_end for offset, _ in reads)
    for offset, length in reads:
        if stream_start <= offset < stream_end:
            assert offset + length <= stream_end, (offset, length)
