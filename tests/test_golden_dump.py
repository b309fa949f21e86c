"""Golden file-dump test (reference analog: TestFileDump.java:114-259 with
golden outputs orc-file-dump*.out). Pins encoding decisions, stream sizes,
stripe layout, and statistics on a deterministic seeded table
(struct<i:int, l:bigint, s:string>, 21000 rows — the reference's shape)."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pytest

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")

# 85-word vocabulary in the spirit of the reference's TestFileDump word list.
WORDS = [f"w{i:02d}" for i in range(80)] + ["darkness,", "put", "it", "on", "me"]


def _golden_table() -> pa.Table:
    rng = np.random.RandomState(1)
    n = 21_000
    i = rng.randint(-(2**31), 2**31, size=n, dtype=np.int64).astype(np.int32)
    l = rng.randint(-(2**63), 2**63 - 1, size=n, dtype=np.int64)
    s = np.array(WORDS, dtype=object)[rng.randint(0, len(WORDS), size=n)]
    return pa.table({"i": i, "l": l, "s": pa.array(s, type=pa.string())})


def _dictionary_table() -> pa.Table:
    # low-cardinality strings: dictionary encoding must kick in
    rng = np.random.RandomState(2)
    n = 21_000
    i = rng.randint(0, 1000, size=n, dtype=np.int64).astype(np.int32)
    s = np.array(["alpha", "beta", "gamma"], dtype=object)[rng.randint(0, 3, size=n)]
    return pa.table({"i": i, "s": pa.array(s, type=pa.string())})


@pytest.mark.parametrize(
    "name, table_fn, opts",
    [
        (
            "dwrf-file-dump.out",
            _golden_table,
            # the reference golden uses SNAPPY; python-snappy is absent in
            # this environment so the golden is pinned with ZLIB instead
            {"stripe_rows": 5000, "row_index_stride": 1000, "compression": "zlib"},
        ),
        (
            "dwrf-file-dump-dictionary.out",
            _dictionary_table,
            {"stripe_rows": 5000, "row_index_stride": 1000, "compression": "zlib"},
        ),
    ],
)
def test_golden_dump(tmp_path, name, table_fn, opts):
    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.format.dump import dump_file

    path = str(tmp_path / "golden.dwrf")
    write_arrow_table(path, table_fn(), **opts)
    text = dump_file(path).replace(path, "<file>")
    golden_path = os.path.join(GOLDEN_DIR, name)
    if not os.path.exists(golden_path):  # first run: record the golden
        with open(golden_path, "w") as f:
            f.write(text)
        pytest.skip(f"recorded new golden {name}")
    with open(golden_path) as f:
        expected = f.read()
    assert text == expected, f"dump drifted from golden {name}"


def test_dump_reads_no_stripe_data(tmp_path, monkeypatch):
    """The dump lists each stripe's streams and encodings from its
    footer: it reads fewer bytes than the stripes' data regions hold."""
    from hive_dwrf_spark.format import DwrfFile, write_arrow_table
    from hive_dwrf_spark.format.dump import dump_file

    path = str(tmp_path / "golden.dwrf")
    write_arrow_table(
        path, _golden_table(), stripe_rows=5000, row_index_stride=1000, compression="zlib"
    )
    with DwrfFile(path) as f:
        data_bytes = sum(s.dataLength for s in f.footer.stripes)
    read = []
    read_at = DwrfFile._read_at

    def recording(self, offset, length):
        read.append(length)
        return read_at(self, offset, length)

    monkeypatch.setattr(DwrfFile, "_read_at", recording)
    assert "Stream: column 1 DATA" in dump_file(path)
    assert sum(read) < data_bytes, (sum(read), data_bytes)
