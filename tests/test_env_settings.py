"""Integer SPARK_GRAFT_* settings: a malformed or negative value falls back
to the built-in default at every call site (format/env.py::env_int)
instead of raising deep inside a write, a scan or a lookup."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from hive_dwrf_spark.format import DwrfFile, write_arrow_table
from hive_dwrf_spark.format.env import env_int

BAD = ["eight", "1.5", "-3"]


def test_env_int(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_TEST_INT", raising=False)
    assert env_int("SPARK_GRAFT_TEST_INT", 7) == 7
    for raw, want in [("", 7), (" 12 ", 12), ("0", 0)]:
        monkeypatch.setenv("SPARK_GRAFT_TEST_INT", raw)
        assert env_int("SPARK_GRAFT_TEST_INT", 7) == want
    for raw in BAD:
        monkeypatch.setenv("SPARK_GRAFT_TEST_INT", raw)
        with pytest.warns(RuntimeWarning, match="SPARK_GRAFT_TEST_INT"):
            assert env_int("SPARK_GRAFT_TEST_INT", 7) == 7


@pytest.mark.parametrize("raw", BAD)
def test_stride_cache_budget(raw, tmp_path, monkeypatch):
    p = str(tmp_path / "t.dwrf")
    write_arrow_table(p, pa.table({"k": pa.array([1, 2, 3], type=pa.int64())}))
    monkeypatch.setenv("SPARK_GRAFT_STRIDE_CACHE_MB", raw)
    with pytest.warns(RuntimeWarning):
        f = DwrfFile(p)
    with f:
        assert f._stride_budget == 64 << 20
        assert f.read_row(1) == {"k": 2}


@pytest.mark.parametrize("raw", BAD)
def test_encode_threads(raw, monkeypatch):
    from hive_dwrf_spark.format import writer

    monkeypatch.setattr(writer, "_ENCODE_POOL", None)
    monkeypatch.setenv("SPARK_GRAFT_ENCODE_THREADS", raw)
    with pytest.warns(RuntimeWarning):
        pool = writer._encode_pool()
    try:
        assert pool._max_workers == min(8, os.cpu_count() or 4)
    finally:
        pool.shutdown()


@pytest.mark.parametrize("raw", BAD)
def test_compress_threads(raw, monkeypatch):
    from hive_dwrf_spark.format import codecs

    monkeypatch.setattr(codecs, "_COMPRESS_POOL", None)
    monkeypatch.setenv("SPARK_GRAFT_COMPRESS_THREADS", raw)
    with pytest.warns(RuntimeWarning):
        pool = codecs._compress_pool()
    try:
        assert pool._max_workers == min(4, os.cpu_count() or 2)
    finally:
        pool.shutdown()


@pytest.mark.parametrize("raw", BAD)
def test_lookup_max_keys_at_eval(raw, monkeypatch):
    from hive_dwrf_spark.sources.udtf import DwrfLookupUDTF

    class Capped(DwrfLookupUDTF):
        MAX_KEYS = 2

    monkeypatch.setenv("SPARK_GRAFT_LOOKUP_MAX_KEYS", raw)
    with pytest.warns(RuntimeWarning):
        with pytest.raises(ValueError, match=r"serving-path limit \(2\)"):
            list(Capped().eval("/nonexistent", "k", [1, 2, 3]))


@pytest.mark.parametrize("raw", BAD)
def test_lookup_max_keys_at_registration(raw, monkeypatch):
    from types import SimpleNamespace

    from hive_dwrf_spark.sources.udtf import DwrfLookupUDTF, register_udtfs

    registered = {}
    spark = SimpleNamespace(
        udtf=SimpleNamespace(register=lambda name, f: registered.update({name: f}))
    )
    monkeypatch.setenv("SPARK_GRAFT_LOOKUP_MAX_KEYS", raw)
    with pytest.warns(RuntimeWarning):
        register_udtfs(spark)
    assert registered["dwrf_lookup"].func.MAX_KEYS == DwrfLookupUDTF.MAX_KEYS
