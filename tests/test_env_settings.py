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


def _plans_locally(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "LocalTableScan" in plan and "ExistingRDD" not in plan


@pytest.mark.parametrize("raw", BAD)
def test_pagerank_local_threshold(raw, spark, monkeypatch):
    from hive_dwrf_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_THRESHOLD", raw)
    with pytest.warns(RuntimeWarning, match="SPARK_GRAFT_CC_LOCAL_THRESHOLD"):
        local = pagerank_fixed_point(edges)
    assert _plans_locally(local)
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_THRESHOLD", "0")
    dist = pagerank_fixed_point(edges)
    assert not _plans_locally(dist)
    assert sorted(local.collect()) == sorted(dist.collect())


@pytest.mark.parametrize("raw", BAD)
def test_connected_components_local_threshold(raw, spark, monkeypatch):
    from hive_dwrf_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id1 long, id2 long")
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_THRESHOLD", raw)
    with pytest.warns(RuntimeWarning, match="SPARK_GRAFT_CC_LOCAL_THRESHOLD"):
        local = connected_components(pairs)
    assert _plans_locally(local)
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_THRESHOLD", "0")
    dist = connected_components(pairs)
    assert not _plans_locally(dist)
    assert sorted(local.collect()) == sorted(dist.collect())


@pytest.mark.parametrize("raw", BAD)
def test_kmeans_local_threshold(raw, spark, monkeypatch):
    from hive_dwrf_spark.operators.similarity import kmeans_lloyd

    df = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 4)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_THRESHOLD", raw)
    with pytest.warns(RuntimeWarning, match="SPARK_GRAFT_CC_LOCAL_THRESHOLD"):
        local = kmeans_lloyd(df, "embedding", "vec_id", k=3)
    assert _plans_locally(local)
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_THRESHOLD", "0")
    dist = kmeans_lloyd(df, "embedding", "vec_id", k=3)
    assert not _plans_locally(dist)
    assert sorted(local.collect()) == sorted(dist.collect())


@pytest.mark.parametrize("raw", BAD)
def test_lsh_bucket_cap(raw, monkeypatch):
    from hive_dwrf_spark.operators.dedup import _resolve_bucket_cap

    monkeypatch.setenv("SPARK_GRAFT_LSH_BUCKET_CAP", raw)
    with pytest.warns(RuntimeWarning, match="SPARK_GRAFT_LSH_BUCKET_CAP"):
        assert _resolve_bucket_cap(None) is None  # the default: uncapped
    assert _resolve_bucket_cap(5) == 5
    for value, want in [("0", None), ("5", 5)]:
        monkeypatch.setenv("SPARK_GRAFT_LSH_BUCKET_CAP", value)
        assert _resolve_bucket_cap(None) == want


@pytest.mark.parametrize("raw", BAD)
def test_broadcast_ids_max(raw, spark, monkeypatch):
    from hive_dwrf_spark.operators.dedup import _maybe_broadcast_ids

    ids = spark.range(10).withColumnRenamed("id", "doc_id")
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_IDS_MAX", raw)
    with pytest.warns(RuntimeWarning, match="SPARK_GRAFT_BROADCAST_IDS_MAX"):
        out = _maybe_broadcast_ids(ids)
    # the 5,000,000-row default broadcasts a 10-row frame
    assert "broadcast" in out._jdf.queryExecution().analyzed().toString()
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_IDS_MAX", "0")
    out = _maybe_broadcast_ids(ids)
    assert "broadcast" not in out._jdf.queryExecution().analyzed().toString()
