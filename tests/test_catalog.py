"""The table catalog (format/plans.py): every data-file listing goes
through one walk and every footer summary through one plan cache, so the
catalog surfaces count what a scan reads and a warm catalog call parses
no footer."""

from __future__ import annotations

import json
import os
from collections import Counter, OrderedDict

import numpy as np
import pyarrow as pa

from hive_dwrf_spark.__main__ import main
from hive_dwrf_spark.format import DwrfFile, lookup, plans, write_arrow_table
from hive_dwrf_spark.format.lookup import lookup_keys
from hive_dwrf_spark.sources.stats import dwrf_path_stats, merged_column_stats


def _write_parts(d: str, n_files: int, rows: int) -> None:
    """`n_files` range-sorted parts of `rows` int64 keys each."""
    os.makedirs(d)
    for i in range(n_files):
        k = np.arange(i * rows, (i + 1) * rows, dtype=np.int64)
        write_arrow_table(os.path.join(d, f"part-{i:03d}.dwrf"), pa.table({"k": k}))


def _spy_opens(monkeypatch, d: str) -> Counter:
    """Counts DwrfFile opens of files under `d`, failed ones too."""
    counts: Counter = Counter()
    orig = DwrfFile.__init__

    def counting(self, path, *a, **kw):
        if str(path).startswith(d):
            counts[path] += 1
        orig(self, path, *a, **kw)

    monkeypatch.setattr(DwrfFile, "__init__", counting)
    return counts


def test_catalog_surfaces_count_what_a_scan_reads(spark, tmp_path, capsys):
    """A batch-written directory plus one file its _SUCCESS manifest does
    not record: the path stats, the dwrf_stats TVF and the stats CLI all
    count the rows a default read returns, and a committedOnly read
    leaves the unrecorded file out."""
    from hive_dwrf_spark.sources import register

    register(spark)
    d = str(tmp_path / "t")
    spark.range(0, 300, 1, 3).withColumnRenamed("id", "k").write.format(
        "dwrf"
    ).mode("append").save(d)
    write_arrow_table(
        os.path.join(d, "stray.dwrf"), pa.table({"k": pa.array([1000, 1001])})
    )
    want = spark.read.format("dwrf").load(d).count()
    assert want == 302
    assert dwrf_path_stats(d)["rows"] == want
    tvf = spark.sql(f"SELECT n FROM dwrf_stats('{d}') WHERE col_name = 'k'")
    assert sum(r.n for r in tvf.collect()) == want
    assert main(["stats", d]) == 0
    assert json.loads(capsys.readouterr().out)["rows"] == want
    committed = spark.read.format("dwrf").option("committedOnly", "true").load(d)
    assert committed.count() == 300


def test_merged_stats_leave_cached_plans_intact(tmp_path, monkeypatch):
    """merged_column_stats merges copies: two calls agree, and a filtered
    scan afterwards prunes the same files as one planned from a fresh
    plan cache (a merge into a cached summary would widen the first
    file's key range and keep it)."""
    from pyspark.sql.datasource import EqualTo

    from hive_dwrf_spark.sources.dwrf_datasource import DwrfDataSource

    d = str(tmp_path / "t")
    _write_parts(d, 3, 100)

    def summary(stats):
        return {n: (s.count, s.minimum, s.maximum, s.sum) for n, s in stats.items()}

    first = summary(merged_column_stats(d))
    assert first == {"k": (300, 0, 299, sum(range(300)))}
    assert summary(merged_column_stats(d)) == first

    def scanned():
        src = DwrfDataSource({"path": d})
        reader = src.reader(src.schema())
        list(reader.pushFilters([EqualTo(("k",), 150)]))
        return [os.path.basename(p.path) for p in reader.partitions()]

    warm = scanned()
    monkeypatch.setattr(plans, "_PLAN_CACHE", OrderedDict())
    assert warm == scanned() == ["part-001.dwrf"]


def test_path_stats_parse_each_footer_once(tmp_path, monkeypatch):
    """Three dwrf_path_stats calls and one merged_column_stats call on an
    unchanged 50-file directory open each file once, to parse its footer
    into the plan cache."""
    d = str(tmp_path / "t")
    _write_parts(d, 50, 20)
    opens = _spy_opens(monkeypatch, d)
    parsed: Counter = Counter()
    real = plans.compute_file_plan

    def counting(path):
        parsed[path] += 1
        return real(path)

    monkeypatch.setattr(plans, "compute_file_plan", counting)
    for _ in range(3):
        assert dwrf_path_stats(d)["rows"] == 1000
    assert merged_column_stats(d)["k"].count == 1000
    assert sum(opens.values()) == 50 and set(opens.values()) == {1}
    assert sum(parsed.values()) == 50


def test_cold_lookup_opens_only_the_key_holder(tmp_path, monkeypatch):
    """A cold lookup of one key over 50 fresh files parses the footers
    without keeping them open and opens one handle, on the file whose
    summary admits the key."""
    monkeypatch.setattr(lookup, "_HANDLES", OrderedDict())
    d = str(tmp_path / "t")
    _write_parts(d, 50, 100)
    opens = _spy_opens(monkeypatch, d)
    trace: dict = {}
    got = lookup_keys(d, "k", [2_345], trace=trace)
    assert got.column("k").to_pylist() == [2_345]
    assert trace["files_opened"] == 1 and trace["files_pruned"] == 49, trace
    (holder,) = lookup._HANDLES
    assert os.path.basename(holder) == "part-023.dwrf"
    # one footer parse per file, plus the key holder's handle
    assert sum(opens.values()) == 51 and opens[holder] == 2
