"""Stripe-copy merge tests: concat without decode must preserve all rows,
stats, and readability (reference A22 fast-concat parity)."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pytest

from hive_dwrf_spark.format import DwrfFile, write_arrow_table
from hive_dwrf_spark.format.merge import merge_files


def _make(path, start, n, stripe_rows=None):
    table = pa.table(
        {
            "k": pa.array(np.arange(start, start + n)),
            "s": pa.array([f"v{(start + i) % 13}" for i in range(n)]),
        }
    )
    write_arrow_table(str(path), table, stripe_rows=stripe_rows)
    return table


def test_merge_preserves_rows_and_stats(tmp_path):
    _make(tmp_path / "a.dwrf", 0, 4000, stripe_rows=1500)
    _make(tmp_path / "b.dwrf", 4000, 2000)
    out = str(tmp_path / "merged.dwrf")
    merge_files([str(tmp_path / "a.dwrf"), str(tmp_path / "b.dwrf")], out)
    with DwrfFile(out) as f:
        assert f.num_rows == 6000
        assert len(f.footer.stripes) == 4  # 3 + 1, copied verbatim
        got = f.read()
        assert got.column("k").to_pylist() == list(range(6000))
        st = f.file_stats(1)
        assert (st.minimum, st.maximum, st.count) == (0, 5999, 6000)
        assert st.sum == sum(range(6000))


def test_merge_rejects_schema_mismatch(tmp_path):
    _make(tmp_path / "a.dwrf", 0, 10)
    other = pa.table({"different": pa.array([1.5])})
    write_arrow_table(str(tmp_path / "c.dwrf"), other)
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_files(
            [str(tmp_path / "a.dwrf"), str(tmp_path / "c.dwrf")],
            str(tmp_path / "out.dwrf"),
        )


def test_merged_file_prunes(tmp_path):
    _make(tmp_path / "a.dwrf", 0, 3000, stripe_rows=1000)
    _make(tmp_path / "b.dwrf", 3000, 3000, stripe_rows=1000)
    out = str(tmp_path / "merged.dwrf")
    merge_files([str(tmp_path / "a.dwrf"), str(tmp_path / "b.dwrf")], out)
    with DwrfFile(out) as f:
        got = f.read(filters=[("k", "gte", 5000)])
        assert got.num_rows == 1000  # five of six stripes pruned


def test_compact_directory_keeps_orc_members(spark, tmp_path):
    """compact_directory merges every file a read of the directory sees:
    an .orc member counts like a .dwrf one."""
    from hive_dwrf_spark.format.merge import compact_directory
    from hive_dwrf_spark.sources import register

    register(spark)
    d = tmp_path / "mixed"
    d.mkdir()
    _make(d / "a.dwrf", 0, 2)
    _make(d / "b.orc", 2, 3)
    out = str(tmp_path / "out.dwrf")
    compact_directory(str(d), out)
    with DwrfFile(out) as f:
        got = f.read().to_pylist()
    read = spark.read.format("dwrf").load(str(d)).collect()
    assert len(got) == 5
    assert sorted(got, key=lambda r: r["k"]) == sorted(
        (r.asDict() for r in read), key=lambda r: r["k"]
    )


class TestDistributedCompaction:
    """compact_table (operators/layout.py): catalog-only planning, one
    stripe-copy merge per Spark task, value-transparent output."""

    def test_compact_table_report_and_values(self, spark, tmp_path):
        from hive_dwrf_spark.operators.layout import compact_table
        from hive_dwrf_spark.sources import register

        register(spark)
        src, out = str(tmp_path / "src"), str(tmp_path / "out")
        df = spark.sql(
            "SELECT id AS k, concat('v', id % 100) AS v FROM range(40000)"
        )
        df.repartition(8).write.format("dwrf").option(
            "stripe_rows", "1000"
        ).mode("overwrite").save(src)
        report = compact_table(
            spark, src, target_bytes=128 * 1024, out_dir=out
        )
        rep = report.collect()
        assert sum(r.files_in for r in rep) == 8
        assert sum(r.rows for r in rep) == 40000
        assert len(rep) < 8  # actually compacted
        back = spark.read.format("dwrf").load(out)
        assert back.count() == 40000
        assert back.agg({"k": "sum"}).first()[0] == df.agg(
            {"k": "sum"}
        ).first()[0]

    def test_compact_table_empty_dir_raises(self, spark, tmp_path):
        import pytest as _pytest

        from hive_dwrf_spark.operators.layout import compact_table

        d = tmp_path / "empty"
        d.mkdir()
        with _pytest.raises(FileNotFoundError):
            compact_table(spark, str(d), 1024, str(tmp_path / "o"))

    def test_compact_table_preserves_hive_partitions(self, spark, tmp_path):
        """Regression: a cross-partition merge would silently DROP the
        partition column (it lives in the directory name, not the
        footer) — bins must never span key=value subdirectories."""
        from hive_dwrf_spark.operators.layout import compact_table
        from hive_dwrf_spark.sources import register

        register(spark)
        src, out = str(tmp_path / "psrc"), str(tmp_path / "pout")
        df = spark.sql(
            "SELECT id AS k, id % 3 AS b FROM range(9000)"
        )
        # several small files per partition
        df.repartition(4).write.format("dwrf").option(
            "partition_by", "b"
        ).option("stripe_rows", "500").mode("append").save(src)
        report = compact_table(spark, src, 10**9, out_dir=out)
        parts = sorted(r.part for r in report.collect())
        assert parts == ["b=0", "b=1", "b=2"]
        back = spark.read.format("dwrf").load(out)
        assert "b" in back.columns
        assert back.count() == 9000
        assert back.filter("b = 1").count() == 3000

    def test_compact_directory_refuses_partitioned_layout(self, tmp_path):
        """compact_directory must not silently merge across key=value
        subdirectories — the partition value lives in the directory
        name and a cross-partition merge would drop it."""
        import pyarrow as pa
        import pytest as _pytest

        from hive_dwrf_spark.format import write_arrow_table
        from hive_dwrf_spark.format.merge import compact_directory

        d = tmp_path / "ptable"
        for part in ("p=a", "p=b"):
            (d / part).mkdir(parents=True)
            write_arrow_table(
                str(d / part / "f.dwrf"), pa.table({"k": [1, 2, 3]})
            )
        with _pytest.raises(ValueError, match="compact_table"):
            compact_directory(str(d), str(tmp_path / "out.dwrf"))
        # one partition's subdirectory on its own still compacts
        n = compact_directory(str(d / "p=a"), str(tmp_path / "a.dwrf"))
        assert n >= 1

    def test_compact_table_non_local_scheme(self, spark, tmp_path, monkeypatch):
        """A22 at fleet scale is an object-store job: the whole compaction
        — listing, sizing, makedirs, every merge task's reads and writes,
        hive-partition subpaths — must route through the fs seam with no
        bare os IO. PrefixMappedFS serves a mock:// namespace from a local
        root; the factory env propagates into the merge tasks (separate
        Python worker processes), so a task falling back to os paths
        would fail loudly on the URI."""
        import pyarrow as pa

        from hive_dwrf_spark.format import write_arrow_table
        from hive_dwrf_spark.format.fs import _SCHEME_FS
        from hive_dwrf_spark.format.reader import DwrfFile
        from hive_dwrf_spark.operators.layout import compact_table

        root = str(tmp_path / "store")
        monkeypatch.setenv("SPARK_GRAFT_FS_MAPPED_ROOT", root)
        monkeypatch.setenv(
            "SPARK_GRAFT_FS_FACTORIES",
            "mock=hive_dwrf_spark.format.memfs:factory",
        )
        _SCHEME_FS.pop("mock", None)  # force re-resolve with this root
        try:
            # seed a hive-partitioned table THROUGH the seam (write side
            # exercises scheme routing too)
            for part in ("p=a", "p=b"):
                for i in range(3):
                    write_arrow_table(
                        f"mock://bucket/table/{part}/f{i}.dwrf",
                        pa.table(
                            {"k": list(range(i * 100, i * 100 + 100))}
                        ),
                    )
            report = compact_table(
                spark,
                "mock://bucket/table",
                target_bytes=10**9,
                out_dir="mock://bucket/out",
            )
            rep = report.collect()
            assert sorted(r.part for r in rep) == ["p=a", "p=b"]
            assert all(r.out_path.startswith("mock://bucket/out/") for r in rep)
            assert sum(r.files_in for r in rep) == 6
            assert sum(r.rows for r in rep) == 600
            # outputs readable back through the seam, values intact
            total = 0
            for r in rep:
                with DwrfFile(r.out_path) as f:
                    t = f.read()
                    total += sum(t.column("k").to_pylist())
            assert total == 2 * sum(range(300))
        finally:
            _SCHEME_FS.pop("mock", None)


class TestWriteRangeSorted:
    """The wide-write + stripe-concat path behind the point-lookup
    layouts (queries/roundtrip.py::_write_range_sorted): the parts of a
    range-partitioned, sorted frame must concatenate into a globally
    key-sorted file set with no row lost or reordered."""

    def _frame(self, spark, n=5000):
        from pyspark.sql import functions as F

        # non-trivial order: hash-scrambled key so input order != rn order
        return (
            spark.range(n)
            .select(
                F.xxhash64("id").alias("scramble"),
                F.col("id").alias("rn"),
                (F.col("id") * 3).alias("v"),
            )
            .repartition(7, "scramble")
            .drop("scramble")
        )

    def _presorted(self, spark, n=5000):
        return (
            self._frame(spark, n)
            .repartitionByRange(7, "rn")
            .sortWithinPartitions("rn")
        )

    @pytest.mark.parametrize("n_files", [1, 3])
    def test_global_sort_and_row_parity(self, spark, tmp_path, n_files):
        from hive_dwrf_spark.queries.roundtrip import _write_range_sorted
        from hive_dwrf_spark.sources import register

        register(spark)
        out = str(tmp_path / f"rs{n_files}")
        _write_range_sorted(self._presorted(spark), out, "rn", n_files)
        import glob

        files = sorted(glob.glob(out + "/*.dwrf"))
        assert len(files) == n_files
        seen = []
        last = -1
        for fp in files:
            with DwrfFile(fp) as f:
                t = f.read()
            vals = t.column("rn").to_pylist()
            # within-file sorted AND files disjoint in sorted name order
            assert vals == sorted(vals)
            assert vals[0] > last
            assert t.column("v").to_pylist() == [3 * r for r in vals]
            last = vals[-1]
            seen.extend(vals)
        assert seen == list(range(5000))
        assert not os.path.exists(out + "_parts")

    def test_single_file_read_row_seeks(self, spark, tmp_path):
        from hive_dwrf_spark.queries.roundtrip import _write_range_sorted
        from hive_dwrf_spark.sources import register

        register(spark)
        out = str(tmp_path / "rs_seek")
        _write_range_sorted(self._presorted(spark), out, "rn", 1)
        import glob

        (fp,) = glob.glob(out + "/*.dwrf")
        with DwrfFile(fp) as f:
            # file row number == rn across every concatenated stripe
            for r in (0, 1, 999, 2500, 4999):
                row = f.read_row(r)
                assert row["rn"] == r and row["v"] == 3 * r

    def test_presorted_skips_exchange_and_stays_sorted(
        self, spark, tmp_path
    ):
        """A frame that IS range-laid-out is written partition by
        partition as-is and still concatenates to a global sort."""
        from hive_dwrf_spark.queries.roundtrip import _write_range_sorted
        from hive_dwrf_spark.sources import register

        register(spark)
        df = (
            self._frame(spark)
            .repartitionByRange(7, "rn")
            .sortWithinPartitions("rn")
        )
        out = str(tmp_path / "rs_presorted")
        _write_range_sorted(df, out, "rn", 1)
        import glob

        (fp,) = glob.glob(out + "/*.dwrf")
        with DwrfFile(fp) as f:
            assert f.read().column("rn").to_pylist() == list(range(5000))

    def test_presorted_precondition_violation_fails_loudly(
        self, spark, tmp_path
    ):
        """A frame whose partitions overlap on the key (hash layout) must
        raise on the footer-stats disjointness check, not silently
        produce an unsorted file."""
        from hive_dwrf_spark.queries.roundtrip import _write_range_sorted
        from hive_dwrf_spark.sources import register

        register(spark)
        # hash-partitioned: per-part rn ranges all span ~[0, n)
        df = self._frame(spark).repartition(7, "rn")
        out = str(tmp_path / "rs_bad")
        with pytest.raises(AssertionError, match="range parts overlap"):
            _write_range_sorted(df, out, "rn", 1)

    @pytest.mark.parametrize("n_parts", [0, 4])
    def test_empty_frame_writes_one_empty_file(self, spark, tmp_path, n_parts):
        """A frame with no rows, whether Spark writes empty parts (4 range
        partitions) or no part at all (an empty RDD), becomes one zero-row
        file with the frame's schema, which the serving path and the
        DataSource read as empty."""
        from pyspark.sql import functions as F

        from hive_dwrf_spark.format.lookup import lookup_keys
        from hive_dwrf_spark.queries.roundtrip import _write_range_sorted
        from hive_dwrf_spark.sources import register

        register(spark)
        frame = spark.range(0).select(
            F.col("id").alias("rn"), (F.col("id") * 3).alias("v")
        )
        if n_parts:
            frame = frame.repartitionByRange(n_parts, "rn")
        else:
            frame = spark.createDataFrame(
                spark.sparkContext.emptyRDD(), frame.schema
            )
        df = frame.sortWithinPartitions("rn")
        out = str(tmp_path / f"rs_empty{n_parts}")
        _write_range_sorted(df, out, "rn", 4)
        import glob

        (fp,) = glob.glob(out + "/*.dwrf")
        with DwrfFile(fp) as f:
            assert f.num_rows == 0
            assert f.schema.names == ["rn", "v"]
        assert lookup_keys(out, "rn", [0, 1]).num_rows == 0
        back = spark.read.format("dwrf").load(out)
        assert back.columns == ["rn", "v"]
        assert back.count() == 0
        assert not os.path.exists(out + "_parts")

    def test_numbered_lineitem_matches_window_rank(self, spark):
        """The monotonically_increasing_id-derived global rank equals
        row_number() OVER (ORDER BY keys) on the same frame (sf0.001)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from hive_dwrf_spark.queries.roundtrip import (
            _numbered_lineitem,
            _release_pinned,
        )
        from hive_dwrf_spark.tables import load

        sf = "/root/testdata/sf0.001"
        df = _numbered_lineitem(spark, sf)
        got = {
            (r["rn"], r["okey"], r["ln"], r["qty_c"], r["price_c"], r["flag"])
            for r in df.collect()
        }
        _release_pinned(df)
        li = load(spark, sf, "lineitem")
        keys = [
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
            "l_returnflag", "l_partkey", "l_suppkey",
        ]
        w = Window.orderBy(*keys)
        want = {
            tuple(r)
            for r in li.select(
                (F.row_number().over(w) - 1).alias("rn"),
                F.col("l_orderkey").alias("okey"),
                F.col("l_linenumber").alias("ln"),
                F.floor(F.col("l_quantity") * 100 + 0.5)
                .cast("bigint")
                .alias("qty_c"),
                F.floor(F.col("l_extendedprice") * 100 + 0.5)
                .cast("bigint")
                .alias("price_c"),
                F.col("l_returnflag").alias("flag"),
            ).collect()
        }
        assert got == want

    def test_footer_split_bounds_metadata_only(self):
        """Split bounds derive from parquet footer stats alone: sorted,
        inside the key domain, and None on a stats-less request (the
        caller then falls back to the sampling-backed range exchange)."""
        from hive_dwrf_spark.queries.roundtrip import _footer_split_bounds

        sf = "/root/testdata/sf0.001"
        b = _footer_split_bounds(sf, "lineitem", "l_orderkey", 8)
        assert b is not None and b == sorted(set(b))
        assert all(0 <= x <= 1500 for x in b), b
        # unknown column -> fallback, never a wrong bucketing
        assert _footer_split_bounds(sf, "lineitem", "no_such_col", 8) is None
        # degenerate split count -> fallback
        assert _footer_split_bounds(sf, "lineitem", "l_orderkey", 1) is None

    def test_hash_bucket_tokens_identity_placement(self, spark):
        """pmod(hash(token_b), n) == b for every bucket — the property
        that makes repartition(n, token) an order-preserving exchange."""
        from pyspark.sql import functions as F

        from hive_dwrf_spark.queries.roundtrip import _hash_bucket_tokens

        n = 8
        toks = _hash_bucket_tokens(spark, n)
        assert toks is not None and len(toks) == n
        df = spark.createDataFrame(
            [(b, t) for b, t in enumerate(toks)], "b int, t long"
        )
        rows = df.select(
            "b", F.expr(f"pmod(hash(t), {n})").alias("h")
        ).collect()
        assert all(r["b"] == r["h"] for r in rows)
        # memoized per session (engine metadata, not input data)
        assert _hash_bucket_tokens(spark, n) is toks

    def test_numbered_lineitem_has_no_range_sampling_exchange(self, spark):
        """The round-13 shape: a hash exchange on the bucket token —
        NO rangepartitioning in the data path, so the hidden range-
        sampling job (a second scan of the key column; at 100 TB, of
        the corpus) is gone."""
        from hive_dwrf_spark.queries.roundtrip import (
            _numbered_lineitem,
            _release_pinned,
        )

        df = _numbered_lineitem(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        _release_pinned(df)
        assert "rangepartitioning" not in plan.lower(), plan
        assert "hashpartitioning(_tok" in plan, plan

    def test_numbered_lineitem_null_leading_keys(self, spark, tmp_path):
        """NULL l_orderkey rows rank first, as in row_number() OVER
        (ORDER BY keys): the bucket exchange puts them in partition 0."""
        import pyarrow.parquet as pq
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from hive_dwrf_spark.queries.roundtrip import (
            _numbered_lineitem,
            _release_pinned,
        )
        from hive_dwrf_spark.tables import load

        n = 400
        okey = [None if i % 23 == 5 else i // 4 for i in range(n)]
        pq.write_table(
            pa.table(
                {
                    "l_orderkey": pa.array(okey, pa.int64()),
                    "l_partkey": pa.array(np.arange(n) % 37, pa.int64()),
                    "l_suppkey": pa.array(np.arange(n) % 11, pa.int64()),
                    "l_linenumber": pa.array(np.arange(n) % 4 + 1, pa.int32()),
                    "l_quantity": pa.array(np.arange(n) % 50 + 1.0),
                    "l_extendedprice": pa.array(np.arange(n) * 1.25),
                    "l_returnflag": pa.array(["ARN"[i % 3] for i in range(n)]),
                }
            ),
            str(tmp_path / "lineitem.parquet"),
        )
        sf = str(tmp_path)
        df = _numbered_lineitem(spark, sf)
        got = {
            (r["rn"], r["okey"], r["ln"], r["qty_c"], r["price_c"], r["flag"])
            for r in df.collect()
        }
        _release_pinned(df)
        li = load(spark, sf, "lineitem")
        w = Window.orderBy(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
            "l_returnflag", "l_partkey", "l_suppkey",
        )
        want = {
            tuple(r)
            for r in li.select(
                (F.row_number().over(w) - 1).alias("rn"),
                "l_orderkey",
                "l_linenumber",
                F.floor(F.col("l_quantity") * 100 + 0.5).cast("bigint"),
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint"),
                "l_returnflag",
            ).collect()
        }
        assert sum(k is None for k in okey) == 18
        assert got == want
