"""End-to-end Spark DataSource tests: df.write.format("dwrf") →
spark.read.format("dwrf") round-trips, projection, filter pruning."""

from __future__ import annotations

import os

import pytest

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def dwrf_spark(spark):
    from hive_dwrf_spark.sources import register

    register(spark)
    return spark


def test_write_read_roundtrip(dwrf_spark, tmp_path):
    from hive_dwrf_spark.tables import load

    spark = dwrf_spark
    li = load(spark, SF_SMOKE, "lineitem")
    out = str(tmp_path / "lineitem_dwrf")
    li.write.format("dwrf").option("path", out).mode("append").save()
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    back = spark.read.format("dwrf").load(out)
    assert back.count() == li.count()
    a = sorted(li.collect())
    b = sorted(back.collect())
    assert a == b


def test_multi_partition_write(dwrf_spark, tmp_path):
    spark = dwrf_spark
    df = spark.range(0, 10_000, 1, 4).withColumnRenamed("id", "k")
    out = str(tmp_path / "range_dwrf")
    df.write.format("dwrf").option("path", out).mode("append").save()
    files = [f for f in os.listdir(out) if f.endswith(".dwrf")]
    assert len(files) == 4  # one file per task
    back = spark.read.format("dwrf").load(out)
    assert back.count() == 10_000
    assert back.selectExpr("sum(k) s").collect()[0].s == 49_995_000


def test_projection_option(dwrf_spark, tmp_path):
    from hive_dwrf_spark.tables import load

    spark = dwrf_spark
    p = load(spark, SF_SMOKE, "part")
    out = str(tmp_path / "part_dwrf")
    p.write.format("dwrf").option("path", out).mode("append").save()
    pruned = (
        spark.read.format("dwrf")
        .option("columns", "p_partkey,p_name")
        .load(out)
    )
    assert pruned.columns == ["p_partkey", "p_name"]
    assert pruned.count() == p.count()


def test_filter_pushdown_prunes(dwrf_spark, tmp_path):
    spark = dwrf_spark
    df = spark.range(0, 100_000, 1, 1).withColumnRenamed("id", "k")
    out = str(tmp_path / "pruned_dwrf")
    (
        df.write.format("dwrf")
        .option("path", out)
        .option("stripe_rows", "20000")
        .mode("append")
        .save()
    )
    back = spark.read.format("dwrf").load(out)
    # predicate selecting only the last stripe; correctness via Spark residual
    got = back.filter("k >= 95000").count()
    assert got == 5000
    got2 = back.filter("k = 12345").count()
    assert got2 == 1
    got3 = back.filter("k > 100000000").count()
    assert got3 == 0


def test_nested_roundtrip_via_spark(dwrf_spark, tmp_path):
    spark = dwrf_spark
    df = spark.sql(
        """
        SELECT id,
               named_struct('a', id * 2, 'b', concat('s', id)) AS st,
               array(id, id + 1) AS arr,
               map('k', id) AS m
        FROM range(500)
        """
    )
    out = str(tmp_path / "nested_dwrf")
    df.write.format("dwrf").option("path", out).mode("append").save()
    back = spark.read.format("dwrf").load(out)
    assert back.count() == 500
    row = back.orderBy("id").limit(1).collect()[0]
    assert row.st.a == 0 and row.st.b == "s0"
    assert row.arr == [0, 1] and row.m == {"k": 0}


def test_starts_with_pushdown(dwrf_spark, tmp_path):
    spark = dwrf_spark
    df = spark.sql(
        "SELECT id AS k, concat(CASE WHEN id < 500 THEN 'aaa' ELSE 'zzz' END, id) AS s "
        "FROM range(1000)"
    )
    out = str(tmp_path / "sw_dwrf")
    df.coalesce(1).write.format("dwrf").option("path", out).option(
        "stripe_rows", "500"
    ).mode("append").save()
    back = spark.read.format("dwrf").load(out)
    assert back.filter("s LIKE 'zzz%'").count() == 500
    assert back.filter("s LIKE 'mmm%'").count() == 0
    assert back.filter("startswith(s, 'aaa')").count() == 500


def test_starts_with_stats_match():
    from hive_dwrf_spark.format.reader import _stats_may_match
    from hive_dwrf_spark.format.stats import ColumnStats

    from hive_dwrf_spark.format.constants import TypeKind

    st = ColumnStats(TypeKind.STRING)
    st.count, st.minimum, st.maximum = 10, "apple", "mango"
    assert _stats_may_match(st, "starts_with", "app")
    assert _stats_may_match(st, "starts_with", "ma")
    assert not _stats_may_match(st, "starts_with", "zeb")
    assert _stats_may_match(st, "starts_with", "c")
    # regression: min carrying the prefix but sorting above prefix+U+10FFFF
    # (a stride whose every value matches) must NOT be pruned
    st3 = ColumnStats(TypeKind.STRING)
    st3.count = 10
    st3.minimum = "app\U0010FFFFzzz"
    st3.maximum = "app\U0010FFFFzzz"
    assert _stats_may_match(st3, "starts_with", "app")
    # and a min strictly above the prefix range still prunes
    st4 = ColumnStats(TypeKind.STRING)
    st4.count, st4.minimum, st4.maximum = 10, "apq", "apr"
    assert not _stats_may_match(st4, "starts_with", "app")
    # numeric stats with a string prefix: TypeError -> may match
    st2 = ColumnStats(TypeKind.INT)
    st2.count, st2.minimum, st2.maximum = 10, 1, 5
    assert _stats_may_match(st2, "starts_with", "a")


def test_partitioned_write_read(dwrf_spark, tmp_path):
    from pyspark.sql import functions as F

    spark = dwrf_spark
    df = spark.sql(
        "SELECT id AS k, id % 3 AS bucket, "
        "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS parity "
        "FROM range(3000)"
    )
    out = str(tmp_path / "part_dwrf")
    (
        df.repartition("bucket")
        .write.format("dwrf")
        .option("path", out)
        .option("partition_by", "bucket,parity")
        .mode("append")
        .save()
    )
    # hive-style layout on disk
    assert os.path.isdir(os.path.join(out, "bucket=0", "parity=even"))
    back = spark.read.format("dwrf").load(out)
    assert set(back.columns) == {"k", "bucket", "parity"}
    assert back.count() == 3000
    assert dict(back.dtypes)["bucket"] == "bigint"
    assert dict(back.dtypes)["parity"] == "string"
    # values reconstructed from directories match the original data
    got = back.filter("bucket = 1 AND parity = 'odd'").agg(
        F.sum("k").alias("s"), F.count("*").alias("c")
    ).collect()[0]
    exp = df.filter("bucket = 1 AND parity = 'odd'").agg(
        F.sum("k").alias("s"), F.count("*").alias("c")
    ).collect()[0]
    assert (got.s, got.c) == (exp.s, exp.c)
    # regression: a columns option interleaving partition and data columns
    # must bind values to the declared schema order, not append partition
    # columns last (Spark binds arrow batches positionally)
    mixed = (
        spark.read.format("dwrf")
        .option("columns", "parity,k,bucket")
        .load(out)
    )
    assert mixed.columns == ["parity", "k", "bucket"]
    r = mixed.filter("k = 7").collect()[0]
    assert (r.parity, r.k, r.bucket) == ("odd", 7, 1)


def test_partition_pruning(dwrf_spark, tmp_path):
    from hive_dwrf_spark.sources.dwrf_datasource import DwrfDataSource

    spark = dwrf_spark
    df = spark.sql("SELECT id AS k, id % 4 AS b FROM range(4000)")
    out = str(tmp_path / "prune_dwrf")
    df.coalesce(1).write.format("dwrf").option("path", out).option(
        "partition_by", "b"
    ).mode("append").save()
    # pruning: only one of four directories should survive planning
    src = DwrfDataSource({"path": out})
    schema = src.schema()
    reader = src.reader(schema)
    from pyspark.sql.datasource import EqualTo

    list(reader.pushFilters([EqualTo(("b",), 2)]))
    parts = reader.partitions()
    assert all("b=2" in p.path for p in parts)
    # and the query still answers correctly through Spark
    back = spark.read.format("dwrf").load(out)
    assert back.filter("b = 2").count() == 1000


def test_overwrite_removes_orc_members(dwrf_spark, tmp_path):
    """An overwrite replaces every data file a read of the directory sees,
    .orc members included."""
    import pyarrow as pa

    from hive_dwrf_spark.format import write_arrow_table

    d = str(tmp_path / "t")
    os.makedirs(d)
    write_arrow_table(
        os.path.join(d, "old.orc"),
        pa.table({"id": pa.array([100, 101, 102], type=pa.int64())}),
    )
    dwrf_spark.range(5).write.format("dwrf").mode("overwrite").save(d)
    assert dwrf_spark.read.format("dwrf").load(d).count() == 5
    assert not os.path.exists(os.path.join(d, "old.orc"))


def test_success_records_each_files_rows(dwrf_spark, tmp_path):
    """Each _SUCCESS line of a partitioned write records its own file's
    footer row count, not the total of the task that wrote it."""
    from hive_dwrf_spark.format import DwrfFile

    d = str(tmp_path / "p")
    df = dwrf_spark.sql("SELECT id AS k, id % 2 AS b FROM range(10)")
    df.coalesce(1).write.format("dwrf").option("partition_by", "b").mode(
        "append"
    ).save(d)
    with open(os.path.join(d, "_SUCCESS")) as fh:
        lines = [ln.rstrip("\n").split("\t") for ln in fh if ln.strip()]
    assert len(lines) == 2
    for rel, rows in lines:
        with DwrfFile(os.path.join(d, rel)) as f:
            assert int(rows) == f.num_rows == 5


def test_stride_dictionaries_option_roundtrip(dwrf_spark, tmp_path):
    """A14 through the Spark datasource: unique-heavy strings round-trip
    with stride dictionaries enabled and the stripe dictionary shrinks."""
    spark = dwrf_spark
    df = spark.sql(
        "SELECT id AS k, "
        "CASE WHEN id % 5 = 0 THEN concat('unique_', id) "
        "     ELSE concat('common_', id % 10) END AS s "
        "FROM range(20000)"
    )
    out = str(tmp_path / "sd_dwrf")
    (
        df.coalesce(1)
        .write.format("dwrf")
        .option("path", out)
        .option("stride_dictionaries", "true")
        .option("row_index_stride", "1000")
        .mode("append")
        .save()
    )
    back = spark.read.format("dwrf").load(out)
    assert back.count() == 20000
    got = back.filter("k % 5 = 0").selectExpr("sum(CAST(substr(s, 8) AS BIGINT))").collect()[0][0]
    exp = df.filter("k % 5 = 0").selectExpr("sum(k)").collect()[0][0]
    assert got == exp


class TestMergeSchema:
    """Schema evolution across files (mergeSchema option): union-by-name,
    null-fill for columns a file predates, type conflicts rejected."""

    def test_union_and_null_fill(self, spark, tmp_path):
        import pyarrow as pa

        from hive_dwrf_spark.format import write_arrow_table
        from hive_dwrf_spark.sources import register

        register(spark)
        d = str(tmp_path / "evolved")
        import os

        os.makedirs(d)
        write_arrow_table(
            f"{d}/old.dwrf",
            pa.table({"a": pa.array([1, 2], pa.int64())}),
        )
        write_arrow_table(
            f"{d}/new.dwrf",
            pa.table(
                {
                    "a": pa.array([3], pa.int64()),
                    "b": pa.array(["x"], pa.string()),
                }
            ),
        )
        df = (
            spark.read.format("dwrf")
            .option("mergeSchema", "true")
            .load(d)
        )
        assert set(df.columns) == {"a", "b"}
        rows = {(r.a, r.b) for r in df.collect()}
        assert rows == {(1, None), (2, None), (3, "x")}
        # filter on the evolved column: files lacking it can't prune it away
        assert df.filter(df.b == "x").count() == 1
        # projection of only the evolved column still reads the old file
        assert df.select("b").count() == 3
        # without the option, first footer wins (alphabetical listing: new)
        plain = spark.read.format("dwrf").load(d)
        assert set(plain.columns) == {"a", "b"}

    def test_type_conflict_rejected(self, spark, tmp_path):
        import pyarrow as pa

        from hive_dwrf_spark.format import write_arrow_table
        from hive_dwrf_spark.sources import register

        register(spark)
        d = str(tmp_path / "conflict")
        import os

        os.makedirs(d)
        write_arrow_table(f"{d}/f1.dwrf", pa.table({"a": pa.array([1], pa.int64())}))
        write_arrow_table(f"{d}/f2.dwrf", pa.table({"a": pa.array(["s"], pa.string())}))
        import pytest as _pytest

        with _pytest.raises(Exception, match="type conflict|PYTHON_DATA_SOURCE"):
            (
                spark.read.format("dwrf")
                .option("mergeSchema", "true")
                .load(d)
                .collect()
            )


def test_mixed_compression_directory(dwrf_spark, tmp_path):
    """Compression is a per-file property (each postscript declares its
    own kind): one directory holding a zlib file and a snappy file must
    read as a single table."""
    import pyarrow as pa

    from hive_dwrf_spark.format import write_arrow_table

    d = tmp_path / "mixed"
    d.mkdir()
    t1 = pa.table({"k": list(range(100)), "s": [f"a{i}" for i in range(100)]})
    t2 = pa.table(
        {"k": list(range(100, 200)), "s": [f"b{i}" for i in range(100)]}
    )
    write_arrow_table(str(d / "p1.dwrf"), t1, compression="zlib")
    write_arrow_table(str(d / "p2.dwrf"), t2, compression="snappy")
    rows = dwrf_spark.read.format("dwrf").load(str(d)).orderBy("k").collect()
    assert len(rows) == 200
    assert rows[0].k == 0 and rows[0].s == "a0"
    assert rows[199].k == 199 and rows[199].s == "b99"


def test_split_packing_bins_small_stripes(dwrf_spark, tmp_path):
    """Split planning packs consecutive small stripes into one task up to
    maxSplitBytes (Spark's file-split policy), instead of one task per
    stripe — the difference between 32 tasks and 3 million on a 100 TB
    table of small-stripe files. Values survive packing bit-for-bit."""
    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.format.reader import DwrfFile

    import pyarrow as pa

    spark = dwrf_spark
    tbl = pa.table({"k": list(range(50_000)), "v": [i * 3 for i in range(50_000)]})
    path = str(tmp_path / "many_stripes.dwrf")
    write_arrow_table(path, tbl, stripe_rows=2_000)  # 25 tiny stripes
    with DwrfFile(path) as f:
        n_stripes = len(f.footer.stripes)
    assert n_stripes >= 20

    # huge budget -> everything packs into one split
    one = (
        spark.read.format("dwrf")
        .option("maxSplitBytes", str(1 << 30))
        .load(path)
    )
    assert one.rdd.getNumPartitions() == 1
    # tiny budget -> one split per stripe
    many = (
        spark.read.format("dwrf")
        .option("maxSplitBytes", "1")
        .load(path)
    )
    assert many.rdd.getNumPartitions() == n_stripes
    # default: Spark-style formula lands in between, and data is intact
    dflt = spark.read.format("dwrf").load(path)
    got = dflt.selectExpr("count(*) c", "sum(k) sk", "sum(v) sv").collect()[0]
    assert (got.c, got.sk, got.sv) == (50_000, 1249975000, 3749925000)
    assert 1 <= dflt.rdd.getNumPartitions() <= n_stripes


def test_dictionary_membership_prunes_stripe(tmp_path):
    """Fourth pruning tier: an eq filter whose value sorts INSIDE a
    stripe's min/max range (so stats cannot prune) but is absent from the
    stripe's string dictionary must skip the stripe without decoding its
    data streams; a present value still decodes."""
    import pyarrow as pa

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.format.reader import DwrfFile

    # low-cardinality column -> dictionary encoding; 'mm' sorts between
    # 'aa' and 'zz' so min/max passes but the dictionary disproves it
    vals = (["aa", "zz"] * 500)
    tbl = pa.table({"k": list(range(1000)), "c": vals})
    path = str(tmp_path / "dictprune.dwrf")
    write_arrow_table(path, tbl)
    with DwrfFile(path) as f:
        assert f.read_stripe(0, filters=[("c", "eq", "mm")]) is None
        got = f.read_stripe(0, filters=[("c", "eq", "zz")])
        assert got is not None and got.num_rows == 1000  # residual in Spark
        # whole-file read with the disproved filter: zero rows, zero decode
        assert f.read(filters=[("c", "eq", "mm")]).num_rows == 0


def test_footer_plan_cache_and_parallel_planning(tmp_path, monkeypatch):
    """Planning over a many-file directory: footer summaries come from the
    thread-pool-filled cache; a second planning pass re-parses NOTHING
    (proven by making the parser explode after warm-up), and pruning +
    splits are identical from cached plans."""
    import time

    import pyarrow as pa

    from hive_dwrf_spark.format import plans, write_arrow_table
    from hive_dwrf_spark.sources.dwrf_datasource import DwrfDataSource

    n_files = 120
    for i in range(n_files):
        tbl = pa.table({"k": [i * 10 + j for j in range(10)]})
        write_arrow_table(str(tmp_path / f"part-{i:04d}.dwrf"), tbl)

    def reader_for(path):
        src = DwrfDataSource({"path": path})
        return src.reader(src.schema())

    t0 = time.perf_counter()
    parts_cold = reader_for(str(tmp_path)).partitions()
    cold = time.perf_counter() - t0
    assert len(parts_cold) == n_files
    # a 1000-file table must plan in O(seconds): 120 files well under 5s
    assert cold < 5.0, f"cold planning took {cold:.2f}s for {n_files} files"

    # warm pass: poison the parser — every summary must come from cache
    def boom(path):
        raise AssertionError(f"footer re-parsed for {path}")

    monkeypatch.setattr(plans, "compute_file_plan", boom)
    parts_warm = reader_for(str(tmp_path)).partitions()
    assert [(p.path, p.stripe_indices) for p in parts_warm] == [
        (p.path, p.stripe_indices) for p in parts_cold
    ]

    # footer-stats pruning still works from cached plans: k is 0..1199,
    # a filter above the global max prunes every file
    monkeypatch.undo()
    src = DwrfDataSource({"path": str(tmp_path)})
    r = src.reader(src.schema())
    list(r.pushFilters([__import__("pyspark").sql.datasource.GreaterThan(("k",), 10_000_000)]))
    pruned = r.partitions()
    assert len(pruned) == 1 and pruned[0].path == ""  # empty sentinel


_MOCK_DS_SCRIPT = """
import os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master('local[4]')
         .config('spark.ui.enabled', 'false')
         .config('spark.sql.shuffle.partitions', '4').getOrCreate())
spark.sparkContext.setLogLevel('ERROR')
from hive_dwrf_spark.sources import register
register(spark)
df = spark.range(1000).selectExpr('id AS k', 'id % 7 AS b')
uri = 'mock://bucket/ds_table'
df.repartition(2).write.format('dwrf').mode('overwrite').save(uri)
back = spark.read.format('dwrf').load(uri)
assert back.count() == 1000
assert back.agg({{'k': 'sum'}}).first()[0] == 999 * 1000 // 2
assert back.filter('b = 3').count() == df.filter('b = 3').count()
# overwrite replaces: old part files removed through the seam
spark.range(10).selectExpr('id AS k', 'id AS b').write.format(
    'dwrf').mode('overwrite').save(uri)
assert spark.read.format('dwrf').load(uri).count() == 10
root = os.environ['SPARK_GRAFT_FS_MAPPED_ROOT']
local = os.path.join(root, 'bucket/ds_table')
assert os.path.exists(os.path.join(local, '_SUCCESS'))
parts = [f for f in os.listdir(local) if f.endswith('.dwrf')]
assert len(parts) >= 1
print('MOCK-DS-OK')
"""


def test_datasource_scan_and_write_non_local_scheme(tmp_path):
    """The FULL DataFrame surface against an object-store scheme: a
    plain spark.read/write.format('dwrf') round-trip over mock:// URIs,
    including overwrite cleanup and _SUCCESS — run in a subprocess with
    SPARK_GRAFT_FS_FACTORIES set BEFORE the JVM starts, which is the
    deployment contract (Python DataSource plan/task workers inherit the
    JVM's environment, frozen at start; on a cluster this is
    spark.executorEnv.* + the driver env)."""
    import os as _os
    import subprocess
    import sys as _sys

    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    env = dict(_os.environ)
    env["SPARK_GRAFT_FS_MAPPED_ROOT"] = str(tmp_path / "store")
    env["SPARK_GRAFT_FS_FACTORIES"] = (
        "mock=hive_dwrf_spark.format.memfs:factory"
    )
    out = subprocess.run(
        [_sys.executable, "-c", _MOCK_DS_SCRIPT.format(repo=repo)],
        env=env,
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "MOCK-DS-OK" in out.stdout


def test_fs_seam_routes_reads(tmp_path):
    """Every reader open goes through the injectable filesystem: a
    counting wrapper sees the opens, and reads still decode correctly."""
    import pyarrow as pa

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.format.fs import LocalFileSystem, get_fs, set_fs
    from hive_dwrf_spark.format.reader import DwrfFile

    path = str(tmp_path / "seam.dwrf")
    write_arrow_table(path, pa.table({"k": list(range(100))}))

    class CountingFS(LocalFileSystem):
        def __init__(self):
            self.opens = 0

        def open(self, p, mode="rb"):
            self.opens += 1
            return super().open(p, mode)

    prev = get_fs()
    fs = CountingFS()
    set_fs(fs)
    try:
        with DwrfFile(path) as f:
            assert f.read().column("k").to_pylist() == list(range(100))
        assert fs.opens >= 1
        # write path routes through the seam too
        out = str(tmp_path / "seam2.dwrf")
        write_arrow_table(out, pa.table({"k": [1, 2, 3]}))
        assert fs.opens >= 2
        with DwrfFile(out) as f:
            assert f.read().num_rows == 3
    finally:
        set_fs(prev)


def test_broadcast_if_small_fixes_dwrf_join_strategy(dwrf_spark, tmp_path):
    """The Python DataSource API has no statistics hook, so a DWRF-backed
    dimension table plans with defaultSizeInBytes (Long.Max) and its
    joins sort-merge no matter how tiny it is. broadcast_if_small reads
    the footer raw size (zero data bytes) and applies the hint exactly
    when the session's own autoBroadcastJoinThreshold would have — and
    refuses when the table is over threshold or broadcast is disabled."""
    from pyspark.sql import functions as F

    from hive_dwrf_spark.sources import broadcast_if_small, dwrf_path_stats
    from hive_dwrf_spark.tables import load

    spark = dwrf_spark
    dim_path = str(tmp_path / "nation_dwrf")
    fact_path = str(tmp_path / "customer_dwrf")
    load(spark, SF_SMOKE, "nation").write.format("dwrf").option(
        "path", dim_path
    ).mode("append").save()
    load(spark, SF_SMOKE, "customer").write.format("dwrf").option(
        "path", fact_path
    ).mode("append").save()

    st = dwrf_path_stats(dim_path)
    assert st["files"] >= 1 and st["rows"] == 25
    assert 0 < st["raw_bytes"]

    dim = spark.read.format("dwrf").load(dim_path)
    fact = spark.read.format("dwrf").load(fact_path)

    def initial_plan(d):
        # the pre-AQE strategy choice IS the statistics decision under
        # test (AQE may later rescue a sort-merge from observed shuffle
        # sizes, but only after both sides already shuffled)
        return d._jdf.queryExecution().sparkPlan().toString()

    # without the hint both Python-source sides report Long.Max: Catalyst
    # can't broadcast either and sort-merges (the gap this helper closes)
    base = fact.join(dim, fact.c_nationkey == dim.n_nationkey).groupBy(
        "n_name"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    assert "SortMergeJoin" in initial_plan(base)

    hinted = fact.join(
        broadcast_if_small(dim, dim_path),
        fact.c_nationkey == dim.n_nationkey,
    ).groupBy("n_name").agg(F.count(F.lit(1)).alias("cnt"))
    hplan = initial_plan(hinted)
    assert "BroadcastHashJoin" in hplan and "BuildRight" in hplan
    # hint changes strategy, never results
    assert sorted(map(tuple, hinted.collect())) == sorted(
        map(tuple, base.collect())
    )

    # over-threshold and disabled-broadcast cases must NOT hint
    assert "SortMergeJoin" in initial_plan(
        fact.join(
            broadcast_if_small(dim, dim_path, threshold_bytes=10),
            fact.c_nationkey == dim.n_nationkey,
        )
    )
    assert "SortMergeJoin" in initial_plan(
        fact.join(
            broadcast_if_small(dim, dim_path, threshold_bytes=-1),
            fact.c_nationkey == dim.n_nationkey,
        )
    )


def test_broadcast_refuses_without_raw_size(dwrf_spark, tmp_path):
    """A footer with no rawDataSize (foreign writer) must NOT fall back
    to compressed file size — that would reinstate the compressed-vs-
    logical underestimate and could pin a logically huge table onto
    every executor. The helper refuses to hint instead."""
    import shutil

    from hive_dwrf_spark.sources import broadcast_if_small, dwrf_path_stats

    d = str(tmp_path / "foreign")
    os.makedirs(d)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copy(
        os.path.join(repo, "tests", "golden", "foreign_lzo.dwrf"),
        os.path.join(d, "part-0.dwrf"),
    )
    st = dwrf_path_stats(d)
    assert st["rows"] > 0 and st["raw_bytes"] == 0
    df = dwrf_spark.read.format("dwrf").load(d)
    assert broadcast_if_small(df, d) is df  # unchanged: no hint applied


def test_parse_byte_conf_units():
    from hive_dwrf_spark.sources.stats import _parse_byte_conf

    assert _parse_byte_conf("10485760") == 10 << 20
    assert _parse_byte_conf("10485760b") == 10 << 20
    assert _parse_byte_conf("10MB") == 10 << 20
    assert _parse_byte_conf("10m") == 10 << 20
    assert _parse_byte_conf("1g") == 1 << 30
    assert _parse_byte_conf("-1") == -1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _parse_byte_conf("ten megabytes")


def test_dwrf_path_stats_partitioned_dir(dwrf_spark, tmp_path):
    """Footer statistics aggregate across hive-partitioned subdirectories
    (the layout a real dim table has), so broadcast_if_small sizes the
    WHOLE table, not one leaf."""
    from hive_dwrf_spark.sources import dwrf_path_stats
    from hive_dwrf_spark.tables import load

    spark = dwrf_spark
    path = str(tmp_path / "nation_part")
    load(spark, SF_SMOKE, "nation").write.format("dwrf").option(
        "path", path
    ).option("partition_by", "n_regionkey").mode("append").save()
    import os as _os

    subdirs = [d for d in _os.listdir(path) if d.startswith("n_regionkey=")]
    assert len(subdirs) == 5
    st = dwrf_path_stats(path)
    assert st["rows"] == 25 and st["files"] >= 5
    assert st["raw_bytes"] > 0 and st["file_bytes"] > 0


def test_in_filter_prunes_files_and_partitions(dwrf_spark, tmp_path):
    """IN-list pruning end-to-end: pyspark's In dataclass carries its
    tuple in `.value` (not `.values`) — reading the wrong field silently
    disabled every IN prune. Covers both the footer-stats file prune and
    the hive-partition directory prune."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import In

    from hive_dwrf_spark.sources.dwrf_datasource import DwrfDataSource

    spark = dwrf_spark
    # two files with disjoint key ranges
    flat = str(tmp_path / "in_flat")
    df = spark.sql("SELECT id AS k, id % 3 AS b FROM range(2000)")
    df.repartitionByRange(2, "k").sortWithinPartitions("k").write.format(
        "dwrf"
    ).mode("overwrite").save(flat)
    src = DwrfDataSource({"path": flat})
    r = src.reader(src.schema())
    list(r.pushFilters([In(("k",), (1, 5, 9))]))
    parts = r.partitions()
    assert len(parts) == 1, [p.path for p in parts]
    # hive-partitioned directories
    part = str(tmp_path / "in_part")
    df.coalesce(1).write.format("dwrf").option("partition_by", "b").mode(
        "append"
    ).save(part)
    src2 = DwrfDataSource({"path": part})
    r2 = src2.reader(src2.schema())
    list(r2.pushFilters([In(("b",), (0, 2))]))
    parts2 = r2.partitions()
    assert parts2 and all(
        "b=0" in p.path or "b=2" in p.path for p in parts2
    ), [p.path for p in parts2]
    # and values still answer correctly through Spark
    back = spark.read.format("dwrf").load(flat)
    assert back.filter(F.col("k").isin(1, 5, 9)).count() == 3


def test_workers_skip_unchanged_zip_rereads(dwrf_spark, tmp_path):
    """A Python worker that has run a DWRF read holds the package's
    `zipimporter.invalidate_caches`, so the `importlib.invalidate_caches()`
    PySpark runs on every worker call re-reads no unchanged archive."""
    import sys

    import pyarrow as pa

    if sys.version_info >= (3, 13):
        pytest.skip("CPython 3.13 reads zip directories lazily")
    spark = dwrf_spark
    p = str(tmp_path / "t")
    spark.range(100).write.format("dwrf").mode("overwrite").save(p)
    assert spark.read.format("dwrf").load(p).count() == 100

    def probe(batches):
        import importlib
        import zipimport

        import hive_dwrf_spark  # noqa: F401  (as any DWRF call does first)

        for _ in batches:
            pass
        installed = zipimport.zipimporter.invalidate_caches.__module__
        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        # the first call may catch up on an archive read before the
        # package was imported; the second must read nothing
        importlib.invalidate_caches()
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pa.RecordBatch.from_pydict(
            {"installed": [installed], "rereads": [len(reads)]}
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "installed string, rereads long")
        .first()
    )
    assert row["installed"] == "hive_dwrf_spark.shipping"
    assert row["rereads"] == 0


# --- one scan for batch and stream ------------------------------------------


def _partitioned_300(spark, out):
    """300 rows written partition_by("b"): k = 0..299, b = k % 2."""
    spark.sql("SELECT id AS k, id % 2 AS b FROM range(300)").coalesce(
        1
    ).write.format("dwrf").option("partition_by", "b").mode("append").save(out)


def _stream_rows(spark, path, name, ckpt, **options):
    """(schema, rows) of one availableNow pass of the stream source over
    `path` into a memory sink."""
    from hive_dwrf_spark.streaming import stream_dwrf_dir

    q = (
        stream_dwrf_dir(spark, path, **options)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    while q.isActive:
        q.awaitTermination(5)
    q.awaitTermination()
    got = spark.table(name)
    return got.schema, got.collect()


def test_partition_only_projection_counts_every_row(dwrf_spark, tmp_path):
    """A columns option naming only partition columns yields one row per
    data row (row counts from the stripe directory), not zero rows."""
    spark = dwrf_spark
    out = str(tmp_path / "ponly")
    _partitioned_300(spark, out)
    df = spark.read.format("dwrf").option("columns", "b").load(out)
    assert df.columns == ["b"]
    assert df.count() == 300
    assert sorted(r.b for r in df.collect()) == [0] * 150 + [1] * 150


def test_file_outside_partition_dirs_reads_null(dwrf_spark, tmp_path):
    """A file whose path lacks a partition column's k=v segment (here, at
    the root beside b=0/ and b=1/) reads NULL for that column through
    both the batch and the stream source."""
    import pyarrow as pa

    from hive_dwrf_spark.format import write_arrow_table

    spark = dwrf_spark
    out = str(tmp_path / "rootfile")
    _partitioned_300(spark, out)
    write_arrow_table(
        os.path.join(out, "root.dwrf"), pa.table({"k": pa.array([1000, 1001])})
    )
    want = [(k, k % 2) for k in range(300)] + [(1000, None), (1001, None)]
    batch = spark.read.format("dwrf").load(out).select("k", "b").collect()
    _, streamed = _stream_rows(
        spark, out, "rootfile_stream", str(tmp_path / "ckpt")
    )
    for rows in (batch, streamed):
        assert sorted(((r.k, r.b) for r in rows), key=lambda r: r[0]) == want


@pytest.mark.parametrize("columns", [None, "k,b", "b", "ts"])
def test_batch_and_stream_scan_agree(dwrf_spark, tmp_path, columns):
    """spark.read.format("dwrf") and stream_dwrf_dir read one
    hive-partitioned directory (with an ns-timestamp column) to the same
    schema and rows, with and without a columns option."""
    import numpy as np
    import pyarrow as pa

    from hive_dwrf_spark.format import write_arrow_table

    spark = dwrf_spark
    out = str(tmp_path / "parity")
    for b in range(3):
        k = np.arange(b * 100, b * 100 + 100, dtype=np.int64)
        # ns values with a sub-microsecond part: both truncate to us
        ts = pa.array(k * 1_000_000_007 + 1_700_000_000 * 10**9, pa.timestamp("ns"))
        os.makedirs(os.path.join(out, f"b={b}"))
        write_arrow_table(
            os.path.join(out, f"b={b}", "part-0.dwrf"),
            pa.table({"k": k, "ts": ts}),
            stripe_rows=40,
        )
    reader = spark.read.format("dwrf")
    options = {}
    if columns:
        reader = reader.option("columns", columns)
        options["columns"] = columns
    batch = reader.load(out)
    name = f"parity_{(columns or 'all').replace(',', '_')}"
    schema, streamed = _stream_rows(
        spark, out, name, str(tmp_path / "ckpt"), **options
    )
    assert schema == batch.schema
    rows = batch.collect()
    assert len(rows) == 300
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, rows))
