"""Structured Streaming over DWRF directories: micro-batch file discovery
plus watermarked windowing/sessionization helpers (batch-mode checked —
the aggregation expressions are identical either way)."""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa

from .conftest import SF_SMOKE


def test_stream_reads_new_files(spark, tmp_path):
    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.streaming import stream_dwrf_dir

    d = str(tmp_path / "stream_in")
    import os

    os.makedirs(d)
    write_arrow_table(
        f"{d}/f1.dwrf", pa.table({"k": pa.array(np.arange(100))})
    )
    stream = stream_dwrf_dir(spark, d)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("dwrf_stream_test")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = spark.sql("SELECT count(*) c FROM dwrf_stream_test").collect()[0].c
        assert got1 == 100
        # regression: batch writers emit part-<uuid> names, so a new file
        # can sort BEFORE already-processed ones; name-set offsets must
        # still pick it up exactly once (index offsets skipped it and
        # re-emitted f1)
        write_arrow_table(
            f"{d}/a2.dwrf", pa.table({"k": pa.array(np.arange(100, 150))})
        )
        q.processAllAvailable()
        got2 = spark.sql("SELECT count(*) c FROM dwrf_stream_test").collect()[0].c
        assert got2 == 150
        assert (
            spark.sql(
                "SELECT count(*) c FROM (SELECT k FROM dwrf_stream_test "
                "GROUP BY k HAVING count(*) > 1)"
            ).collect()[0].c
            == 0
        )
    finally:
        q.stop()


def test_windowed_counts_batch_semantics(spark):
    from hive_dwrf_spark.streaming import sessionize, windowed_event_counts
    from hive_dwrf_spark.tables import load

    e = load(spark, SF_SMOKE, "events")
    win = windowed_event_counts(e)
    total = win.agg({"cnt": "sum"}).collect()[0][0]
    assert total == e.count()
    sess = sessionize(e, gap="10 minutes")
    assert sess.count() > 0
    row = sess.limit(1).collect()[0]
    assert row.session_end >= row.session_start


def test_stateful_running_counts(spark, tmp_path):
    """State must persist across micro-batches: totals keep growing as new
    files arrive rather than resetting per batch."""
    import os

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.streaming import stateful_running_counts, stream_dwrf_dir

    d = str(tmp_path / "state_in")
    os.makedirs(d)
    t1 = pa.table({"event_type": pa.array(["a"] * 30 + ["b"] * 20)})
    write_arrow_table(f"{d}/f1.dwrf", t1)
    stream = stream_dwrf_dir(spark, d)
    counted = stateful_running_counts(stream, "event_type")
    q = (
        counted.writeStream.format("memory")
        .queryName("state_counts")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        write_arrow_table(
            f"{d}/f2.dwrf", pa.table({"event_type": pa.array(["a"] * 5)})
        )
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT event_type, max(running_total) t FROM state_counts GROUP BY 1"
        ).collect()
        got = {r.event_type: r.t for r in rows}
        assert got == {"a": 35, "b": 20}
    finally:
        q.stop()


def test_streaming_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps first occurrences across
    micro-batches within the lateness window."""
    import os

    import pyarrow as pa

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.streaming import stream_dwrf_dir, streaming_dedup

    d = str(tmp_path / "dedup_in")
    os.makedirs(d)
    ts = pa.array(
        [1_700_000_000_000_000 + i * 1_000_000 for i in (0, 1, 2, 2, 3)],
        type=pa.timestamp("us"),
    )
    write_arrow_table(
        f"{d}/b1.dwrf",
        pa.table({"doc_id": pa.array([1, 2, 3, 3, 4]), "ts": ts}),
    )
    stream = stream_dwrf_dir(spark, d).selectExpr(
        "doc_id", "CAST(ts AS TIMESTAMP) AS ts"  # watermark needs TIMESTAMP, not NTZ
    )
    out = streaming_dedup(stream, ["doc_id"], ts_col="ts", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        # duplicate arriving in a LATER micro-batch is also dropped
        write_arrow_table(
            f"{d}/b2.dwrf",
            pa.table(
                {
                    "doc_id": pa.array([4, 5]),
                    "ts": pa.array(
                        [1_700_000_000_000_000 + i * 1_000_000 for i in (4, 5)],
                        type=pa.timestamp("us"),
                    ),
                }
            ),
        )
        q.processAllAvailable()
        got = sorted(
            r.doc_id
            for r in spark.sql("SELECT doc_id FROM dedup_stream_test").collect()
        )
        assert got == [1, 2, 3, 4, 5]
    finally:
        q.stop()
    # batch frames get plain dropDuplicates semantics
    bdf = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:00:01")],
        "doc_id long, ts string",
    ).selectExpr("doc_id", "CAST(ts AS TIMESTAMP) AS ts")
    assert streaming_dedup(bdf, ["doc_id"]).count() == 1


def test_stream_write_dwrf_sink(spark, tmp_path):
    """dwrf dir -> transform -> dwrf dir: the streaming sink writes each
    microbatch as part files the batch reader (and the stream reader's
    name-set offsets) consume exactly once."""
    import os

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.sources import register
    from hive_dwrf_spark.streaming import stream_dwrf_dir

    register(spark)
    src = str(tmp_path / "sink_src")
    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")
    os.makedirs(src)
    write_arrow_table(
        f"{src}/f1.dwrf", pa.table({"k": pa.array(np.arange(100))})
    )
    from pyspark.sql import functions as F

    stream = stream_dwrf_dir(spark, src).withColumn("k2", F.col("k") * 2)
    q = (
        stream.writeStream.format("dwrf")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        back = spark.read.format("dwrf").load(out)
        assert back.count() == 100
        assert back.agg(F.sum("k2")).collect()[0][0] == 2 * sum(range(100))
        write_arrow_table(
            f"{src}/a2.dwrf", pa.table({"k": pa.array(np.arange(100, 150))})
        )
        q.processAllAvailable()
        back = spark.read.format("dwrf").load(out)
        assert back.count() == 150
        assert back.select("k").distinct().count() == 150
        # commit log records every part file with its batch id, plus one
        # '#end' commit-complete marker per batch (committedOnly protocol)
        log = open(f"{out}/_batches").read().strip().splitlines()
        logged = {
            line.split("\t")[1]
            for line in log
            if not line.startswith("#")
        }
        on_disk = {p for p in os.listdir(out) if p.endswith(".dwrf")}
        assert logged == on_disk
        assert sum(1 for line in log if line.startswith("#end\t")) >= 2
    finally:
        q.stop()


def test_stream_source_works_from_foreign_cwd(tmp_path):
    """Regression: Spark's streaming-source planner subprocess receives no
    session pyFiles, so running the stream from a cwd outside the repo used
    to fail to unpickle the DataSource (ModuleNotFoundError). The class is
    now registered by value with an import-root bootstrap."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys, os
        sys.path.insert(0, {repo!r})
        import pyarrow as pa, numpy as np
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        from hive_dwrf_spark.format import write_arrow_table
        from hive_dwrf_spark.streaming import stream_dwrf_dir
        src = os.path.join({str(tmp_path)!r}, "src")
        os.makedirs(src)
        write_arrow_table(os.path.join(src, "f1.dwrf"),
                          pa.table({{"k": pa.array(np.arange(25))}}))
        s = stream_dwrf_dir(spark, src)
        q = (s.writeStream.format("memory").queryName("fcwd")
             .trigger(availableNow=True).start())
        q.awaitTermination(90)
        n = spark.sql("select count(*) c from fcwd").collect()[0].c
        assert n == 25, n
        print("OK", n)
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd="/tmp",  # NOT the repo
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "OK 25" in proc.stdout


def test_restart_from_checkpoint_exactly_once(spark, tmp_path):
    """Stop a checkpointed stream, add a new source file, restart with the
    SAME checkpoint: the persisted name-set offset must skip every
    already-processed file and deliver only the new one — each row exactly
    once across the restart boundary."""
    import os

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.sources import register
    from hive_dwrf_spark.streaming import stream_dwrf_dir

    register(spark)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def run_once():
        q = (
            stream_dwrf_dir(spark, src)
            .writeStream.format("dwrf")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        while q.isActive:
            q.awaitTermination(5)
        q.awaitTermination()

    write_arrow_table(f"{src}/f1.dwrf", pa.table({"k": pa.array(np.arange(100))}))
    run_once()
    back1 = spark.read.format("dwrf").load(out)
    assert back1.count() == 100

    # a file that sorts BEFORE f1 plus a later one; restart must pick up
    # exactly these two and never re-emit f1's rows
    write_arrow_table(
        f"{src}/a0.dwrf", pa.table({"k": pa.array(np.arange(100, 130))})
    )
    write_arrow_table(
        f"{src}/z9.dwrf", pa.table({"k": pa.array(np.arange(130, 150))})
    )
    run_once()
    back2 = spark.read.format("dwrf").load(out)
    assert back2.count() == 150
    dup = (
        back2.groupBy("k").count().filter("count > 1").count()
    )
    assert dup == 0
    ks = sorted(r.k for r in back2.select("k").collect())
    assert ks == list(range(150))


# --- partition-planning stream reader (round 10) ---------------------------


def _planner_reader(path, schema_names=("k",), **options):
    """A bare _DwrfPartitionStreamReader for offset-algebra unit tests
    (no Spark in the loop — latestOffset/partitions are pure planner
    logic driven by the directory listing)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from hive_dwrf_spark.streaming.dwrf_stream import (
        _DwrfPartitionStreamReader,
    )

    schema = StructType([StructField(n, LongType()) for n in schema_names])
    return _DwrfPartitionStreamReader(
        schema, {"path": path, **{k: str(v) for k, v in options.items()}}
    )


def test_planner_offsets_are_bounded_by_file_age(tmp_path):
    """The offset retires names older than maxFileAgeSec relative to the
    newest file — the name set tracks the age window, not files-ever-seen
    (SCALE.md 'Streaming': bounded offsets on unbounded streams)."""
    import os

    from hive_dwrf_spark.format import write_arrow_table

    src = str(tmp_path / "src")
    os.makedirs(src)
    rdr = _planner_reader(src, maxFileAgeSec=60)

    start = rdr.initialOffset()
    # 20 "old" files, mtimes spread 1000..1019 seconds ago
    now_ns = time.time_ns()
    for i in range(20):
        fp = f"{src}/old{i:02d}.dwrf"
        write_arrow_table(fp, pa.table({"k": pa.array([i])}))
        t = (now_ns - (1000 - i) * 10**9) / 1e9
        os.utime(fp, (t, t))
    end1 = rdr.latestOffset()
    # all 20 are fresh vs the empty start (watermark trails the newest)
    fresh1 = {p.path for p in rdr.partitions(start, end1)}
    assert len(fresh1) == 20
    # 2 new files now -> watermark jumps past the old ones; they retire
    for i in range(2):
        write_arrow_table(f"{src}/new{i}.dwrf", pa.table({"k": pa.array([i])}))
    end2 = rdr.latestOffset()
    assert set(end2["files"]) == {"new0.dwrf", "new1.dwrf"}
    assert end2["watermark_ns"] > end1["watermark_ns"]
    # the batch between end1 and end2 is exactly the two new files —
    # retirement must never re-emit or drop
    fresh2 = {os.path.basename(p.path) for p in rdr.partitions(end1, end2)}
    assert fresh2 == {"new0.dwrf", "new1.dwrf"}
    # a LATE file (mtime below the start watermark) must not replay even
    # though its name is unknown: processed-and-retired and never-seen
    # are indistinguishable, so both are refused
    late = f"{src}/late.dwrf"
    write_arrow_table(late, pa.table({"k": pa.array([99])}))
    t = (now_ns - 900 * 10**9) / 1e9
    os.utime(late, (t, t))
    end3 = rdr.latestOffset()
    assert "late.dwrf" not in end3["files"]
    assert rdr.partitions(end2, end3) == []


def test_planner_offset_interchange_and_legacy_forms(tmp_path):
    """Guard that old checkpoints still resume: partitions() normalizes
    every historical offset shape, including {'processed': [names]}
    written by the since-deleted driver-side reader and the pre-fix
    {'file_index': N}."""
    import os

    from hive_dwrf_spark.format import write_arrow_table

    src = str(tmp_path / "src")
    os.makedirs(src)
    for n in ("a.dwrf", "b.dwrf", "c.dwrf"):
        write_arrow_table(f"{src}/{n}", pa.table({"k": pa.array([1])}))
    rdr = _planner_reader(src)
    end = rdr.latestOffset()
    assert set(end["files"]) == {"a.dwrf", "b.dwrf", "c.dwrf"}
    # name-list offset as start: only the unprocessed name is fresh
    got = {
        os.path.basename(p.path)
        for p in rdr.partitions({"processed": ["a.dwrf", "c.dwrf"]}, end)
    }
    assert got == {"b.dwrf"}
    # pre-fix index offset: treated as empty (best-effort re-read)
    got = {
        os.path.basename(p.path)
        for p in rdr.partitions({"file_index": 2}, end)
    }
    assert got == {"a.dwrf", "b.dwrf", "c.dwrf"}


def test_planner_splits_large_files_into_stripe_runs(tmp_path):
    """One large multi-stripe file fans out into several InputPartitions
    (consecutive stripe runs bin-packed to maxSplitBytes) — executor-side
    parallelism within one file."""
    import os

    from hive_dwrf_spark.format import write_arrow_table

    src = str(tmp_path / "src")
    os.makedirs(src)
    # ~8 stripes of ~1.6 MB of incompressible noise each
    rng = np.random.default_rng(7)
    write_arrow_table(
        f"{src}/big.dwrf",
        pa.table({"k": pa.array(rng.integers(0, 2**62, 800_000))}),
        stripe_rows=100_000,
        compression="none",
    )
    rdr = _planner_reader(src)
    parts = rdr.partitions(rdr.initialOffset(), rdr.latestOffset())
    assert len(parts) >= 2  # split within the file
    seen = sorted(i for p in parts for i in p.stripe_indices)
    assert seen == list(range(8))  # every stripe exactly once
    # runs are consecutive (sequential IO within a split)
    for p in parts:
        idx = list(p.stripe_indices)
        assert idx == list(range(idx[0], idx[0] + len(idx)))


def test_planner_rate_limit_caps_admission(tmp_path):
    """maxFilesPerTrigger bounds each micro-batch AFTER the first (the
    catch-up batch is deliberately uncapped so a restart never stalls
    behind already-processed names)."""
    import os

    from hive_dwrf_spark.format import write_arrow_table

    src = str(tmp_path / "src")
    os.makedirs(src)
    now = time.time()
    for i in range(5):
        fp = f"{src}/f{i}.dwrf"
        write_arrow_table(fp, pa.table({"k": pa.array([i])}))
        os.utime(fp, (now - 50 + i, now - 50 + i))
    rdr = _planner_reader(src, maxFilesPerTrigger=2)
    end1 = rdr.latestOffset()  # first trigger: uncapped catch-up
    assert len(end1["files"]) == 5
    for i in range(5, 10):
        fp = f"{src}/f{i}.dwrf"
        write_arrow_table(fp, pa.table({"k": pa.array([i])}))
        os.utime(fp, (now - 50 + i, now - 50 + i))
    end2 = rdr.latestOffset()  # capped: 2 oldest fresh names admitted
    fresh = set(end2["files"]) - set(end1["files"])
    assert fresh == {"f5.dwrf", "f6.dwrf"}
    end3 = rdr.latestOffset()
    assert set(end3["files"]) - set(end2["files"]) == {"f7.dwrf", "f8.dwrf"}


def test_stream_end_to_end_bounded_offset_and_restart(spark, tmp_path):
    """Through Spark: a stream whose old files retire from the offset
    still restarts exactly-once from the checkpoint, and the final
    checkpointed offset carries only the live window's names."""
    import glob
    import json
    import os

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.sources import register
    from hive_dwrf_spark.streaming import stream_dwrf_dir

    register(spark)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def run_once():
        q = (
            stream_dwrf_dir(spark, src, maxFileAgeSec=120)
            .writeStream.format("dwrf")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        while q.isActive:
            q.awaitTermination(5)
        q.awaitTermination()

    now = time.time()
    for i in range(10):
        fp = f"{src}/old{i}.dwrf"
        write_arrow_table(fp, pa.table({"k": pa.array([i])}))
        os.utime(fp, (now - 600 + i, now - 600 + i))
    run_once()
    assert spark.read.format("dwrf").load(out).count() == 10
    # new files push the watermark past every old name
    write_arrow_table(f"{src}/n1.dwrf", pa.table({"k": pa.array([100])}))
    run_once()
    back = spark.read.format("dwrf").load(out)
    assert back.count() == 11  # exactly-once across the restart
    assert back.groupBy("k").count().filter("count > 1").count() == 0
    last = max(
        (f for f in glob.glob(f"{ckpt}/offsets/*") if f[-1].isdigit()),
        key=lambda f: int(os.path.basename(f)),
    )
    offset = json.loads(open(last).read().splitlines()[-1])
    assert set(offset["files"]) == {"n1.dwrf"}  # old names retired


def test_stream_partitioned_dir_and_projection(spark, tmp_path):
    """Hive-partitioned stream dirs: partition columns surface in the
    stream schema (typed from the directory values, zero data bytes) and
    the columns option prunes decode — including the partition-only
    projection, which reads just stripe row counts."""
    from pyspark.sql import functions as F

    from hive_dwrf_spark.sources import register
    from hive_dwrf_spark.streaming import stream_dwrf_dir

    register(spark)
    src = str(tmp_path / "psrc")
    df = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(300)], "k long, b long, v string"
    )
    df.repartition(1).write.format("dwrf").option("path", src).option(
        "partition_by", "b"
    ).mode("overwrite").save()

    def run(qname, **opts):
        q = (
            stream_dwrf_dir(spark, src, **opts)
            .writeStream.format("memory")
            .queryName(qname)
            .option(
                "checkpointLocation", str(tmp_path / f"ckpt_{qname}")
            )
            .trigger(availableNow=True)
            .start()
        )
        while q.isActive:
            q.awaitTermination(5)
        q.awaitTermination()
        return spark.table(qname)

    out = run("pstream_full")
    assert set(out.columns) == {"k", "v", "b"}
    got = {
        (r.b, r.cnt, r.sum_k)
        for r in out.groupBy("b")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("k").alias("sum_k"))
        .collect()
    }
    want = {
        (r.b, r.cnt, r.sum_k)
        for r in df.groupBy("b")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("k").alias("sum_k"))
        .collect()
    }
    assert got == want
    # projection: one data column + the partition column
    out2 = run("pstream_proj", columns="k,b")
    assert out2.columns == ["k", "b"]
    assert out2.count() == 300
    assert out2.filter("b = 2").count() == df.filter("b = 2").count()
    # partition-only projection: no data bytes decoded at all
    out3 = run("pstream_part_only", columns="b")
    assert out3.columns == ["b"]
    assert out3.groupBy("b").count().count() == 3
    assert out3.count() == 300


def test_committed_only_read_is_exactly_once(spark, tmp_path):
    """The sink's at-least-once output upgrades to exactly-once AT READ
    TIME: option('committedOnly','true') scans only files the _batches
    log records, keep-FIRST per batchId — orphans from crashed tasks and
    a retried batch's second commit are excluded with no cleanup job."""
    import os
    import shutil

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.sources import register
    from hive_dwrf_spark.streaming import stream_dwrf_dir

    register(spark)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    write_arrow_table(
        f"{src}/a.dwrf", pa.table({"k": pa.array(np.arange(100))})
    )
    q = (
        stream_dwrf_dir(spark, src)
        .writeStream.format("dwrf")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    while q.isActive:
        q.awaitTermination(5)
    q.awaitTermination()
    committed = [f for f in os.listdir(out) if f.endswith(".dwrf")]
    assert committed
    # orphan: a task wrote it, its batch never committed
    write_arrow_table(
        f"{out}/part-orphan.dwrf", pa.table({"k": pa.array([777])})
    )
    # retry: batch 0 commits AGAIN with a new file (crash between the
    # log append and the offset-log advance) — keep-first must drop it
    write_arrow_table(
        f"{out}/part-retry.dwrf", pa.table({"k": pa.array([888])})
    )
    with open(f"{out}/_batches", "a") as f:
        f.write("0\tpart-retry.dwrf\t1\n#end\t0\n")
    # plus a TORN append (crash mid-commit): files logged, no #end — the
    # group must not count either
    write_arrow_table(
        f"{out}/part-torn.dwrf", pa.table({"k": pa.array([999])})
    )
    with open(f"{out}/_batches", "a") as f:
        f.write("7\tpart-torn.dwrf\t1\n")

    plain = spark.read.format("dwrf").load(out)
    assert plain.count() == 103  # at-least-once: orphans visible
    exact = (
        spark.read.format("dwrf").option("committedOnly", "true").load(out)
    )
    assert exact.count() == 100
    assert sorted(r.k for r in exact.collect()) == list(range(100))

    # _SUCCESS manifest path: batch-written dir with a dropped-in orphan
    bout = str(tmp_path / "bout")
    spark.range(50).selectExpr("id AS k").write.format("dwrf").mode(
        "overwrite"
    ).save(bout)
    shutil.copy(f"{out}/part-orphan.dwrf", f"{bout}/part-orphan.dwrf")
    assert spark.read.format("dwrf").load(bout).count() == 51
    assert (
        spark.read.format("dwrf")
        .option("committedOnly", "true")
        .load(bout)
        .count()
        == 50
    )

    # no manifest at all: the option must refuse, not silently scan
    nolog = str(tmp_path / "nolog")
    os.makedirs(nolog)
    write_arrow_table(f"{nolog}/x.dwrf", pa.table({"k": pa.array([1])}))
    import pytest

    with pytest.raises(Exception, match="commit manifest"):
        spark.read.format("dwrf").option("committedOnly", "true").load(
            nolog
        ).count()


def test_stream_committed_only_tails_sink_exactly_once(spark, tmp_path):
    """A dwrf->dwrf pipeline CHAIN: the downstream stream tails the
    upstream sink's directory with committedOnly, so upstream orphans
    (crashed tasks, retried commits) never enter the downstream — the
    streaming face of the committedOnly batch read."""
    import os

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.sources import register
    from hive_dwrf_spark.streaming import stream_dwrf_dir

    register(spark)
    src = str(tmp_path / "src")
    mid = str(tmp_path / "mid")
    os.makedirs(src)
    write_arrow_table(
        f"{src}/a.dwrf", pa.table({"k": pa.array(np.arange(50))})
    )
    q = (
        stream_dwrf_dir(spark, src)
        .writeStream.format("dwrf")
        .option("path", mid)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    while q.isActive:
        q.awaitTermination(5)
    q.awaitTermination()
    # upstream orphan lands in mid (never committed)
    write_arrow_table(
        f"{mid}/part-orphan.dwrf", pa.table({"k": pa.array([666])})
    )
    q2 = (
        stream_dwrf_dir(spark, mid, committedOnly=True)
        .writeStream.format("memory")
        .queryName("chain_exact")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    while q2.isActive:
        q2.awaitTermination(5)
    q2.awaitTermination()
    got = sorted(r.k for r in spark.table("chain_exact").collect())
    assert got == list(range(50))  # orphan excluded


# --- round-11 hardening: commit-log begin markers, manifest compaction,
# --- watermark-aware admission, late files, byte caps ------------------------


def test_committed_files_torn_then_retried_same_batch(tmp_path):
    """The realistic crash-retry sequence: a TORN commit (file lines
    appended, crash before '#end') followed by Spark re-running the SAME
    batch. The retry's '#begin' resets the parser's group, so the torn
    attempt's files cannot merge into the retry's accepted group — the
    round-10 protocol (end markers only) double-counted here."""
    import os

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.sources.dwrf_datasource import committed_files

    out = str(tmp_path / "out")
    os.makedirs(out)
    for n in ("b1", "b2", "a1"):
        write_arrow_table(f"{out}/{n}.dwrf", pa.table({"k": pa.array([1])}))
    with open(f"{out}/_batches", "w") as f:
        # batch 8: clean commit
        f.write("#begin\t8\n8\ta1.dwrf\t1\n#end\t8\n")
        # batch 9 attempt 1: torn (crash before #end)
        f.write("#begin\t9\n9\tb1.dwrf\t1\n")
        # batch 9 attempt 2 (Spark re-runs the same batchId): complete
        f.write("#begin\t9\n9\tb2.dwrf\t1\n#end\t9\n")
    assert committed_files(out) == {"a1.dwrf", "b2.dwrf"}

    # keep-first still holds for a LATER duplicate commit of batch 9
    with open(f"{out}/_batches", "a") as f:
        f.write("#begin\t9\n9\tb1.dwrf\t1\n#end\t9\n")
    assert committed_files(out) == {"a1.dwrf", "b2.dwrf"}

    # a torn group at the log tail never counts
    with open(f"{out}/_batches", "a") as f:
        f.write("#begin\t10\n10\tb1.dwrf\t1\n")
    assert committed_files(out) == {"a1.dwrf", "b2.dwrf"}

    # round-10 logs (no #begin) parse unchanged: complete groups count
    with open(f"{out}/_batches", "w") as f:
        f.write("0\ta1.dwrf\t1\n#end\t0\n1\tb1.dwrf\t1\n#end\t1\n")
        f.write("2\tb2.dwrf\t1\n")  # torn tail
    assert committed_files(out) == {"a1.dwrf", "b1.dwrf"}


def test_compact_manifest_resolves_and_bounds_the_log(tmp_path):
    """compact_manifest rewrites _batches as its resolved state: orphan/
    torn/superseded lines gone, entries for deleted files dropped, and
    committed_files unchanged across the rewrite. The highest batchId
    survives even when emptied (keep-first protection for a
    post-compaction retry of the only retryable batch)."""
    import os

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.sources.dwrf_datasource import (
        committed_files,
        compact_manifest,
    )

    out = str(tmp_path / "out")
    os.makedirs(out)
    for n in ("f0", "f1", "f2", "retry", "torn"):
        write_arrow_table(f"{out}/{n}.dwrf", pa.table({"k": pa.array([1])}))
    with open(f"{out}/_batches", "w") as f:
        f.write("#begin\t0\n0\tf0.dwrf\t1\n#end\t0\n")
        f.write("#begin\t1\n1\tf1.dwrf\t1\n#end\t1\n")
        # a retried batch 1 (orphan) and a torn batch 2
        f.write("#begin\t1\n1\tretry.dwrf\t1\n#end\t1\n")
        f.write("#begin\t2\n2\ttorn.dwrf\t1\n")
        f.write("#begin\t3\n3\tf2.dwrf\t1\n#end\t3\n")
    before = committed_files(out)
    assert before == {"f0.dwrf", "f1.dwrf", "f2.dwrf"}
    n_after, n_before = compact_manifest(out, force=True)
    assert n_after < n_before
    assert committed_files(out) == before
    # the compacted log has no trace of the orphan/torn lines
    text = open(f"{out}/_batches").read()
    assert "retry.dwrf" not in text and "torn.dwrf" not in text

    # retention deletes f0 and f1 -> their entries compact away; batch 3
    # (the max batchId) stays even if emptied
    os.remove(f"{out}/f0.dwrf")
    os.remove(f"{out}/f1.dwrf")
    os.remove(f"{out}/f2.dwrf")
    compact_manifest(out, force=True)
    assert committed_files(out) == set()
    text = open(f"{out}/_batches").read()
    assert "f0.dwrf" not in text and "#end\t3" in text
    # a post-compaction retry of batch 3 is still rejected (keep-first)
    write_arrow_table(f"{out}/late3.dwrf", pa.table({"k": pa.array([9])}))
    with open(f"{out}/_batches", "a") as f:
        f.write("#begin\t3\n3\tlate3.dwrf\t1\n#end\t3\n")
    assert committed_files(out) == set()


def test_stream_sink_compacts_manifest_end_to_end(spark, tmp_path):
    """A multi-batch stream through the DWRF sink with
    manifestCompactInterval=2: the _batches log ends up in resolved form
    (line count tracks live files, not batches-ever) and the
    committedOnly read still returns exactly the source rows. The
    multi-batch shape comes from maxFilesPerTrigger=1 on the source."""
    import os

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.sources import register
    from hive_dwrf_spark.streaming import stream_dwrf_dir

    register(spark)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    now = time.time()
    for i in range(4):
        fp = f"{src}/f{i}.dwrf"
        write_arrow_table(
            fp, pa.table({"k": pa.array(np.arange(i * 10, i * 10 + 10))})
        )
        os.utime(fp, (now - 40 + i, now - 40 + i))
    q = (
        stream_dwrf_dir(spark, src, maxFilesPerTrigger=1)
        .writeStream.format("dwrf")
        .option("path", out)
        .option("manifestCompactInterval", "2")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    while q.isActive:
        q.awaitTermination(5)
    q.awaitTermination()
    lines = [
        ln for ln in open(f"{out}/_batches").read().splitlines() if ln
    ]
    data_lines = [ln for ln in lines if not ln.startswith("#")]
    live = [f for f in os.listdir(out) if f.endswith(".dwrf")]
    # resolved form: one line per live file (plus group markers)
    assert len(data_lines) == len(live)
    exact = (
        spark.read.format("dwrf").option("committedOnly", "true").load(out)
    )
    assert sorted(r.k for r in exact.collect()) == list(range(40))


def test_planner_admission_not_starved_by_retired_files(tmp_path):
    """Retired (below-watermark) names on disk must not consume the
    maxFilesPerTrigger budget: pre-fix they re-qualified as 'fresh' every
    trigger, filled the cap, then got watermark-filtered — the offset
    never advanced and newly arriving files were never admitted."""
    import os

    from hive_dwrf_spark.format import write_arrow_table

    src = str(tmp_path / "src")
    os.makedirs(src)
    now_ns = time.time_ns()
    rdr = _planner_reader(src, maxFileAgeSec=60, maxFilesPerTrigger=2)
    rdr.initialOffset()
    write_arrow_table(f"{src}/anchor.dwrf", pa.table({"k": pa.array([0])}))
    end = rdr.latestOffset()
    assert set(end["files"]) == {"anchor.dwrf"}
    assert end["watermark_ns"] > 0
    # 5 below-watermark files land on disk (backfill/regressed listing)
    for i in range(5):
        fp = f"{src}/old{i}.dwrf"
        write_arrow_table(fp, pa.table({"k": pa.array([i])}))
        t = (now_ns - 1000 * 10**9) / 1e9
        os.utime(fp, (t, t))
    # three new files arrive; the old retired names are still on disk.
    # Each trigger must admit up to 2 NEW names (pre-fix: permanently 0).
    for i in range(3):
        write_arrow_table(f"{src}/new{i}.dwrf", pa.table({"k": pa.array([i])}))
    end2 = rdr.latestOffset()
    assert {"new0.dwrf", "new1.dwrf"} <= set(end2["files"]) or len(
        set(end2["files"]) - set(end["files"])
    ) == 2
    end3 = rdr.latestOffset()
    admitted = set(end3["files"]) - set(end["files"])
    assert {"new0.dwrf", "new1.dwrf", "new2.dwrf"} <= admitted | set(
        end2["files"]
    )
    # the dropped-late counter saw the 5 old names exactly once
    assert rdr.late_files_dropped == 5


def test_planner_allow_late_files_admits_backfills_once(tmp_path):
    """allowLateFiles=true: a backfilled below-watermark file is admitted
    in the next batch via the offset's late registry, planned exactly
    once, and never replayed while it stays on disk; the registry drains
    when the file is deleted."""
    import os

    from hive_dwrf_spark.format import write_arrow_table

    src = str(tmp_path / "src")
    os.makedirs(src)
    rdr = _planner_reader(src, maxFileAgeSec=60, allowLateFiles=True)
    rdr.initialOffset()
    write_arrow_table(f"{src}/anchor.dwrf", pa.table({"k": pa.array([0])}))
    end1 = rdr.latestOffset()
    assert end1["watermark_ns"] > 0
    # backfill: an old-mtime file lands after the watermark advanced
    late = f"{src}/backfill.dwrf"
    write_arrow_table(late, pa.table({"k": pa.array([42])}))
    t = (time.time_ns() - 3600 * 10**9) / 1e9
    os.utime(late, (t, t))
    end2 = rdr.latestOffset()
    assert "backfill.dwrf" in end2.get("late", {})
    planned = {
        os.path.basename(p.path) for p in rdr.partitions(end1, end2)
    }
    assert planned == {"backfill.dwrf"}
    # subsequent triggers do not replay it
    end3 = rdr.latestOffset()
    assert rdr.partitions(end2, end3) == []
    assert "backfill.dwrf" in end3.get("late", {})
    assert rdr.late_files_dropped == 0
    # deletion drains the registry (bounded by on-disk late names)
    os.remove(late)
    end4 = rdr.latestOffset()
    assert "backfill.dwrf" not in end4.get("late", {})


def test_planner_max_bytes_per_trigger(tmp_path):
    """maxBytesPerTrigger splits a catch-up into byte-bounded admission
    batches (oldest first); a single file larger than the cap still
    flows (always-admit-one). The limiter needs an anchor (initialOffset
    here, a prior trigger in-engine — Spark calls latestOffset before
    initialOffset on a new query, so the engine's first catch-up batch
    is an uncapped superset by design; streaming_bytes_capped covers the
    in-engine mid-run shape)."""
    import os

    from hive_dwrf_spark.format import write_arrow_table

    src = str(tmp_path / "src")
    os.makedirs(src)
    now = time.time()
    rng = np.random.default_rng(3)
    sizes = {}
    for i in range(6):
        fp = f"{src}/f{i}.dwrf"
        # ~80 KB each of incompressible noise
        write_arrow_table(
            fp,
            pa.table({"k": pa.array(rng.integers(0, 2**62, 10_000))}),
            compression="none",
        )
        os.utime(fp, (now - 60 + i, now - 60 + i))
        sizes[f"f{i}.dwrf"] = os.path.getsize(fp)
    cap = int(sum(sizes.values()) / 3)  # ~2 files per trigger
    rdr = _planner_reader(src, maxBytesPerTrigger=cap)
    rdr.initialOffset()
    batches = []
    prev = rdr.initialOffset()
    for _ in range(8):
        end = rdr.latestOffset()
        fresh = sorted(set(end["files"]) - set(prev["files"]))
        if not fresh:
            break
        batches.append(fresh)
        prev = end
    assert [n for b in batches for n in b] == sorted(sizes)  # all, in order
    assert len(batches) >= 3  # split, not one catch-up
    for b in batches:
        assert len(b) == 1 or sum(sizes[n] for n in b) <= cap
    # always-admit-one: a cap below every file size still makes progress
    rdr2 = _planner_reader(src, maxBytesPerTrigger=1)
    rdr2.initialOffset()
    end = rdr2.latestOffset()
    assert len(end["files"]) == 1


def test_stream_path_accepts_file_uri(spark, tmp_path):
    """A file: URI path (what SQL/managed surfaces hand the source) must
    work end-to-end: schema(), offsets and reads all normalize it the
    way the batch source does."""
    import os

    from hive_dwrf_spark.sources import register
    from hive_dwrf_spark.streaming import stream_dwrf_dir

    register(spark)
    src = str(tmp_path / "src")
    os.makedirs(src)
    write_arrow_table_path = f"{src}/a.dwrf"
    from hive_dwrf_spark.format import write_arrow_table

    write_arrow_table(
        write_arrow_table_path, pa.table({"k": pa.array(np.arange(10))})
    )
    q = (
        stream_dwrf_dir(spark, f"file://{src}")
        .writeStream.format("memory")
        .queryName("file_uri_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    while q.isActive:
        q.awaitTermination(5)
    q.awaitTermination()
    got = sorted(r.k for r in spark.table("file_uri_stream").collect())
    assert got == list(range(10))


def test_columns_option_whitespace_and_unknown_names(spark, tmp_path):
    """'columns' tokens tolerate whitespace ('k, v' selects v, not ' v');
    unknown names raise a clear error naming the column and the available
    fields — not a raw KeyError. Same resolution on batch and stream."""
    import os

    import pytest

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.sources import register
    from hive_dwrf_spark.sources.dwrf_datasource import _project_fields
    from pyspark.sql.types import LongType, StructField

    register(spark)
    src = str(tmp_path / "src")
    os.makedirs(src)
    write_arrow_table(
        f"{src}/a.dwrf",
        pa.table(
            {"k": pa.array([1, 2]), "v": pa.array([10, 20])}
        ),
    )
    df = (
        spark.read.format("dwrf")
        .option("columns", " v , k ")
        .load(src)
    )
    assert df.columns == ["v", "k"]
    assert sorted((r.k, r.v) for r in df.collect()) == [(1, 10), (2, 20)]
    with pytest.raises(Exception, match="unknown column 'nope'.*available"):
        spark.read.format("dwrf").option("columns", "k,nope").load(
            src
        ).schema
    fields = [StructField("k", LongType()), StructField("v", LongType())]
    with pytest.raises(ValueError, match="available: k, v"):
        _project_fields(fields, "missing")


def test_compact_manifest_routes_through_fs_seam(tmp_path, monkeypatch):
    """Manifest compaction on an object-store sink dir: listing, log
    read, rewrite and the commit point all route through the fs seam.
    PrefixMappedFS has no `replace`, so this also exercises the
    whole-object-overwrite fallback (atomic at the PUT level on real
    stores)."""
    import os

    import pyarrow as pa

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.format.fs import _SCHEME_FS, get_fs
    from hive_dwrf_spark.sources.dwrf_datasource import (
        committed_files,
        compact_manifest,
    )

    root = str(tmp_path / "store")
    monkeypatch.setenv("SPARK_GRAFT_FS_MAPPED_ROOT", root)
    monkeypatch.setenv(
        "SPARK_GRAFT_FS_FACTORIES",
        "mock=hive_dwrf_spark.format.memfs:factory",
    )
    _SCHEME_FS.pop("mock", None)
    try:
        out = "mock://bucket/sink"
        write_arrow_table(f"{out}/a.dwrf", pa.table({"k": pa.array([1])}))
        write_arrow_table(f"{out}/b.dwrf", pa.table({"k": pa.array([2])}))
        fs = get_fs(out)
        with fs.open(f"{out}/_batches", "w") as f:
            f.write("#begin\t0\n0\ta.dwrf\t1\n#end\t0\n")
            f.write("#begin\t1\n1\tgone.dwrf\t1\n#end\t1\n")
            f.write("#begin\t2\n2\tb.dwrf\t1\n#end\t2\n")
            f.write("#begin\t3\n3\ttorn.dwrf\t1\n")
        after, before = compact_manifest(out, force=True)
        assert after < before
        assert committed_files(out) == {"a.dwrf", "b.dwrf"}
        with fs.open(f"{out}/_batches", "r") as f:
            text = f.read()
        assert "gone.dwrf" not in text and "torn.dwrf" not in text
        # no bare-os artifacts leaked outside the mapped root
        assert not os.path.exists("mock:")
    finally:
        _SCHEME_FS.pop("mock", None)


def test_compact_sink_preserves_exactly_once(spark, tmp_path):
    """In-place sink compaction: committed small files merge per
    directory (stripe copy), the manifest rewrite keeps committedOnly
    reads exactly-once across the swap, orphans never merge, and the
    crash window between manifest swap and source deletion only leaves
    excluded bytes behind."""
    import os

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.sources import register
    from hive_dwrf_spark.sources.dwrf_datasource import (
        committed_files,
        compact_manifest,
        compact_sink,
    )

    register(spark)
    out = str(tmp_path / "sink")
    os.makedirs(out)
    # 6 committed files across 3 batches + 1 orphan + 1 torn
    rels = []
    with open(f"{out}/_batches", "w") as log:
        k = 0
        for bid in range(3):
            log.write(f"#begin\t{bid}\n")
            for j in range(2):
                rel = f"part-{bid}{j}.dwrf"
                write_arrow_table(
                    f"{out}/{rel}",
                    pa.table({"k": pa.array(np.arange(k, k + 50))}),
                )
                log.write(f"{bid}\t{rel}\t50\n")
                rels.append(rel)
                k += 50
            log.write(f"#end\t{bid}\n")
        log.write("#begin\t3\n3\tpart-torn.dwrf\t1\n")
    write_arrow_table(f"{out}/part-orphan.dwrf", pa.table({"k": pa.array([999])}))
    write_arrow_table(f"{out}/part-torn.dwrf", pa.table({"k": pa.array([998])}))

    before = sorted(
        r.k
        for r in spark.read.format("dwrf")
        .option("committedOnly", "true")
        .load(out)
        .collect()
    )
    assert before == list(range(300))
    rep = compact_sink(out, target_bytes=10 << 20, force=True)
    assert rep["merged_files"] == 1 and rep["files_after"] == 1
    # sources deleted, merged file present, orphan/torn untouched
    disk = {f for f in os.listdir(out) if f.endswith(".dwrf")}
    assert not (disk & set(rels))
    assert "part-orphan.dwrf" in disk and "part-torn.dwrf" in disk
    after = sorted(
        r.k
        for r in spark.read.format("dwrf")
        .option("committedOnly", "true")
        .load(out)
        .collect()
    )
    assert after == before
    # manifest carries the summed row count for the merged entry
    data = [
        ln.rstrip("\n").split("\t")
        for ln in open(f"{out}/_batches")
        if not ln.startswith("#") and ln.strip()
    ]
    merged_line = [p for p in data if p[1].startswith("part-merged-")]
    assert merged_line and merged_line[0][2] == "300"
    # idempotent: nothing left to merge; later compact_manifest keeps it
    rep2 = compact_sink(out, target_bytes=10 << 20, force=True)
    assert rep2["merged_files"] == 0
    compact_manifest(out, force=True)
    assert committed_files(out) & disk == {merged_line[0][1]}


def test_compact_sink_respects_partitions_and_schema(tmp_path):
    """Groups never span hive-partition subdirectories (directory-encoded
    values), and a group with a schema mismatch (sink schema evolution)
    is skipped rather than failing the job."""
    import os

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.sources.dwrf_datasource import compact_sink

    out = str(tmp_path / "sink")
    for part in ("p=a", "p=b"):
        os.makedirs(f"{out}/{part}")
    with open(f"{out}/_batches", "w") as log:
        log.write("#begin\t0\n")
        for part in ("p=a", "p=b"):
            for j in range(2):
                rel = f"{part}/f{j}.dwrf"
                write_arrow_table(
                    f"{out}/{rel}", pa.table({"k": pa.array([1, 2])})
                )
                log.write(f"0\t{rel}\t2\n")
        # schema-evolved pair in its own directory: must be SKIPPED
        os.makedirs(f"{out}/p=c")
        write_arrow_table(f"{out}/p=c/g0.dwrf", pa.table({"k": pa.array([3])}))
        write_arrow_table(
            f"{out}/p=c/g1.dwrf",
            pa.table({"k": pa.array([4]), "extra": pa.array([5])}),
        )
        log.write("0\tp=c/g0.dwrf\t1\n0\tp=c/g1.dwrf\t1\n")
        log.write("#end\t0\n")
    rep = compact_sink(out, target_bytes=10 << 20, force=True)
    assert rep["merged_files"] == 2  # one per partition a/b
    assert rep["skipped_groups"] == 1  # the evolved pair
    merged_dirs = set()
    for root, _d, files in os.walk(out):
        for fn in files:
            if fn.startswith("part-merged-"):
                merged_dirs.add(os.path.basename(root))
    assert merged_dirs == {"p=a", "p=b"}
    # the evolved files are untouched
    assert os.path.exists(f"{out}/p=c/g0.dwrf")
    assert os.path.exists(f"{out}/p=c/g1.dwrf")


def test_compaction_quiesce_guard_and_file_uri(tmp_path):
    """The live-writer quiesce guard (round 12): a _batches log modified
    within quiesce_sec refuses compact_manifest/compact_sink unless
    force=True; a backdated log passes; quiesce_sec=0 disables the
    check. compact_manifest also normalizes file: URIs the way the rest
    of the sink surface does (a file:///dir path used to raise 'not
    under' from rel_subpath)."""
    import os
    import time

    import pytest

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.sources.dwrf_datasource import (
        committed_files,
        compact_manifest,
        compact_sink,
    )

    out = str(tmp_path / "sink")
    os.makedirs(out)
    for j in range(2):
        write_arrow_table(f"{out}/f{j}.dwrf", pa.table({"k": pa.array([j])}))
    with open(f"{out}/_batches", "w") as f:
        f.write("#begin\t0\n0\tf0.dwrf\t1\n0\tf1.dwrf\t1\n#end\t0\n")
        f.write("#begin\t1\n1\tgone.dwrf\t1\n#end\t1\n")

    # fresh mtime: both entry points refuse without force
    with pytest.raises(ValueError, match="live writer"):
        compact_manifest(out)
    with pytest.raises(ValueError, match="live writer"):
        compact_sink(out)
    # quiesce_sec=0 disables; force=True overrides — and a file: URI
    # path resolves (rel_subpath comparison happens on stripped paths)
    after, n_before = compact_manifest(f"file://{out}", quiesce_sec=0)
    assert after < n_before
    # entries whose data file is gone prune away; live files survive
    assert committed_files(out) == {"f0.dwrf", "f1.dwrf"}

    # a quiescent log (backdated mtime) passes without force
    with open(f"{out}/_batches", "a") as f:
        f.write("")  # touch
    old = time.time() - 3600
    os.utime(f"{out}/_batches", (old, old))
    rep = compact_sink(f"file://{out}", target_bytes=64 << 20)
    assert rep["merged_files"] == 1
    back = committed_files(out)
    assert len(back) == 1 and next(iter(back)).startswith("part-merged-")


def _mk_sink(out, names, rows_per=3, batch0=True):
    """A fake quiescent sink dir: one committed batch per name, each file
    holding `rows_per` rows with a distinguishable key column."""
    import os

    os.makedirs(out, exist_ok=True)
    from hive_dwrf_spark.format import write_arrow_table

    with open(f"{out}/_batches", "a") as log:
        for i, n in enumerate(names):
            write_arrow_table(
                f"{out}/{n}",
                pa.table(
                    {"k": pa.array([f"{n}:{j}" for j in range(rows_per)])}
                ),
            )
            log.write(f"#begin\t{i}\n{i}\t{n}\t{rows_per}\n#end\t{i}\n")


def test_compact_sink_records_lineage(tmp_path):
    """compact_sink writes #src lineage lines (source name, verbatim
    stripe span, mtime); manifest_lineage parses them; compact_manifest
    carries reachable entries forward and a second compaction keeps the
    prior generation resolvable (transitive chain)."""
    from hive_dwrf_spark.sources.dwrf_datasource import (
        committed_files,
        compact_sink,
        manifest_lineage,
    )

    out = str(tmp_path / "sink")
    _mk_sink(out, ["a.dwrf", "b.dwrf", "c.dwrf"])
    rep = compact_sink(out, target_bytes=64 << 20, quiesce_sec=0)
    assert rep["merged_files"] == 1
    (m1,) = committed_files(out)
    lin = manifest_lineage(out)
    assert set(lin) == {m1}
    spans = sorted(lin[m1])
    # one stripe per tiny source file, copied in order
    assert [(s[0], s[1], s[2]) for s in spans] == [
        ("a.dwrf", 0, 1),
        ("b.dwrf", 1, 2),
        ("c.dwrf", 2, 3),
    ]
    assert all(s[3] > 0 for s in spans)  # mtimes recorded

    # generation 2: new committed file + re-compaction; m1's lineage must
    # survive (reachable as a source of m2's entry)
    from hive_dwrf_spark.format import write_arrow_table

    write_arrow_table(
        f"{out}/d.dwrf", pa.table({"k": pa.array(["d:0", "d:1", "d:2"])})
    )
    with open(f"{out}/_batches", "a") as log:
        log.write("#begin\t9\n9\td.dwrf\t3\n#end\t9\n")
    rep2 = compact_sink(out, target_bytes=64 << 20, quiesce_sec=0)
    assert rep2["merged_files"] == 1
    (m2,) = committed_files(out)
    lin2 = manifest_lineage(out)
    assert set(lin2) == {m1, m2}, lin2
    assert {s[0] for s in lin2[m2]} == {m1, "d.dwrf"}
    assert lin2[m1] == lin[m1]

    # compact_manifest keeps the reachable chain too
    from hive_dwrf_spark.sources.dwrf_datasource import compact_manifest

    compact_manifest(out, quiesce_sec=0)
    assert manifest_lineage(out) == lin2


def test_uncovered_stripes_resolution():
    """_uncovered_stripes maps offset coverage onto merged stripe
    indices, recursively through generations."""
    from hive_dwrf_spark.streaming.dwrf_stream import _uncovered_stripes

    lineage = {
        "m1": [("a", 0, 2, 100), ("b", 2, 3, 200)],
        "m2": [("m1", 0, 3, 300), ("c", 3, 5, 400)],
    }
    acct = lambda names: (lambda src, mt: src in names)  # noqa: E731
    # plain file: no lineage -> None (caller emits whole file)
    assert _uncovered_stripes("a", lineage, acct(set())) is None
    # all sources covered -> absorb
    assert _uncovered_stripes("m1", lineage, acct({"a", "b"})) == []
    # partial: only b uncovered -> m1 stripe 2
    assert _uncovered_stripes("m1", lineage, acct({"a"})) == [2]
    # chain: m1 itself covered (it was absorbed into the offset earlier)
    assert _uncovered_stripes("m2", lineage, acct({"m1"})) == [3, 4]
    # chain: m1 NOT in offset but its leaves partially are -> recurse:
    # a covered => m1's uncovered is [2] => m2 index 0+2; plus c [3,4]
    assert _uncovered_stripes("m2", lineage, acct({"a"})) == [2, 3, 4]
    # watermark-style accounting via mtime
    wm_acct = lambda src, mt: mt < 250  # noqa: E731
    assert _uncovered_stripes("m1", lineage, wm_acct) == []
    assert _uncovered_stripes("m2", lineage, wm_acct) == [3, 4]


def test_planner_absorbs_and_partially_plans_merged_files(tmp_path):
    """The partition planner under committedOnly: a compact_sink merged
    file whose sources the offset covers plans NOTHING; after another
    commit + re-compaction, only the uncovered source's stripes plan."""
    from pyspark.sql.types import StringType, StructField, StructType

    from hive_dwrf_spark.format import write_arrow_table
    from hive_dwrf_spark.sources.dwrf_datasource import (
        committed_files,
        compact_sink,
    )
    from hive_dwrf_spark.streaming.dwrf_stream import (
        _DwrfPartitionStreamReader,
    )

    out = str(tmp_path / "sink")
    _mk_sink(out, ["a.dwrf", "b.dwrf"])
    schema = StructType([StructField("k", StringType())])
    rdr = _DwrfPartitionStreamReader(
        schema, {"path": out, "committedOnly": "true"}
    )
    rdr.initialOffset()
    o1 = rdr.latestOffset()
    assert set(o1["files"]) == {"a.dwrf", "b.dwrf"}
    assert len(rdr.partitions(rdr.initialOffset(), o1)) >= 1

    # compaction behind the tail: merged name appears, sources vanish
    compact_sink(out, target_bytes=64 << 20, quiesce_sec=0)
    (m1,) = committed_files(out)
    o2 = rdr.latestOffset()
    assert m1 in o2["files"]  # absorbed into the offset (cap bypass)
    assert rdr.partitions(o1, o2) == []  # nothing re-ingests

    # new data + re-compaction into one file: partial planning
    write_arrow_table(
        f"{out}/d.dwrf", pa.table({"k": pa.array(["d:0", "d:1"])})
    )
    with open(f"{out}/_batches", "a") as log:
        log.write("#begin\t9\n9\td.dwrf\t2\n#end\t9\n")
    compact_sink(out, target_bytes=64 << 20, quiesce_sec=0)
    (m2,) = committed_files(out)
    o3 = rdr.latestOffset()
    parts = rdr.partitions(o2, o3)
    # m2 merges m1 (2 stripes, covered by the offset) + d (1 stripe,
    # uncovered): exactly ONE of m2's three stripes may plan, and the
    # emitted rows must be exactly d's
    from hive_dwrf_spark.streaming.dwrf_stream import (
        _lineage_stripe_count,
    )
    from hive_dwrf_spark.sources.dwrf_datasource import manifest_lineage

    total = _lineage_stripe_count(manifest_lineage(out), m2)
    idxs = sorted(i for p in parts for i in p.stripe_indices)
    assert len(idxs) == 1 and total == 3, (idxs, total)
    rows = []
    for p in parts:
        for b in rdr.read(p):
            rows.extend(b.to_pylist())
    assert sorted(r["k"] for r in rows) == ["d:0", "d:1"]

    # a RESTARTED planner resolving from the checkpointed offset makes
    # the same decision (coverage is computed in partitions vs START)
    rdr2 = _DwrfPartitionStreamReader(
        schema, {"path": out, "committedOnly": "true"}
    )
    parts2 = rdr2.partitions(o2, rdr2.latestOffset())
    idxs2 = sorted(i for p in parts2 for i in p.stripe_indices)
    assert idxs2 == idxs, parts2


def _mk_plain_dir(out, names, rows_per=1, mtimes=None):
    import os

    os.makedirs(out, exist_ok=True)
    from hive_dwrf_spark.format import write_arrow_table

    for i, n in enumerate(names):
        write_arrow_table(
            f"{out}/{n}", pa.table({"k": pa.array(list(range(rows_per)))})
        )
        if mtimes:
            os.utime(f"{out}/{n}", (mtimes[i], mtimes[i]))


def test_delta_offsets_emit_resolve_and_compact(tmp_path):
    """Past offsetDeltaThreshold the planner persists a base catalog and
    emits {base_ref, adds, removes, watermark_ns} deltas; partitions()
    resolves them identically to inline offsets; steady-state arrivals
    keep the SAME base_ref with small adds; the base rewrites when the
    delta outgrows the 1% rule."""
    import json
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    from hive_dwrf_spark.streaming.dwrf_stream import (
        _DwrfPartitionStreamReader,
    )

    out = str(tmp_path / "src")
    _mk_plain_dir(out, [f"f{i:03d}.dwrf" for i in range(8)])
    schema = StructType([StructField("k", LongType())])
    rdr = _DwrfPartitionStreamReader(
        schema, {"path": out, "offsetDeltaThreshold": "4"}
    )
    o0 = rdr.initialOffset()
    o1 = rdr.latestOffset()
    # 8 names > threshold 4: delta form, fresh base, empty delta
    assert "base_ref" in o1 and "files" not in o1, o1
    assert not o1.get("adds") and not o1.get("removes")
    base_fp = os.path.join(out, "_dwrf_offsets", o1["base_ref"])
    assert os.path.exists(base_fp)
    doc = json.load(open(base_fp))
    assert len(doc["files"]) == 8
    # the base dir never pollutes the stream's own listing
    parts = rdr.partitions(o0, o1)
    assert len({p.path for p in parts}) == 8

    # steady state: 2 arrivals -> same base_ref, adds only
    _mk_plain_dir(out, ["g0.dwrf", "g1.dwrf"])
    o2 = rdr.latestOffset()
    assert o2["base_ref"] == o1["base_ref"]
    assert set(o2["adds"]) == {"g0.dwrf", "g1.dwrf"} and "removes" not in o2
    parts = rdr.partitions(o1, o2)
    assert {p.path.rsplit("/", 1)[-1] for p in parts} == {
        "g0.dwrf",
        "g1.dwrf",
    }
    # offset bytes: delta ~2 entries vs 10-name catalog
    assert len(json.dumps(o2)) < len(json.dumps({"files": doc["files"]}))

    # outgrow the 1% / 64-name floor is high for this size; force a
    # rewrite by dropping the floor via a tiny base: simulate with many
    # arrivals instead — 70 new files exceed max(64, 10//100)
    _mk_plain_dir(out, [f"h{i:03d}.dwrf" for i in range(70)])
    o3 = rdr.latestOffset()
    assert o3["base_ref"] != o1["base_ref"], o3
    assert not o3.get("adds")
    # resolution across generations: partitions(o2, o3) plans exactly
    # the 70 arrivals
    parts = rdr.partitions(o2, o3)
    assert len({p.path for p in parts}) == 70


def test_delta_offsets_restart_interchange_and_gc(tmp_path):
    """A RESTARTED planner resolves a checkpointed delta offset through
    the base file on disk; base GC keeps the newest 8 generations; a
    rolled-back-too-far ref errors clearly; an unwritable base dir falls
    back to inline offsets."""
    import json
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    from hive_dwrf_spark.streaming.dwrf_stream import (
        _DwrfPartitionStreamReader,
    )

    out = str(tmp_path / "src")
    _mk_plain_dir(out, [f"f{i:03d}.dwrf" for i in range(6)])
    schema = StructType([StructField("k", LongType())])
    opts = {"path": out, "offsetDeltaThreshold": "2"}
    rdr = _DwrfPartitionStreamReader(schema, opts)
    rdr.initialOffset()
    o1 = rdr.latestOffset()
    assert "base_ref" in o1

    # restart: a FRESH planner resolves o1 from disk and plans only the
    # new arrival
    _mk_plain_dir(out, ["g0.dwrf"])
    rdr2 = _DwrfPartitionStreamReader(schema, opts)
    o2 = rdr2.latestOffset()
    parts = rdr2.partitions(o1, o2)
    assert {p.path.rsplit("/", 1)[-1] for p in parts} == {"g0.dwrf"}

    # GC: many generations -> newest 8 kept
    for i in range(12):
        rdr3 = _DwrfPartitionStreamReader(schema, opts)
        rdr3.initialOffset()
        rdr3.latestOffset()  # fresh planner -> new base generation
    bases = sorted(os.listdir(os.path.join(out, "_dwrf_offsets")))
    assert len(bases) == 8, bases
    # a ref older than the retention errors with an explanation
    import pytest

    with pytest.raises(ValueError, match="base catalog"):
        rdr3.partitions(
            {"base_ref": "base-00000001-deadbeef.json", "watermark_ns": 0},
            rdr3.latestOffset(),
        )

    # unwritable base dir: inline fallback (offsets keep working)
    ro = str(tmp_path / "ro_src")
    _mk_plain_dir(ro, [f"f{i}.dwrf" for i in range(4)])
    blocker = str(tmp_path / "ro_src" / "_dwrf_offsets")
    open(blocker, "w").close()  # a FILE where the dir should be
    rdr4 = _DwrfPartitionStreamReader(
        schema, {"path": ro, "offsetDeltaThreshold": "2"}
    )
    rdr4.initialOffset()
    o = rdr4.latestOffset()
    assert "files" in o and len(o["files"]) == 4  # inline fallback


def test_retired_on_disk_files_not_counted_late(tmp_path):
    """A file this planner processed and then RETIRED (aged out) while
    it stayed on disk must not inflate late_files_dropped — only
    never-admitted below-watermark names are refusals."""
    import time

    from pyspark.sql.types import LongType, StructField, StructType

    from hive_dwrf_spark.streaming.dwrf_stream import (
        _DwrfPartitionStreamReader,
    )

    out = str(tmp_path / "src")
    now = time.time()
    _mk_plain_dir(out, ["old.dwrf"], mtimes=[now - 500])
    schema = StructType([StructField("k", LongType())])
    rdr = _DwrfPartitionStreamReader(
        schema, {"path": out, "maxFileAgeSec": "60"}
    )
    rdr.initialOffset()
    o1 = rdr.latestOffset()
    assert "old.dwrf" in o1["files"]
    # a new file advances the watermark past old.dwrf -> it retires but
    # stays on disk
    _mk_plain_dir(out, ["new.dwrf"], mtimes=[now])
    o2 = rdr.latestOffset()
    assert "old.dwrf" not in o2["files"]
    # next trigger re-sees old.dwrf below the watermark: NOT a refusal
    o3 = rdr.latestOffset()
    assert rdr.late_files_dropped == 0, rdr.late_files_dropped
    # a genuinely never-seen backfill still counts
    _mk_plain_dir(out, ["backfill.dwrf"], mtimes=[now - 800])
    rdr.latestOffset()
    assert rdr.late_files_dropped == 1


def test_initial_offset_never_clobbers_anchor(tmp_path):
    """Regression (round 12): the engine calls latestOffset BEFORE
    initialOffset on a new query. Resetting the rate-limit anchor in
    initialOffset made every later capped trigger re-admit
    already-ingested names (oldest-first), so emitted offsets stopped
    being supersets of the checkpoint — duplicated rows whenever a
    backdated backfill sorted below the seed files."""
    import time

    from pyspark.sql.types import LongType, StructField, StructType

    from hive_dwrf_spark.streaming.dwrf_stream import (
        _DwrfPartitionStreamReader,
    )

    out = str(tmp_path / "src")
    now = time.time()
    # seeds NEWER than the backdated backfill that arrives later
    _mk_plain_dir(
        out,
        ["seed0.dwrf", "seed1.dwrf", "seed2.dwrf"],
        mtimes=[now - 2, now - 1.5, now - 1],
    )
    schema = StructType([StructField("k", LongType())])
    rdr = _DwrfPartitionStreamReader(
        schema, {"path": out, "maxFilesPerTrigger": "1"}
    )
    # engine order on a new query: latestOffset first (uncapped superset)
    o1 = rdr.latestOffset()
    assert set(o1["files"]) == {"seed0.dwrf", "seed1.dwrf", "seed2.dwrf"}
    o0 = rdr.initialOffset()  # ...then initialOffset; must not reset
    assert o0["files"] == {}
    # a backdated backlog lands (sorts BELOW every seed)
    _mk_plain_dir(out, ["back.dwrf"], mtimes=[now - 10])
    o2 = rdr.latestOffset()
    # superset invariant: nothing previously admitted may leave, and the
    # only new admission is the backlog file
    assert set(o1["files"]) <= set(o2["files"]), o2
    assert set(o2["files"]) - set(o1["files"]) == {"back.dwrf"}
    # and the planned batch is exactly the backlog, never a seed replay
    names = {
        p.path.rsplit("/", 1)[-1] for p in rdr.partitions(o1, o2)
    }
    assert names == {"back.dwrf"}, names
