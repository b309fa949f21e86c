"""Streaming-source scale stress: does micro-batch cost scale with FILE
COUNT under the partition-planning reader, with rows decoding on
executors?

Round-9 VERDICT item #1's done-criterion: the default DWRF stream path
must not funnel rows through the driver. This harness writes the same
row volume as N vs 10N part files, runs each directory through one
availableNow pass of the DEFAULT (partition-planning) reader into a
memory sink, and records:

- wall seconds per pass + the x10 ratio (file-count scaling);
- planned_partitions from a direct reader.partitions(initial, latest)
  call — executor-side parallelism evidence: one InputPartition per
  (file, stripe-run), exactly like the batch scan;
- a value check (row count + key sum) at both scales, so the ratio is
  never measured over a wrong answer.

Earlier STRESS files also carry ``simple_reader_base_sec``, the same
small-scale pass through the driver-side reader that has since been
deleted (it lost every measurement to the planner).

Usage: python scripts/stress_stream.py [out.json]
Merges a "_streaming_x10" entry into out.json (default STRESS_r10.json).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE_FILES = 20
ROWS_PER_SCALE = 400_000  # same data volume at both scales


def _make_dir(path: str, n_files: int) -> int:
    import numpy as np
    import pyarrow as pa

    from hive_dwrf_spark.format import write_arrow_table

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    per = ROWS_PER_SCALE // n_files
    total = 0
    for i in range(n_files):
        lo = i * per
        ks = np.arange(lo, lo + per, dtype=np.int64)
        write_arrow_table(
            os.path.join(path, f"part-{i:04d}.dwrf"),
            pa.table({"k": ks, "grp": ks % 97}),
            stripe_rows=max(per // 4, 1024),
        )
        total += per
    return total


def _run_stream(spark, src: str, qname: str) -> float:
    from hive_dwrf_spark.streaming import stream_dwrf_dir

    ckpt = f"/tmp/stress_stream_ckpt_{qname}"
    shutil.rmtree(ckpt, ignore_errors=True)
    t0 = time.perf_counter()
    q = (
        stream_dwrf_dir(spark, src)
        .writeStream.format("memory")
        .queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    while q.isActive:
        q.awaitTermination(5)
    q.awaitTermination()
    return time.perf_counter() - t0


def _planned_partitions(src: str) -> int:
    from pyspark.sql.types import LongType, StructField, StructType

    from hive_dwrf_spark.streaming.dwrf_stream import (
        _DwrfPartitionStreamReader,
    )

    schema = StructType(
        [StructField("k", LongType()), StructField("grp", LongType())]
    )
    rdr = _DwrfPartitionStreamReader(schema, {"path": src})
    return len(rdr.partitions(rdr.initialOffset(), rdr.latestOffset()))


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "STRESS_r10.json"
    )
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .appName("stress-stream")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    src1 = "/tmp/stress_stream_x1"
    src10 = "/tmp/stress_stream_x10"
    n1 = _make_dir(src1, BASE_FILES)
    n10 = _make_dir(src10, BASE_FILES * 10)
    expect_sum1 = sum(range(n1))
    expect_sum10 = sum(range(n10))

    _run_stream(spark, src1, "warm")  # JIT + python worker warmup

    base_sec = _run_stream(spark, src1, "s_x1")
    row1 = spark.sql("SELECT count(*) c, sum(k) s FROM s_x1").collect()[0]
    assert (row1.c, row1.s) == (n1, expect_sum1), (row1, n1)

    x10_sec = _run_stream(spark, src10, "s_x10")
    row10 = spark.sql("SELECT count(*) c, sum(k) s FROM s_x10").collect()[0]
    assert (row10.c, row10.s) == (n10, expect_sum10), (row10, n10)

    entry = {
        "files_base": BASE_FILES,
        "files_x10": BASE_FILES * 10,
        "rows_each_scale": ROWS_PER_SCALE,
        "base_sec": round(base_sec, 3),
        "x10_sec": round(x10_sec, 3),
        "ratio": round(x10_sec / base_sec, 2),
        "planned_partitions_x1": _planned_partitions(src1),
        "planned_partitions_x10": _planned_partitions(src10),
    }
    prior = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            prior = json.load(f)
    prior["_streaming_x10"] = entry
    with open(out_path, "w") as f:
        json.dump(prior, f, indent=1, sort_keys=True)
    print(json.dumps(entry, indent=1))
    print(f"-> {out_path}")
    # gate: same data volume across 10x more files must not blow up —
    # per-file planning cost is one footer parse; allow generous noise
    return 0 if entry["ratio"] < 6 else 1


if __name__ == "__main__":
    sys.exit(main())
