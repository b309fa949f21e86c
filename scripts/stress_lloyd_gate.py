"""What kmeans_lloyd's driver-local gate costs on a corpus it turns away.

Synthesizes, in memory, an embedding corpus just over the default gate
(SPARK_GRAFT_CC_LOCAL_THRESHOLD: 2,000,000 quantized values) and times
kmeans_lloyd(...).collect() with the setting unset, where the bounded
collect (operators/util.py::collect_bounded) sizes the corpus, turns it
away and leaves it cached for the distributed loop, against
the setting 0, which skips the gate. The two settings alternate, the
first pair is warm-up, and both must run the distributed loop
(round_times filled) and return the same rows. Prints one JSON line with
the per-run seconds and their medians.

Usage: SPARK_GRAFT_CPUS=4 python scripts/stress_lloyd_gate.py \
           [rows=36000] [dim=64] [pairs=5]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    args = [int(a) for a in sys.argv[1:4]]
    rows, dim, pairs = args + [36_000, 64, 5][len(args):]
    from pyspark.sql import functions as F

    from hive_dwrf_spark.operators.similarity import kmeans_lloyd
    from hive_dwrf_spark.session import get_spark

    spark = get_spark("stress-lloyd-gate")
    spark.sparkContext.setLogLevel("ERROR")
    # deterministic under any partitioning: component j of row id is a
    # hash of (id, j) scaled into [-2, 2)
    corpus = spark.range(0, rows, 1, 8).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.hash("id", F.lit(j)) % 20_000 / 10_000.0).cast("float")
                for j in range(dim)
            ]
        ).alias("embedding"),
    )

    def run(setting):
        if setting is None:
            os.environ.pop("SPARK_GRAFT_CC_LOCAL_THRESHOLD", None)
        else:
            os.environ["SPARK_GRAFT_CC_LOCAL_THRESHOLD"] = setting
        rounds: list = []
        t0 = time.perf_counter()
        got = kmeans_lloyd(
            corpus, "embedding", "vec_id", k=4, rounds=2, round_times=rounds
        ).collect()
        sec = time.perf_counter() - t0
        assert len(rounds) == 2, (setting, rounds)
        return sec, sorted(map(tuple, got))

    times: dict = {"default": [], "zero": []}
    want = None
    for i in range(pairs + 1):
        order = ("default", "zero") if i % 2 == 0 else ("zero", "default")
        for side in order:
            sec, got = run(None if side == "default" else "0")
            want = want or got
            assert got == want, side
            if i:
                times[side].append(round(sec, 3))
    med = {s: round(statistics.median(t), 3) for s, t in times.items()}
    print(
        json.dumps(
            {
                "rows": rows,
                "dim": dim,
                "values": rows * dim,
                "sec": times,
                "median_sec": med,
                "gate_overhead_sec": round(med["default"] - med["zero"], 3),
            }
        ),
        flush=True,
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
