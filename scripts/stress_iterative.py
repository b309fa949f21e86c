"""Per-iteration scale evidence for the two iterative families
(optimization round 13, VERDICT r12 item 8): sim_ivf_lloyd's integer
Lloyd rounds and dedup_semantic's star-contraction component loop,
each timed PER ROUND at sf0.1 and at the 10x synthetic copy — so the
"stage-count-bound by design" claim is a measurement, not prose.

Reuses stress_scale.py's synthesized 10x dataset (key-shifted replicas,
content divergence for documents/embeddings); forces the distributed
component loop with SPARK_GRAFT_CC_LOCAL_THRESHOLD=0 exactly like the
stress harness. The operators expose round_times/iter_times lists for
this script; query paths never set them.

Usage: python scripts/stress_iterative.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE = "/root/testdata/sf0.1"
X10 = "/tmp/stress_sf1"


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "STRESS_r13_iterative.json"
    )
    # force the distributed component and Lloyd loops (the size gates
    # would otherwise collect the sf0.1 edge list and embeddings and
    # measure nothing); both operators read it at call time
    os.environ["SPARK_GRAFT_CC_LOCAL_THRESHOLD"] = "0"

    from stress_scale import synthesize  # noqa: E402

    if not os.path.isdir(X10):
        print("synthesizing 10x copy ...", flush=True)
        synthesize()

    from pyspark.sql import functions as F

    from hive_dwrf_spark.operators import dedup, similarity
    from hive_dwrf_spark.queries.pipeline import _query_vector
    from hive_dwrf_spark.session import get_spark
    from hive_dwrf_spark.tables import load

    spark = get_spark("stress-iterative")
    spark.sparkContext.setLogLevel("ERROR")
    _noop = F.pandas_udf(lambda s: s, "long")
    par = spark.sparkContext.defaultParallelism
    spark.range(0, par * 100, 1, par).select(_noop("id")).count()

    results: dict = {}

    def run_lloyd(sf_dir: str, n_rounds: int = 2) -> dict:
        rounds: list = []
        t0 = time.perf_counter()
        similarity.ivf_lloyd_topk(
            load(spark, sf_dir, "embeddings"),
            "embedding",
            "vec_id",
            _query_vector(spark, sf_dir),
            10,
            n_lists=4,
            nprobe=2,
            rounds=n_rounds,
            round_times=rounds,
        ).collect()
        # only kmeans_lloyd's distributed loop fills round_times, so this
        # proves the env setting above kept the driver-local gate out
        assert len(rounds) == n_rounds, rounds
        return {
            "total_sec": round(time.perf_counter() - t0, 3),
            "round_sec": rounds,
        }

    def run_components(sf_dir: str) -> dict:
        e = load(spark, sf_dir, "embeddings")
        pairs = dedup.cosine_pairs_lsh(e, "embedding", "vec_id", threshold=0.3)
        iters: list = []
        t0 = time.perf_counter()
        n = dedup.connected_components(
            pairs, local_threshold=0, iter_times=iters
        ).count()
        return {
            "total_sec": round(time.perf_counter() - t0, 3),
            "labeled_nodes": int(n),
            # (sec, live_edges_after_contraction) per outer round
            "round_sec_live_edges": iters,
        }

    for label, sf_dir in (("base", BASE), ("x10", X10)):
        spark.sparkContext.setJobDescription(f"stress-iter lloyd {label}")
        results[f"ivf_lloyd_{label}"] = run_lloyd(sf_dir)
        spark.sparkContext.setJobDescription(f"stress-iter cc {label}")
        results[f"semantic_cc_{label}"] = run_components(sf_dir)
        print(label, json.dumps(results[f"ivf_lloyd_{label}"]), flush=True)
        print(label, json.dumps(results[f"semantic_cc_{label}"]), flush=True)
        spark.catalog.clearCache()

    lb, lx = results["ivf_lloyd_base"], results["ivf_lloyd_x10"]
    cb, cx = results["semantic_cc_base"], results["semantic_cc_x10"]
    results["ivf_lloyd_ratio"] = round(lx["total_sec"] / lb["total_sec"], 2)
    results["semantic_cc_ratio"] = round(cx["total_sec"] / cb["total_sec"], 2)
    results["ivf_lloyd_round_ratios"] = [
        round(x / b, 2) for x, b in zip(lx["round_sec"], lb["round_sec"])
    ]
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(f"wrote {out_path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
