"""Scale-stress harness: does each operator's runtime scale ~linearly when
the data grows 10x?

Synthesizes an sf1-equivalent dataset in /tmp by replicating the sf0.1
parquet tables 10x with referentially-consistent key shifts (orderkey /
custkey / suppkey / partkey / doc_id / vec_id / event_id / user_id all move
together, so joins keep their selectivity and dedup keys stay unique), each
replica its own parquet file — the input is genuinely multi-file, so Spark
plans multi-partition scans exactly as it would on a real table.

Then a representative query per plan shape runs once at sf0.1 and once at
the 10x copy on the same local[32] session; the wall-clock ratio is the
evidence. A shape that is secretly quadratic (all-pairs joins, per-group
sorts over the whole table, driver-side collects) shows up as a ratio far
above ~10-15x; the linear shapes land near or below it (fixed overheads
amortize). Heavy all-pairs verifiers (dedup_jaccard, dedup_cosine) are
deliberately excluded — their scale path IS the LSH variant measured here.

Usage: python scripts/stress_scale.py [out.json]
Writes {query: {base_sec, x10_sec, ratio}} plus format write/read scaling.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE = "/root/testdata/sf0.1"
X10 = "/tmp/stress_sf1"  # dir for the default 10x factor
REPLICAS = 10  # default scale factor; override with --replicas=N (30/100
               # runs answer "does the 10x trend HOLD another decade up" —
               # synthesis is the same key-shifted replication, dir
               # /tmp/stress_x{N}, result keys suffixed @x{N})

# key columns to shift per table: (column, period) — period is the key
# stride between replicas, taken as max(key)+1 of the base table
SHIFT = {
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey", "c_nationkey__keep"],
    "supplier": ["s_suppkey", "s_nationkey__keep"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    # dims stay identical (nation/region join keys must not shift)
    "nation": [],
    "region": [],
}

QUERIES = [
    "q01",            # scan + hash agg
    "q04",            # multi-way join (broadcast dims)
    "q10",            # window ranking
    "q12",            # top-k
    "dedup_exact",    # one-shuffle dedup
    "dedup_minhash",  # LSH banding (the dedup scale path)
    "dedup_cosine_lsh",  # LSH-bucketed cosine (the embedding scale path)
    "sim_decontaminate_lsh",  # unbroadcastable-probe decontamination (both
                              # sides scale 10x: corpus AND probe count)
    "sim_ann",        # LSH ANN probe
    "text_quality",   # pure-JVM text features
    "text_chunk",     # scan-stage explode
    "sample_temperature",  # broadcast-rates sampling
    "events_funnel",  # staged co-partitioned joins
    "events_moving_window",  # time-RANGE frame over epoch micros
    "text_winnow",    # per-char window functions (heaviest row expansion)
    "dedup_winnow",   # fingerprint join with df cap
    "pipeline_curate",  # composed curation pass
    "text_decontaminate",  # broadcast semi-join
    "pipeline_source_cap",  # two-phase skew-safe per-group top-n
    "sample_epoch_shuffle",  # range exchange + prefix offsets
    "sketch_cms",     # fixed-size sketch aggregate
    "sketch_bloom",   # sparse bit_or membership filter + probe join
    "text_clf_score",  # projection + hash agg inference
    "sample_mixture",  # broadcast rates + projection expansion
    "dedup_incremental",  # batch-touching-only LSH pairing
    "multimodal_phash_pairs",  # banded Hamming join over stub pHash
    "events_gap_fill",  # calendar-bounded grid + per-user window fill
    "text_line_dedup",  # count-distinct chunk df + doc-keyed reassembly
    "text_quality_calibrated",  # per-source window rank cut
    "entity_fuzzy_match",  # distinct-first token blocking + levenshtein
    "graph_pagerank",  # pregel iterations, integer fixed-point; the
                       # CC_LOCAL_THRESHOLD=0 env below also forces
                       # pagerank past its small-graph gate, so both
                       # scales measure the distributed loop
    "dedup_semantic",  # LSH pairs -> pointer-doubling components -> anti-join
    # components at scale are measured through their LSH-bounded pair
    # inputs (dedup_semantic above, dedup_winnow_resolve below). The
    # registry's dedup_components/dedup_resolve queries feed the ALL-PAIRS
    # Jaccard verifier — the documented small-side tool — so their stress
    # ratios would measure the O(n^2) edge generator, not the loop: at
    # sf0.1 the loop itself is 4 pointer-doubling rounds / ~6 s on 17.8M
    # directed edges.
    "dedup_winnow_resolve",  # winnow fingerprint pairs -> components -> anti-join
    "graph_triangles",  # degree-ordered wedge join: work bounded by
                        # sum(min-degree) edge orientation, not deg^2
    "orders_itemsets",  # basket-array pair expansion (bounded by basket size)
    "sample_reservoir",  # TakeOrderedAndProject: per-partition O(k) heaps
    "sketch_quantile",  # one combinable bin aggregate + catalog-side finish
    "skew_join",        # salted broadcast join on a hot-keyed fact side
    "pipeline_budget_select",  # histogram threshold + boundary-bin window
    "embedding_gram",   # batch-count-independent d^2 partials
    "text_inverted_index",  # tf agg + df gate + rank-pushdown window
    "interval_join",    # bucket-burst overlap equi-join (output-bound)
    "graph_communities",  # majority-vote LPA: per-round edge-state join
    "sim_random_projection",  # shuffle-free codegen'd JL reduction
    "sample_split_grouped",   # per-row group-keyed hash split + count
    "embedding_kmeans",       # broadcast-centroid Lloyd rounds, k*d shuffle
    "sim_ivf_lloyd",          # Lloyd index + probe + TakeOrdered ranking
    "pipeline_drift_psi",     # two bin-sketch scans + catalog-side finish
    "embedding_pca",          # gram + sum scans, driver d^2 fetch only
    "events_outliers_mad",    # three sketch/count passes, 1-row broadcasts
    "sketch_join_size",       # two CMS builds + catalog-sized inner product
    "sample_bootstrap_ci",    # one B-key combinable aggregate + B-row pick
    "sketch_quantile_merge",  # two half sketches + per-bin sum merge
    "pipeline_fk_check",      # three anti-joins + row totals
    "streaming_drift_psi",    # streamed bin-sketch state + PSI finish
    "pipeline_drift_by_segment",  # grouped sketches + per-group windows
    "text_regex_tokens",      # one regexp_extract_all projection + agg
    "pipeline_rate_ci",       # one combinable k/n aggregate + group table
    "format_point_lookup",    # ROW_INDEX stride seeks: lookup count grows
                              # with rows but each lookup stays one stride
    "format_point_lookup_batch",  # multi-file batched lookup: footer stats
                                  # prune files, strides decode once per
                                  # batch (key count grows with rows; read
                                  # ratio_per_output_row, not ratio)
    "format_broadcast_join",  # footer-stats hint: dim broadcasts at any
                              # fact scale (the hint side stays 25 rows)
]


def synthesize(replicas: int = REPLICAS, xdir: str = X10) -> None:
    import duckdb

    if os.path.isdir(xdir):
        shutil.rmtree(xdir)
    os.makedirs(xdir)
    con = duckdb.connect()
    for table, keys in SHIFT.items():
        src = f"{BASE}/{table}.parquet"
        outdir = f"{xdir}/{table}.parquet"
        os.makedirs(outdir)
        shift_cols = [k for k in keys if not k.endswith("__keep")]
        periods = {}
        for k in shift_cols:
            periods[k] = con.sql(
                f"SELECT max({k}) + 1 FROM read_parquet('{src}')"
            ).fetchone()[0]
        for i in range(replicas):
            replaces = [f"{k} + {i * periods[k]} AS {k}" for k in shift_cols]
            # content columns must differ per replica, or dedup/similarity
            # operators would see every doc 10x (cluster growth quadratic by
            # data construction, telling us nothing about the algorithm):
            # - text: per-replica vowel rotation changes most words, so
            #   shingle sets / fingerprints / embeddings of copies diverge
            # - embedding: circular shift by i decorrelates replica vectors
            #   while preserving norms and the overall distribution
            if table == "documents" and i > 0:
                # 10-char alphabet, shift 1..9: never the identity mapping
                # two composed rotations over DISJOINT 10-char alphabets
                # keyed by i%10 and (i//10)%10: period 100, so replicas
                # stay textually divergent up to --replicas=100 (a single
                # rotation cycles at 10 and higher factors would replicate
                # TRUE duplicates, exploding dedup pair counts by
                # construction instead of measuring the algorithm)
                a1, a2 = "aeiousnrtl", "cdmphgbfwk"
                r1 = a1[i % 10:] + a1[: i % 10]
                r2 = a2[(i // 10) % 10:] + a2[: (i // 10) % 10]
                replaces.append(
                    f"translate(translate(text, '{a1}', '{r1}'), "
                    f"'{a2}', '{r2}') AS text"
                )
            if table == "embeddings" and i > 0:
                # Rademacher sign pattern keyed by replica: exact norm
                # preservation, ~zero expected cosine between any two
                # replicas of the same vector (a circular shift is NOT
                # enough — clustered embeddings correlate at small shifts)
                dim = con.sql(
                    f"SELECT len(embedding) FROM read_parquet('{src}') "
                    "LIMIT 1"
                ).fetchone()[0]
                comps = ", ".join(
                    f"embedding[{k + 1}] * "
                    f"{1 if (hash((i, k)) & 1) == 0 else -1}"
                    for k in range(dim)
                )
                replaces.append(f"CAST([{comps}] AS FLOAT[]) AS embedding")
            sel = "*" if not replaces else f"* REPLACE ({', '.join(replaces)})"
            con.sql(
                f"COPY (SELECT {sel} FROM read_parquet('{src}')) TO "
                f"'{outdir}/part-{i:02d}.parquet' (FORMAT PARQUET)"
            )


def main() -> int:
    argv = [
        a
        for a in sys.argv[1:]
        if not a.startswith("--")
    ]
    only: list[str] | None = None
    replicas = REPLICAS
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = a.split("=", 1)[1].split(",")
        if a.startswith("--replicas="):
            replicas = int(a.split("=", 1)[1])
    out_path = argv[0] if argv else os.path.join(REPO, "STRESS_r03.json")
    run_queries = only if only is not None else QUERIES
    # --only merges the named shapes into an existing out JSON (the rest
    # of the file is preserved) and skips the format-core step
    prior: dict[str, dict] = {}
    if only is not None and os.path.exists(out_path):
        with open(out_path) as f:
            prior = json.load(f)
    # stress always measures the DISTRIBUTED connected-components,
    # PageRank and Lloyd loops — their driver-local gates (read at call
    # time) would otherwise hide their scaling
    os.environ["SPARK_GRAFT_CC_LOCAL_THRESHOLD"] = "0"
    xdir = X10 if replicas == REPLICAS else f"/tmp/stress_x{replicas}"
    # --reuse skips synthesis when the replica dir is already on disk
    # (it is a pure function of (BASE, replicas), so re-use is safe)
    if "--reuse" in sys.argv and os.path.isdir(xdir):
        print(f"reusing {xdir}", flush=True)
    else:
        print(f"synthesizing {replicas}x dataset ...", flush=True)
        t0 = time.perf_counter()
        synthesize(replicas, xdir)
        print(f"  done in {time.perf_counter() - t0:.1f}s", flush=True)

    from pyspark.sql import SparkSession

    from hive_dwrf_spark.queries import load_registry

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .appName("stress")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = load_registry()

    results: dict[str, dict] = dict(prior)
    for name in run_queries:
        fn = queries[name]
        fn(spark, BASE).collect()  # warm (JIT + python workers)
        t0 = time.perf_counter()
        n_base = fn(spark, BASE).count()
        base_sec = time.perf_counter() - t0
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        n_x10 = fn(spark, xdir).count()
        x10_sec = time.perf_counter() - t0
        spark.catalog.clearCache()
        # measurement isolation (same rationale as bench.py): a query must
        # not be taxed for the allocations of a heavy predecessor
        spark._jvm.System.gc()
        rkey = name if replicas == REPLICAS else f"{name}@x{replicas}"
        results[rkey] = {
            "base_sec": round(base_sec, 3),
            "x10_sec": round(x10_sec, 3),
            "factor": replicas,
            "ratio": round(x10_sec / base_sec, 2),
            "rows_base": n_base,
            "rows_x10": n_x10,
        }
        # output-normalized ratio: for lookup/enumeration-shaped queries
        # the OUTPUT row count itself grows with the data (10x rows ->
        # 10x lookups), so the raw wall ratio overstates scaling; the
        # per-output-row ratio is the honest per-unit cost trend (flat
        # ~1.0 = each lookup/row costs the same at 10x data)
        growth = n_x10 / max(n_base, 1)
        if growth > 1.01:
            results[rkey]["ratio_per_output_row"] = round(
                x10_sec / base_sec / growth, 2
            )
        elif growth < 0.99:
            # output SHRANK while input grew: scaling up the synthetic
            # corpus can merge groups/clusters (e.g. dedup_semantic at
            # threshold 0.3 — the replica sign-flip zeroes MEAN cosine
            # but not the >=0.3 tail of clustered base vectors, so the
            # replicas fuse into one giant near-dup component and one
            # canonical row survives). The ratio is then a WORST-CASE
            # measurement (densest component / fewest groups), not a
            # per-row cost trend; the note keeps the row self-explaining.
            results[rkey]["note"] = (
                "output shrank at scale: replication merged groups, ratio"
                " measures the worst-case (densest) group shape"
            )
        print(
            f"{rkey}: {base_sec:.2f}s -> {x10_sec:.2f}s "
            f"(x{x10_sec / base_sec:.1f}, rows {n_base} -> {n_x10})",
            flush=True,
        )

    # format core: write + read the 10x lineitem as DWRF, single thread
    if only is not None:
        with open(out_path, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
        print(f"-> {out_path} (merged {len(run_queries)} shapes)")
        return _gate(results)
    try:
        import pyarrow.parquet as pq

        from hive_dwrf_spark.format import write_arrow_table
        from hive_dwrf_spark.format.reader import DwrfFile

        table = pq.read_table(f"{xdir}/lineitem.parquet")
        out = "/tmp/stress_lineitem.dwrf"
        write_arrow_table(out, table)  # warm
        t0 = time.perf_counter()
        write_arrow_table(out, table)
        w = time.perf_counter() - t0
        with DwrfFile(out) as f:
            f.read()
        t0 = time.perf_counter()
        with DwrfFile(out) as f:
            f.read()
        r = time.perf_counter() - t0
        results["_format_x10"] = {
            "rows": table.num_rows,
            "write_sec": round(w, 3),
            "read_sec": round(r, 3),
            "write_mrows_per_sec": round(table.num_rows / w / 1e6, 2),
            "read_mrows_per_sec": round(table.num_rows / r / 1e6, 2),
        }
        print(f"format 10x: write {w:.2f}s read {r:.2f}s", flush=True)
        os.remove(out)
    except Exception as ex:  # noqa: BLE001
        results["_format_x10"] = {"error": str(ex)[:200]}

    with open(out_path, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(f"-> {out_path}")
    return _gate(results)


def _gate(results: dict[str, dict]) -> int:
    # superlinear gate, normalized by output growth: a fixed-threshold
    # similarity query over 10x more vectors legitimately has ~100x more
    # true pairs (pair count is quadratic in n by geometry); the algorithm
    # is healthy as long as runtime doesn't outgrow max(data, output)
    bad = []
    for n, v in results.items():
        if n.startswith("_") or "ratio" not in v:
            continue
        out_growth = v["rows_x10"] / max(v["rows_base"], 1)
        factor = v.get("factor", 10)
        allowed = max(2.5 * factor, 2.5 * out_growth)
        if v["ratio"] > allowed:
            bad.append(n)
    if bad:
        print(f"SUPERLINEAR: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
