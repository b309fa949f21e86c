"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Protocol (BASELINE.md §3): warm session, N runs per query, median
sec/query; `value` is the sum of medians over the headline set. Also
reports bytes-on-disk for lineitem as DWRF vs parquet (format-level
compression sanity vs the reference's golden-dump ratio)."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("BENCH_RUNS", "3"))

# the host-quietness threshold for the numpy-mod probe below; the quiet
# steady state on this class of host is ~4.3 ns/elem (BASELINE.md §3).
# Calibration (round 11): a run with probes at 5.0-5.1 showed the full
# control-triad inflation (q04 1.26, pagerank 2.74, total +18%), so even
# modest probe excursions mean a noisy window — the threshold hugs the
# steady state. Artifacts carry the raw numbers; the flag is advisory.
PROBE_QUIET_NS = 4.8

# The decisive quiet gate (BASELINE.md §3): three stable headline
# queries whose quiet-window medians are pinned across rounds. Probes
# and JVM throughput DECOUPLE on this host (round 11: probes 5.4-5.8
# with clean controls, total below the prior round), so an artifact is
# judged quiet by the CONTROL TRIAD; the probe fields are recorded
# context.
#
# Bands RECALIBRATED for the round-12 optimized code (the round-11
# bands q04<=1.15 / q18<=1.40 / pagerank<=2.45 were set against
# pre-optimization quiet medians of 1.0/1.2/2.1; after the round-12
# speedups the quiet medians are q04 0.51 / q18 1.05 / pagerank 0.67,
# so a window 60%+ degraded still passed the old bands — observed in
# this round's first baseline attempt, 73.8 s total with "clean"
# controls, kept as BENCH_r12_opt1_noisy_baseline.json). New bands hug
# the r12-quiet medians at ~1.25x; the noisy signature remains "all
# three inflate together".
CONTROL_BANDS = {"q04": 0.65, "q18": 1.30, "graph_pagerank": 0.85}


def classify_controls(per_query: dict, bands: dict = None) -> str:
    """Disambiguate "host busy" from "code got slower" when the control
    triad is out of band (optimization round 13; the bands alone cannot
    tell the two apart — a genuinely regressed control would make every
    future window read "noisy" and no quiet artifact could ever stamp
    the regression).

    The two failure modes have distinct signatures, measured across the
    round-11/12 noisy artifacts: ambient host noise (hypervisor steal)
    inflates ALL THREE controls together by comparable factors
    (observed band-ratios 1.13-1.43 within one window, max/min <= 1.3),
    while a code regression is query-shaped — it moves the control(s)
    sharing the regressed operator and leaves the rest in band.

    Returns one of:
      "quiet"             — all controls within their bands
      "noisy_host"        — ALL controls out of band by comparable
                            factors (max/min band-ratio <= 2.0): the
                            uniform-steal signature
      "suspect_regression" — a PARTIAL or wildly uneven excursion: at
                            least one control in band while another is
                            out, or ratios spread beyond 2.0. Protocol:
                            ABBA the control queries against the prior
                            round's checkout before accepting any bench
                            from such a window (the recorded artifact
                            cannot adjudicate this by itself). A control
                            missing from per_query (it failed, or was
                            dropped) also lands here: an absent
                            measurement cannot vouch for a quiet window."""
    bands = bands or CONTROL_BANDS
    if any(per_query.get(name) is None for name in bands):
        return "suspect_regression"
    ratios = [per_query[name] / band for name, band in bands.items()]
    if all(r <= 1.0 for r in ratios):
        return "quiet"
    if all(r > 1.0 for r in ratios) and max(ratios) / min(ratios) <= 2.0:
        return "noisy_host"
    return "suspect_regression"


def host_probe_ns_per_elem() -> float:
    """ns per element of a numpy int64 modulo over 20M elements, min of
    5 — the quiet-host probe (BASELINE.md §3). Recorded INSIDE every
    artifact (start + end) so a bench that landed in a noisy host window
    is visible in the artifact itself instead of reading as a phantom
    per-query regression. Protocol: only stamp an artifact 'final' when
    both probes are quiet; for any per-query delta >1.3x vs the prior
    round, ABBA the two checkouts before accepting the delta as real."""
    import numpy as np

    arr = np.arange(20_000_000, dtype=np.int64)
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        arr % 7
        best = min(best, time.perf_counter() - t0)
    return round(best / arr.size * 1e9, 3)

# Headline set: the relational core (scan/agg/joins/window/sort/distinct),
# events aggregation, a DWRF round-trip, and the pipeline operators that
# matter at scale. Heavy all-pairs verifiers (dedup_jaccard/dedup_cosine)
# are correctness queries, not throughput headlines.
HEADLINE = [
    "q01",
    "q02",
    "q03",
    "q04",
    "q05",
    "q06_semi",
    "q07",
    "q08",
    "q09",
    "q10",
    "q11",
    "q12",
    "q13_intersect",
    "q14",
    "q15",
    "q16",
    "q19",
    "q20",
    "q21_cube",
    "q27_percentile",
    "q31_udtf",
    "q33_exists",
    "q18",  # DWRF format round-trip (write+read through our DataSource)
    "dedup_exact",
    "dedup_minhash",
    "sim_topk",
    "asof_join",
    "text_tokens_top",
    "text_quality",
    "multimodal_decode",
    "sample_fraction",
    "pipeline_curate",
    "text_decontaminate",
    "text_bm25",
    "text_pack",
    "pii_redact",
    "events_funnel",
    "events_histogram",
    "pipeline_scd2",
    "text_chunk",
    "sample_temperature",
    "text_winnow",
    "pipeline_source_cap",
    "sketch_cms",
    "text_tfidf",
    "text_lm_score",
    "sample_epoch_shuffle",
    "text_bpe_merges",
    "text_clf_score",
    "sample_mixture",
    "sketch_hll_merge",
    "dedup_semantic",
    "multimodal_phash_pairs",
    "events_gap_fill",
    "text_line_dedup",
    "text_quality_calibrated",
    "entity_fuzzy_match",
    "graph_pagerank",
    "pipeline_dataset_diff",
    "events_gap_interpolate",
    "sim_decontaminate",
    "events_changepoint",
    "orders_itemsets",
    "events_markov",
    "events_attribution",
    "events_rolling_median",
    "text_novelty",
    # round-6 additions
    "sim_random_projection",
    "embedding_kmeans",
    "sim_ivf_lloyd",
    # round-7 additions (format surface: stride seeks / footer-stats hint)
    "format_point_lookup",
    "format_broadcast_join",
    # round-8 additions (serving-shape batch lookup over multi-file dirs)
    "format_point_lookup_batch",
    # round-9 addition (the graceful-degradation valve engaged: capped
    # LSH candidates + exact verify — must stay near the uncapped cost
    # at sane density)
    "dedup_cosine_lsh_capped",
    # round-10 addition (read-time CRC verification engaged on the scan;
    # the isolated on/off tax is the dwrf_read_verify_* extras pair)
    "format_verify_on_read",
]


def main() -> None:
    from hive_dwrf_spark.queries import load_registry
    from hive_dwrf_spark.session import get_spark

    probe_start = host_probe_ns_per_elem()
    spark = get_spark("hive-dwrf-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = load_registry()

    # warm the JVM + the Python-UDF worker pool once (BASELINE.md §3 warm
    # protocol): a trivial pandas UDF over one partition per core forks
    # every worker before any timed query runs
    from pyspark.sql import functions as F

    # no type hints: `from __future__ import annotations` stringifies them,
    # which pandas_udf's signature inference rejects
    _noop = F.pandas_udf(lambda s: s, "long")
    par = spark.sparkContext.defaultParallelism
    spark.range(0, par * 100, 1, par).select(_noop("id")).count()
    # warm the scan + hash-agg + sort codegen paths (C2 JIT) so the first
    # timed queries measure the engine, not JVM compilation
    queries["q03"](spark, SF_DIR).collect()
    queries["q01"](spark, SF_DIR).collect()
    queries["q01"](spark, SF_DIR).collect()

    per_query: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        fn(spark, SF_DIR).collect()  # per-query warmup run, untimed
        times = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).collect()
            times.append(time.perf_counter() - t0)
        per_query[name] = round(statistics.median(times), 4)
        # operators that persist an intermediate (minhash signatures, bm25
        # per-doc frame) cannot unpersist before the caller consumes the
        # result; drop those blocks here so leaked cache from earlier
        # queries never pressures later measurements, and collect garbage
        # so a late query isn't taxed for the allocations of 30 earlier
        # ones (measurement isolation, not a production setting)
        spark.catalog.clearCache()
        spark._jvm.System.gc()

    # format sanity: DWRF vs parquet bytes for lineitem at this SF
    extras = {}
    try:
        import pyarrow.parquet as pq

        from hive_dwrf_spark.format import write_arrow_table

        src = os.path.join(SF_DIR, "lineitem.parquet")
        table = pq.read_table(src)
        out = "/tmp/bench_lineitem.dwrf"

        # min-of-5 for the sub-second format microbenchmarks: this host's
        # wall-time noise (bench-host variance, BASELINE.md round-5 note)
        # is multiplicative and strictly positive, so the MIN is the
        # highest-fidelity estimate of the code's cost; single shots have
        # masqueraded as phantom regressions across rounds
        def best_of(fn, n=5):
            ts = []
            for _ in range(n):
                t0 = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - t0)
            return round(min(ts), 4)

        write_arrow_table(out, table)  # warm: compressor pool + native codecs
        extras["dwrf_write_sec"] = best_of(lambda: write_arrow_table(out, table))
        extras["dwrf_bytes"] = os.path.getsize(out)
        extras["parquet_bytes"] = os.path.getsize(src)
        extras["dwrf_bytes_per_row"] = round(os.path.getsize(out) / table.num_rows, 2)

        # read throughput, same table: our decoder (stripe/column thread
        # pool) vs pyarrow's parallel C++ parquet reader
        from hive_dwrf_spark.format.reader import DwrfFile

        with DwrfFile(out) as f:  # warm page cache
            f.read()

        def _read_dwrf():
            with DwrfFile(out) as f:
                f.read()

        extras["dwrf_read_sec"] = best_of(_read_dwrf)
        extras["parquet_read_sec"] = best_of(lambda: pq.read_table(src))

        # read-time CRC verification tax: the same scan over a
        # checksummed copy with verify_checksums on vs off — the
        # measured price of option("verifyOnRead","true") (a crc32 pass
        # over each stripe's bytes before its first decode)
        out_crc = "/tmp/bench_lineitem_crc.dwrf"
        write_arrow_table(out_crc, table, checksums=True)

        def _read_crc(verify):
            def go():
                with DwrfFile(out_crc, verify_checksums=verify) as f:
                    f.read()

            return go

        # warm both paths untimed (the first reads after the write pay
        # page-cache and allocator warmup that would land on whichever
        # variant runs first and masquerade as a verification delta)
        _read_crc(False)()
        _read_crc(True)()
        _read_crc(False)()
        extras["dwrf_read_verify_off_sec"] = best_of(_read_crc(False))
        extras["dwrf_read_verify_on_sec"] = best_of(_read_crc(True))

        # decode-gap attribution (scripts/decode_gap.py protocol): the raw
        # zlib floor — every compressed block of every stream decompressed
        # with ZERO decode, serial. The share of (dwrf_serial - parquet)
        # that this floor explains is the intrinsic-codec fraction of the
        # scan gap; the rest is our RLE/assembly logic.
        import zlib as _zlib

        from hive_dwrf_spark.format.reader import _StripeDecoder

        blocks = []
        with DwrfFile(out) as f:
            for si in range(len(f.footer.stripes)):
                dec = _StripeDecoder(f, f.footer.stripes[si])
                for (col, kind), (off, ln) in dec._ranges.items():
                    raw = bytes(dec._raw_slice(off, ln))
                    pos = 0
                    while pos < len(raw):
                        header = int.from_bytes(raw[pos : pos + 3], "little")
                        pos += 3
                        bl = header >> 1
                        if not header & 1:
                            blocks.append(raw[pos : pos + bl])
                        pos += bl

        def _zlib_floor():
            for b in blocks:
                _zlib.decompress(b, -15)

        extras["dwrf_zlib_floor_sec"] = best_of(_zlib_floor)

        # COLD point-lookup latency: a fresh handle, one pass over 20
        # spread rows — footer parse amortized, every stride decode paid.
        # This is the floor the stride-array LRU cannot help; the warm
        # metrics below are the serving steady state it does.
        with DwrfFile(out) as f:
            n_rows = f.num_rows
            targets = list(range(0, n_rows, max(1, n_rows // 20)))[:20]
            t0 = time.perf_counter()
            for r in targets:
                f.read_row(r)
            extras["dwrf_point_lookup_cold_ms"] = round(
                (time.perf_counter() - t0) / len(targets) * 1000, 3
            )

        # point-lookup latency (ROW_INDEX stride seek, reused decoder +
        # handle-level stride-array LRU): ms per read_row over 20 spread
        # rows, min-of-5 passes, all on ONE open handle warmed by one
        # full pass — the serving steady state (repeat reads of a hot
        # working set; a fresh handle per pass would re-pay footer parse
        # + cache fill and overstate the reused-decoder latency)
        with DwrfFile(out) as f:
            n_rows = f.num_rows
            targets = list(range(0, n_rows, max(1, n_rows // 20)))[:20]
            f.read_row(targets[0])  # warm decoder/dictionary caches

            def _lookups():
                for r in targets:
                    f.read_row(r)

            extras["dwrf_point_lookup_ms"] = round(
                best_of(_lookups) / len(targets) * 1000, 3
            )

            # batched variant: the same handle, 500 spread rows in ONE
            # read_rows_at pass — per-row cost with stride decodes
            # amortized across the batch
            many = list(range(0, n_rows, max(1, n_rows // 500)))[:500]
            f.read_rows_at(many[:10])  # warm

            def _batch():
                f.read_rows_at(many)

            extras["dwrf_point_lookup_batch_ms"] = round(
                best_of(_batch) / len(many) * 1000, 4
            )

        # 32-client concurrent lookups over ONE shared handle (thread
        # pool): per-lookup wall latency under serving-path contention —
        # decoder caches are shared, the GIL serializes Python-side
        # assembly while pread/zlib release it
        from concurrent.futures import ThreadPoolExecutor

        with DwrfFile(out) as f:
            f.read_row(targets[0])  # warm shared caches

            def _client(_):
                for r in targets:
                    f.read_row(r)

            with ThreadPoolExecutor(max_workers=32) as pool:
                list(pool.map(_client, range(32)))  # warm pool + caches
                t0 = time.perf_counter()
                list(pool.map(_client, range(32)))
                wall = time.perf_counter() - t0
            extras["dwrf_point_lookup_concurrent32_ms"] = round(
                wall / (32 * len(targets)) * 1000, 3
            )

        # format parity vs the reference golden dump (BASELINE.md §3): the
        # EXACT TestFileDump.java:122-143 table, bit-for-bit — 21k rows of
        # struct<i:int,l:bigint,s:string> where every row is
        # (n, n + 2^31-1, words[n]) for n = Random(1).nextInt(85), via a
        # java.util.Random LCG clone. Reference data-area on this data is
        # ≈5.8 B/row (SNAPPY, all-DIRECT encodings); we measure the data
        # area the same way (sum of stripe dataLength / rows).
        import pyarrow as pa

        from hive_dwrf_spark.format.reader import DwrfFile

        class _JavaRandom:
            """java.util.Random: 48-bit LCG, publicly specified."""

            def __init__(self, seed: int):
                self.seed = (seed ^ 0x5DEECE66D) & ((1 << 48) - 1)

            def next_int(self, bound: int) -> int:
                while True:
                    self.seed = (self.seed * 0x5DEECE66D + 0xB) & ((1 << 48) - 1)
                    bits = self.seed >> 17
                    val = bits % bound
                    if bits - val + (bound - 1) < (1 << 31):
                        return val

        words = (
            "It was the best of times, it was the worst of times, "
            "it was the age of wisdom, it was the age of foolishness, "
            "it was the epoch of belief, it was the epoch of incredulity, "
            "it was the season of Light, it was the season of Darkness, "
            "it was the spring of hope, it was the winter of despair, "
            "we had everything before us, we had nothing before us, "
            "we were all going direct to Heaven, "
            "we were all going direct the other way"
        ).split(" ")
        assert len(words) == 85
        ng = 21_000
        r1 = _JavaRandom(1)
        nums = [r1.next_int(85) for _ in range(ng)]
        gtable = pa.table(
            {
                "i": pa.array(nums, type=pa.int32()),
                "l": pa.array([n + 2147483647 for n in nums], type=pa.int64()),
                "s": pa.array([words[n] for n in nums], type=pa.string()),
            }
        )
        gout = "/tmp/bench_golden.dwrf"
        write_arrow_table(
            gout,
            gtable,
            compression_block_size=10_000,
            row_index_stride=10_000,
            stripe_size=100_000,
        )
        with DwrfFile(gout) as gf:
            data_bytes = sum(s.dataLength for s in gf.footer.stripes)
        extras["golden_data_bytes_per_row"] = round(data_bytes / ng, 2)
        # cross-engine signal on the identical table (no C snappy in this
        # environment, so our file is zlib — parquet gets its default too):
        import pyarrow.parquet as pqw

        pqw.write_table(gtable, "/tmp/bench_golden.parquet")
        extras["golden_parquet_bytes_per_row"] = round(
            os.path.getsize("/tmp/bench_golden.parquet") / ng, 2
        )
        extras["golden_reference_bytes_per_row"] = 5.8
    except Exception as ex:  # format sanity must not sink the bench
        extras["format_error"] = str(ex)[:200]

    total = round(sum(per_query.values()), 4)
    probe_end = host_probe_ns_per_elem()
    # in-artifact control-triad verdict: an artifact with host_quiet
    # false but clean controls is self-explaining without BASELINE.md
    controls = {
        name: {
            "sec": per_query.get(name),
            "band_max_sec": band,
            "within": (
                per_query.get(name) is not None
                and per_query[name] <= band
            ),
        }
        for name, band in CONTROL_BANDS.items()
    }
    artifact = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": os.path.basename(os.path.normpath(SF_DIR)),
        "probe_ns_per_elem_start": probe_start,
        "probe_ns_per_elem_end": probe_end,
        "host_quiet": max(probe_start, probe_end) <= PROBE_QUIET_NS,
        "controls_quiet": {
            "triad": controls,
            "quiet": all(c["within"] for c in controls.values()),
            "signature": classify_controls(per_query),
        },
        "extras": extras,
    }
    # The PRINTED line is bounded (optimization round 13): the driver's
    # artifact capture keeps only a ~2000-char stdout tail, and the full
    # artifact outgrew it two rounds running (BENCH_r10/r11 tails were
    # head-truncated JSON, so PERF_r11/r12 lost every round-over-round
    # speedup). Same metric, same value, same queries (3-decimal — the
    # timing loop and medians are UNCHANGED, only the printed rounding),
    # compact separators; `extras` and the per-control triad detail move
    # to BENCH_LAST.json, which keeps the full-precision artifact.
    compact = {
        "metric": artifact["metric"],
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in per_query.items()},
        "sf": artifact["sf"],
        # short keys in the PRINTED line only (byte budget); the full
        # names live in BENCH_LAST.json
        "probe_start": probe_start,
        "probe_end": probe_end,
        "host_quiet": artifact["host_quiet"],
        "controls_quiet": {
            "quiet": artifact["controls_quiet"]["quiet"],
            "signature": artifact["controls_quiet"]["signature"],
        },
    }
    print(json.dumps(compact, separators=(",", ":")))
    # the sibling file is the lossless copy (full extras + triad detail)
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST.json"),
            "w",
        ) as f:
            f.write(json.dumps(artifact) + "\n")
    except OSError:
        pass
    spark.stop()


if __name__ == "__main__":
    main()
