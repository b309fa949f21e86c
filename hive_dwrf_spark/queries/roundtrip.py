"""Format round-trip queries (SURVEY.md §2.C Q17/Q18): data passes through
our DWRF writer + reader (via the "dwrf" Python DataSource) and must still
hash-match a DuckDB oracle computed directly on the source parquet — proving
the format layer is value-transparent for nested types and timestamps."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.util import local_frame
from ..tables import load
from . import ORACLE, query


def _await_done(q, timeout: float = 300.0) -> None:
    """Block until a trigger(availableNow) query actually terminates.

    `q.awaitTermination(t)` returns False on timeout without raising; the
    sink is then incomplete and any batch read of it is garbage. Poll
    `isActive` under a generous deadline and fail loudly on timeout so a
    red row means "engine bug", never "loaded machine"."""
    import time

    deadline = time.monotonic() + timeout
    while q.isActive:
        if time.monotonic() > deadline:
            q.stop()
            raise TimeoutError(
                f"streaming query {q.id} still active after {timeout}s"
            )
        q.awaitTermination(5)
    # surface any exception recorded by the terminated query
    q.awaitTermination()


def _await_committed_rows(q, out: str, expected: int, timeout: float = 240.0):
    """Poll a running sink's _batches log until `expected` rows are
    committed (the rows field every data line carries; compaction
    preserves it). Used by the processingTime-trigger rows that exercise
    capped admission — availableNow folds everything into one uncapped
    catch-up batch by design, so multi-batch shapes need a live query
    with mid-run arrivals. Fails loudly on timeout or a dead query."""
    import time

    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not q.isActive:
            q.awaitTermination()  # surfaces the query's exception
            raise RuntimeError("streaming query terminated early")
        total = 0
        try:
            with open(os.path.join(out, "_batches")) as f:
                for ln in f:
                    parts = ln.rstrip("\n").split("\t")
                    if parts and not parts[0].startswith("#") and len(parts) >= 3:
                        total += int(parts[2] or 0)
        except FileNotFoundError:
            total = 0
        if total >= expected:
            return
        time.sleep(0.3)
    q.stop()
    raise TimeoutError(f"sink {out} never reached {expected} committed rows")


def _roundtrip(spark, df, tag: str, sf_dir: str):
    """Write df as DWRF, read it back. Deterministic per (tag, sf).

    The write is one file per input partition — write parallelism follows
    input partitioning, which at real scale is already wide. (Forcing a
    repartition here was measured slower at bench scale: the shuffle of the
    full rows costs more than the parallel encode saves.)"""
    from ..sources import register

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    out = f"/tmp/hive_dwrf_spark_rt_{tag}_{base}"
    # row-budget stripes: read parallelism is one task per (file, stripe),
    # so a narrow input (one small parquet split) still fans out on read.
    # At real scale each task writes ~100 MB+ and the byte budget dominates;
    # this only bites when files are small enough to fit one stripe.
    df.write.format("dwrf").option("path", out).option(
        "stripe_rows", "12500"
    ).mode("overwrite").save()
    return spark.read.format("dwrf").load(out)


@query(
    "q17",
    oracle="""
    SELECT l_orderkey AS k, l_linenumber AS ln,
           l_quantity AS qty, l_returnflag AS flag,
           l_extendedprice AS arr0, l_tax AS m_tax
    FROM lineitem
    ORDER BY k, ln, qty, arr0, m_tax, flag
    LIMIT 100
    """,
)
def q17(spark, sf_dir):
    """Nested-type round-trip: struct/array/map columns built from lineitem
    survive DWRF write+read (LIST/MAP/STRUCT stream layout,
    WriterImpl.java:1808-1973) and field access matches direct computation."""
    li = load(spark, sf_dir, "lineitem")
    nested = li.select(
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("ln"),
        F.struct(
            F.col("l_quantity").alias("qty"), F.col("l_returnflag").alias("flag")
        ).alias("s"),
        F.array("l_extendedprice", "l_discount").alias("arr"),
        F.create_map(F.lit("tax"), F.col("l_tax")).alias("m"),
    )
    back = _roundtrip(spark, nested, "q17", sf_dir)
    return (
        back.select(
            "k",
            "ln",
            F.col("s.qty").alias("qty"),
            F.col("s.flag").alias("flag"),
            F.element_at("arr", 1).alias("arr0"),
            F.element_at("m", "tax").alias("m_tax"),
        )
        # total order: the synthetic lineitem has duplicate (k, ln) pairs
        # (one lands exactly on the LIMIT boundary at sf0.01), so a partial
        # sort key made the row at the cut nondeterministic across engines
        .orderBy("k", "ln", "qty", "arr0", "m_tax", "flag")
        .limit(100)
    )


@query(
    "format_union_roundtrip",
    oracle="""
    SELECT CAST(l_orderkey % 2 AS TINYINT) AS tag,
           count(*) AS cnt,
           CAST(sum(CASE WHEN l_orderkey % 2 = 0 THEN l_orderkey END)
                AS BIGINT) AS sum_f0,
           count(CASE WHEN l_orderkey % 2 = 1 THEN l_returnflag END)
             AS cnt_f1
    FROM lineitem GROUP BY 1 ORDER BY tag
    """,
)
def format_union_roundtrip(spark, sf_dir):
    """DWRF UNION through the full Spark path (reference
    WriterImpl.java:1996-2008 tag byte-RLE + per-branch children;
    orc_proto.proto:90-92): a tagged-struct surrogate column — tag picks
    the long branch (orderkey) or the string branch (returnflag) — is
    written as a REAL UNION node via the DataSource's union_columns
    option and read back; per-tag aggregates over the recovered branches
    must equal the same aggregates computed on the parquet source. UNION
    has no Spark/Arrow analog, so the tagged struct IS the public
    surface, exactly as the reference's OrcUnion surfaces (tag, object)."""
    import shutil

    from ..format.reader import DwrfFile
    from ..format.constants import TypeKind
    from ..sources import register

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/hive_dwrf_spark_union_{base}"
    shutil.rmtree(path, ignore_errors=True)
    li = load(spark, sf_dir, "lineitem")
    tag = F.pmod(F.col("l_orderkey"), F.lit(2)).cast("tinyint")
    df = li.select(
        F.struct(
            tag.alias("tag"),
            F.when(tag == 0, F.col("l_orderkey")).alias("field0"),
            F.when(tag == 1, F.col("l_returnflag")).alias("field1"),
        ).alias("u")
    )
    df.write.format("dwrf").option("path", path).option(
        "union_columns", "u"
    ).option("stripe_rows", "12500").mode("overwrite").save()
    # the footer must carry a REAL UNION node (not a struct): the surface
    # is the surrogate, the bytes are the reference's layout
    import glob as _glob

    with DwrfFile(sorted(_glob.glob(os.path.join(path, "*.dwrf")))[0]) as f:
        assert any(TypeKind(t.kind) == TypeKind.UNION for t in f.types)
    back = spark.read.format("dwrf").load(path)
    return (
        back.select("u.tag", "u.field0", "u.field1")
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("field0").cast("bigint").alias("sum_f0"),
            F.count("field1").alias("cnt_f1"),
        )
        .orderBy("tag")
    )


@query(
    "format_foreign_lzo",
    # the fixture's rows are literal (it is a checked-in foreign file, no
    # engine produced it from a table), so the oracle IS the literal
    # table the bytes encode
    oracle="""
    SELECT * FROM (VALUES
      (100,'abcd'),(101,'abcd'),(102,'abcd'),(103,'abcd'),
      (104,'wxyz'),(105,'wxyz'),(106,'wxyz'),(107,'wxyz'),
      (108,'pq'),(109,'pq')) AS t(i, s)
    ORDER BY i
    """,
)
def format_foreign_lzo(spark, sf_dir):
    """A16 LZO, live at the driver gate: a CHECKED-IN foreign DWRF file
    (tests/golden/foreign_lzo.dwrf — hand-assembled raw LZO1X streams:
    literal runs, M3 matches, stored footers; built by
    tests/test_interop.py::_build_lzo_file, bytes no code of ours
    produced from a table) reads end-to-end through the Spark DataSource.
    Decoding goes through python-lzo when installed, else the vendored
    pure-Python LZO1X fallback (format/codecs.py::_lzo1x_decompress_py) —
    the codec the reference loads reflectively (WriterImpl.java:184-196)
    is now readable in EVERY environment. The oracle is the literal table
    the bytes encode."""
    import shutil

    from ..sources import register

    register(spark)
    repo = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    src = os.path.join(repo, "tests", "golden", "foreign_lzo.dwrf")
    base = os.path.basename(os.path.normpath(sf_dir))
    d = f"/tmp/hive_dwrf_spark_flzo_{base}"
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    shutil.copy(src, os.path.join(d, "part-0.dwrf"))
    return spark.read.format("dwrf").load(d).orderBy("i")


def _footer_split_bounds(sf_dir, table, column, n_parts):
    """Range-split bounds for `column` derived from parquet footer
    row-group statistics — DRIVER-SIDE METADATA ONLY, zero data bytes
    (optimization round 13; replaces the range-SAMPLING job, which at
    100 TB re-scans the key column of the whole corpus). Each row group
    contributes a (min, max, rows) segment; the piecewise-uniform CDF
    over the segments is inverted at the i/n_parts quantiles. The bounds
    only steer partition BALANCE — rank correctness never depends on
    them (any monotone bucketing yields a correct global order), so the
    uniform-within-row-group approximation is safe. Returns None when
    stats are unavailable (caller falls back to repartitionByRange)."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            files = [
                os.path.join(root, fn)
                for root, _dirs, fns in os.walk(path)
                for fn in fns
                if fn.endswith(".parquet")
            ]
        else:
            files = [path]
        segs = []
        for fp in files:
            md = pq.ParquetFile(fp).metadata
            idx = next(
                (
                    i
                    for i in range(md.num_columns)
                    if md.schema.column(i).name == column
                ),
                None,
            )
            if idx is None:
                return None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                segs.append(
                    (int(st.min), int(st.max), md.row_group(rg).num_rows)
                )
    except Exception:
        return None
    total = sum(rows for _, _, rows in segs)
    if total == 0 or n_parts <= 1:
        return None
    lo = min(s[0] for s in segs)
    hi = max(s[1] for s in segs)
    if hi <= lo:
        return None

    def cdf(x):  # approx rows with key <= x under per-segment uniformity
        acc = 0.0
        for mn, mx, rows in segs:
            if x >= mx:
                acc += rows
            elif x >= mn:
                acc += rows * (x - mn + 1) / (mx - mn + 1)
        return acc

    bounds = []
    for i in range(1, n_parts):
        target = total * i / n_parts
        a, b = lo, hi + 1
        while a < b:  # smallest x with cdf(x) >= target
            m = (a + b) // 2
            if cdf(m) < target:
                a = m + 1
            else:
                b = m
        bounds.append(a)
    bounds = sorted(set(bounds))
    return bounds or None


def _hash_bucket_tokens(spark, n):
    """Longs t_0..t_{n-1} with pmod(hash(t_b), n) == b, so that
    ``repartition(n, token_column)`` places bucket b in PARTITION b
    exactly — a hash exchange that preserves partition order, which is
    what lets the lookup rank pipeline swap its sampling-backed range
    exchange for a sampling-free hash exchange (optimization round 13).
    Tokens are discovered from the engine itself (one tiny spark.range
    job, no input scan, ~4k synthetic rows), so the map is correct by
    construction on any Spark version or hash seed. Memoized per
    (session, n): pure engine metadata, independent of any input table —
    NOT result caching."""
    memo = getattr(spark, "_hive_dwrf_hash_tokens", None)
    if memo is None:
        memo = spark._hive_dwrf_hash_tokens = {}
    if n in memo:
        return memo[n]
    k = 128 * n
    for _ in range(3):  # oversample; retry bigger on a missing bucket
        rows = (
            spark.range(k)
            .selectExpr("id", f"pmod(hash(id), {n}) AS b")
            .collect()
        )
        toks: dict = {}
        for r in rows:
            if r["b"] not in toks:
                toks[int(r["b"])] = int(r["id"])
        if len(toks) == n:
            memo[n] = [toks[b] for b in range(n)]
            return memo[n]
        k *= 16
    return None


def _numbered_lineitem(spark, sf_dir):
    """lineitem with a deterministic global row number `rn` (the window
    key includes every selected column plus partkey/suppkey as final
    tie-breaks, so either engine's tie assignment yields the same
    (rn, values) set), plus a LIST and a STRUCT column derived from the
    scalars so nested decode paths can be cross-checked in-engine."""
    li = load(spark, sf_dir, "lineitem")
    keys = [
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        "l_partkey",
        "l_suppkey",
    ]
    # Global row number without a one-task window: partition the key
    # columns by ranges of the LEADING key (equal leading keys never
    # straddle a partition boundary; NULLs go to partition 0, as ORDER BY
    # puts them first) and sort within partitions by all 7 keys, so
    # partition i's rows all precede partition j's for i < j. A row's rank
    # is then its position in its partition plus the row count of the
    # partitions before it. `monotonically_increasing_id()` is
    # (partition id << 33) | position, so projecting it right after the
    # sort gives both (pid, local rank); the offsets are an exclusive
    # prefix sum over the per-pid counts, a ~#cores-row frame joined back
    # by broadcast. The sorted output feeds _write_range_sorted as-is,
    # with no further exchange or sort.
    #
    # The partitioning needs no range-sampling job, a second scan of the
    # input that `repartitionByRange` runs (0.75 s of a 7.5 s build of a
    # 6M-row lineitem on 4 cores): split bounds come from the parquet
    # footers' row-group stats of the leading key, a row's bucket is the
    # number of bounds <= its key, and a hash exchange on per-bucket
    # TOKENS, longs picked so pmod(hash(t_b), par) == b, lands bucket b in
    # partition b. The bounds only steer balance. Without footer stats
    # the range exchange runs instead.
    par = spark.sparkContext.defaultParallelism
    bounds = _footer_split_bounds(sf_dir, "lineitem", keys[0], par)
    toks = _hash_bucket_tokens(spark, par) if bounds else None
    if bounds and toks:
        # a SUM OF COMPARISONS: higher-order array functions
        # (filter/aggregate) evaluate INTERPRETED per row — measured
        # +0.5 s on the 600k-row frame — while this sum runs inside
        # WholeStageCodegen. A NULL key compares NULL: bucket 0
        bucket = F.coalesce(
            sum((F.col(keys[0]) >= F.lit(int(b))).cast("int") for b in bounds),
            F.lit(0),
        )
        # tokens MUST hash as BIGINT: the discovery job hashed long ids,
        # and Murmur3 hashes int32 and int64 differently — an int literal
        # here would land buckets in permuted partitions
        tarr = F.array(*[F.lit(int(t)).cast("long") for t in toks])
        clustered = (
            li.select(*keys)
            .withColumn("_tok", F.element_at(tarr, bucket + F.lit(1)))
            .repartition(par, "_tok")
            .drop("_tok")
        )
    else:
        clustered = li.select(*keys).repartitionByRange(par, keys[0])
    part = (
        clustered.sortWithinPartitions(*keys)
        .withColumn("mid", F.monotonically_increasing_id())
        .persist()
    )
    pid = F.shiftright("mid", 33)
    local = F.col("mid").bitwiseAND(F.lit((1 << 33) - 1))
    # per-partition rn offsets = exclusive prefix sum of partition row
    # counts in pid order — a #partitions-row frame computed lazily from
    # the same cached scan (no separate driver-side counts job; the
    # single-partition window below is over ~#cores rows)
    w_off = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off_df = (
        part.groupBy(pid.alias("pid"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "pid",
            F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("rn_off"),
        )
    )
    qty_c = F.floor(F.col("l_quantity") * 100 + 0.5).cast("bigint")
    price_c = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    out = part.withColumn("pid", pid).join(F.broadcast(off_df), "pid").select(
        (local + F.col("rn_off")).alias("rn"),
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("ln"),
        qty_c.alias("qty_c"),
        price_c.alias("price_c"),
        F.col("l_returnflag").alias("flag"),
        F.array(qty_c, price_c).alias("arr"),
        F.struct(F.col("l_returnflag").alias("f")).alias("st"),
    )
    return _with_pinned(out, part)


def _with_pinned(df, pinned):
    """Tag `df` with the persisted frame it reads so callers can
    unpersist after consuming (the pagerank/minhash release discipline:
    repeated calls in one session must not accumulate cached blocks)."""
    df._pinned_src = pinned
    return df


def _release_pinned(df) -> None:
    pinned = getattr(df, "_pinned_src", None)
    if pinned is not None:
        pinned.unpersist()


def _write_range_sorted(df, path, key, n_files):
    """Write the range-partitioned frame `df`, sorted by `key` within
    each partition, as a range-sorted DWRF layout of at most `n_files`
    files. Every partition is written as-is as one part, so every core
    encodes only its own key range; the parts are then ordered by their
    footer min(`key`) statistics (zero data bytes read) and
    stripe-concatenated in that order on the driver with A22's
    ``merge_files`` — a raw byte copy of position-independent stripes,
    no decode or re-encode. The footer min/max of every part are checked
    disjoint first, so a frame that is not range-partitioned fails
    loudly instead of producing an unsorted file. A frame with no rows
    gives one zero-row file that carries its schema."""
    import glob as _glob
    import math
    import shutil as _shutil

    from ..format.merge import merge_files
    from ..format.reader import DwrfFile
    from ..sources.dwrf_datasource import write_empty

    parts_dir = path + "_parts"
    _shutil.rmtree(parts_dir, ignore_errors=True)
    df.write.format("dwrf").option("path", parts_dir).mode("overwrite").save()
    ordered = []
    for fp in _glob.glob(os.path.join(parts_dir, "*.dwrf")):
        with DwrfFile(fp) as f:
            if f.num_rows == 0:
                continue  # empty range part: contributes no stripes
            st = f.file_stats(f._top_level_id(key))
            ordered.append((st.minimum, st.maximum, fp))
    ordered.sort()
    for (_, mx1, fp1), (mn2, _, fp2) in zip(ordered, ordered[1:]):
        if mx1 >= mn2:
            raise AssertionError(
                f"range parts overlap on {key}: {fp1} max={mx1} vs "
                f"{fp2} min={mn2}"
            )
    parts = [fp for _, _, fp in ordered]
    _shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    if not parts:
        # an empty frame (Spark may write no part file at all): one
        # zero-row file carries the frame's schema
        write_empty(os.path.join(path, "part-00000.dwrf"), df.schema)
    chunk = max(math.ceil(len(parts) / n_files), 1)
    for i in range(0, len(parts), chunk):
        merge_files(
            parts[i : i + chunk],
            os.path.join(path, f"part-{i // chunk:05d}.dwrf"),
        )
    _shutil.rmtree(parts_dir)


@query(
    "format_point_lookup",
    # row_number ties: the window key includes every selected column (plus
    # partkey/suppkey as final tie-breaks), so rows tying on the key are
    # identical in all SELECTED columns — either engine's tie assignment
    # yields the same (rn, values) set
    oracle="""
    WITH src AS (
      SELECT l_orderkey AS okey, l_linenumber AS ln,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
             l_returnflag AS flag,
             row_number() OVER (
               ORDER BY l_orderkey, l_linenumber, l_quantity,
                        l_extendedprice, l_returnflag, l_partkey, l_suppkey
             ) - 1 AS rn
      FROM lineitem
    )
    SELECT rn, okey, ln, qty_c, price_c, flag
    FROM src WHERE rn % 4999 = 0 ORDER BY rn
    """,
)
def format_point_lookup(spark, sf_dir):
    """Point lookups through the format's ROW_INDEX seek positions
    (reference A5, RecordReaderImpl.java:494-543 seekToRow +
    LazyTreeReader positions): a row-numbered projection of lineitem —
    including a LIST and a STRUCT column, the shapes that used to force
    whole-stripe decode — is written sorted as DWRF, then every 4999th
    row is fetched with read_row, which decodes ONE stride per column
    (nested children seek via their own RowIndexEntry, the
    LazyListTreeReader.java:101-107 recursion). The nested values are
    cross-checked against the scalars in-engine; the oracle replays the
    row numbering on parquet. The lookup loop is driver-side by design:
    point lookups are a catalog/serving surface (k rows), not a scan —
    at 100 TB the table would be range-sorted exactly like this and each
    lookup touches one stride of one stripe of one file."""
    import glob
    import shutil

    from ..format.reader import DwrfFile
    from ..sources import register

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/hive_dwrf_spark_ptlk_{base}"
    shutil.rmtree(path, ignore_errors=True)
    df = _numbered_lineitem(spark, sf_dir)
    # one sorted file so global row number == file row number (the
    # range-sorted layout a point-lookup table has at any scale)
    _write_range_sorted(df, path, "rn", 1)
    _release_pinned(df)
    fp = sorted(glob.glob(os.path.join(path, "*.dwrf")))[0]
    # serial lookup loop kept deliberately: a 16-thread pool over the
    # same handle was MEASURED SLOWER here (0.94 s vs 0.29 s serial on
    # the merged layout — the per-lookup work is numpy assembly under
    # the GIL once stripes are small, so threads only add contention)
    out = []
    with DwrfFile(fp) as f:
        for r in range(0, f.num_rows, 4999):
            row = f.read_row(r)
            # engine self-check: the nested columns' stride decode must
            # agree with the scalar columns fetched from the same seek
            assert row["rn"] == r, (row["rn"], r)
            assert row["arr"] == [row["qty_c"], row["price_c"]], row
            assert row["st"] == {"f": row["flag"]}, row
            out.append(
                (row["rn"], row["okey"], row["ln"], row["qty_c"],
                 row["price_c"], row["flag"])
            )
    import pandas as _pd

    # Arrow path for the k-row result frame: the list-of-tuples form
    # pickles through the RDD path and round-trips a 32-task job; a
    # pandas frame ships as ONE Arrow batch (guide §6 driver transfers)
    return spark.createDataFrame(
        _pd.DataFrame(
            out, columns=["rn", "okey", "ln", "qty_c", "price_c", "flag"]
        ),
        "rn long, okey long, ln int, qty_c long, price_c long, flag string",
    ).orderBy("rn")


@query(
    "format_point_lookup_batch",
    oracle="""
    WITH src AS (
      SELECT l_orderkey AS okey, l_linenumber AS ln,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
             l_returnflag AS flag,
             row_number() OVER (
               ORDER BY l_orderkey, l_linenumber, l_quantity,
                        l_extendedprice, l_returnflag, l_partkey, l_suppkey
             ) - 1 AS rn
      FROM lineitem
    )
    SELECT rn, okey, ln, qty_c, price_c, flag
    FROM src WHERE rn % 53 = 0 ORDER BY rn
    """,
)
def format_point_lookup_batch(spark, sf_dir):
    """Batched multi-file point lookup — the serving shape of the A5 seek
    surface (RecordReaderImpl.java:494-543 seekToRow amortized over a key
    batch; file routing via footer statistics, ReaderImpl.java:204-260):
    the row-numbered lineitem projection is written RANGE-SORTED across
    FOUR DWRF files (repartitionByRange + sortWithinPartitions — the
    layout a key-addressed 100 TB serving table has), then a batch of
    >=1000 keys (every 53rd rn) is fetched in ONE lookup_keys pass:
    footer min/max stats prune files with zero data bytes, ROW_INDEX
    per-stride stats prune strides, each candidate stride decodes once
    for the whole batch. In-engine self-checks: every key resolves to
    exactly one row, the nested LIST/STRUCT values gathered from the
    same seek agree with the scalars, and a clustered-key probe proves
    footer-stats file pruning actually fires. The oracle replays the row
    numbering on parquet."""
    import shutil

    from ..format.lookup import lookup_keys
    from ..sources import register
    from ..sources.stats import dwrf_path_stats

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/hive_dwrf_spark_ptlkb_{base}"
    shutil.rmtree(path, ignore_errors=True)
    df = _numbered_lineitem(spark, sf_dir)
    _write_range_sorted(df, path, "rn", 4)
    _release_pinned(df)
    # row count from footers only (A27 raw-size accounting surface): the
    # key domain is known without scanning any data bytes
    n = dwrf_path_stats(path)["rows"]
    keys = list(range(0, n, 53))
    trace: dict = {}
    tbl = lookup_keys(
        path,
        "rn",
        keys,
        columns=["rn", "okey", "ln", "qty_c", "price_c", "flag", "arr", "st"],
        trace=trace,
    )
    # self-check: rn is unique, so every key resolves to exactly one row
    assert tbl.num_rows == len(keys), (tbl.num_rows, len(keys), trace)
    # self-check: nested values gathered from the same seek coordinates
    # agree with the scalar columns
    qty = tbl.column("qty_c").to_pylist()
    price = tbl.column("price_c").to_pylist()
    flag = tbl.column("flag").to_pylist()
    assert tbl.column("arr").to_pylist() == [
        [q, p] for q, p in zip(qty, price)
    ]
    assert tbl.column("st").to_pylist() == [{"f": fl} for fl in flag]
    # self-check: clustered keys (first file's range only) prune the
    # other range files on footer stats alone
    probe: dict = {}
    lookup_keys(path, "rn", keys[:3], columns=["rn"], trace=probe)
    assert probe["files_pruned"] >= 1, probe
    return spark.createDataFrame(
        tbl.select(
            ["rn", "okey", "ln", "qty_c", "price_c", "flag"]
        ).to_pandas(),
        "rn long, okey long, ln int, qty_c long, price_c long, flag string",
    ).orderBy("rn")


@query(
    "format_broadcast_join",
    oracle="""
    SELECT n.n_name AS n_name,
           count(*) AS cnt,
           CAST(sum(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_bal_c
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n_name
    """,
)
def format_broadcast_join(spark, sf_dir):
    """Footer-statistics-driven broadcast join over a DWRF-backed
    dimension (sources/stats.py::broadcast_if_small): the Python
    DataSource API has no SupportsReportStatistics hook, so a DWRF dim
    plans with Long.Max size and never auto-broadcasts — the helper reads
    the footer rawDataSize catalog (reference A27,
    ReaderImpl.java:204-260 footer exposure) with ZERO data bytes and
    applies the hint exactly where the session's
    autoBroadcastJoinThreshold would have. At 100 TB this is the
    difference between shipping a KB-scale dim to every executor and
    shuffling the full fact table into a sort-merge. The oracle joins the
    source parquet directly, pinning that the hint changes strategy,
    never values; the fixed-point balance sum is engine-identical."""
    from ..sources import broadcast_if_small

    dim_back = _roundtrip(
        spark, load(spark, sf_dir, "nation"), "bcast_nation", sf_dir
    )
    base = os.path.basename(os.path.normpath(sf_dir))
    dim_path = f"/tmp/hive_dwrf_spark_rt_bcast_nation_{base}"
    dim = broadcast_if_small(dim_back, dim_path)
    c = load(spark, sf_dir, "customer")
    return (
        c.join(dim, c["c_nationkey"] == dim["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("c_acctbal") * 100 + 0.5))
            .cast("bigint")
            .alias("sum_bal_c"),
        )
        .orderBy("n_name")
    )


@query(
    "streaming_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_e4,
           count(DISTINCT user_id) AS users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_roundtrip(spark, sf_dir):
    """End-to-end Structured Streaming through the DWRF format: events ->
    DWRF dir -> stream source (name-set offsets) -> streaming DWRF sink
    (one part file per microbatch task, availableNow trigger) -> batch
    read -> aggregate. Value-transparency of the whole streaming path is
    what the oracle checks; the aggregation itself is the same plan batch
    or stream."""
    import shutil

    from ..sources import register
    from ..streaming import stream_dwrf_dir

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_strm_src_{base}"
    out = f"/tmp/hive_dwrf_spark_strm_out_{base}"
    ckpt = f"/tmp/hive_dwrf_spark_strm_ckpt_{base}"
    for p in (src, out, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events")
    e.write.format("dwrf").option("path", src).option(
        "stripe_rows", "12500"
    ).mode("overwrite").save()
    q = (
        stream_dwrf_dir(spark, src)
        .writeStream.format("dwrf")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    back = spark.read.format("dwrf").load(out)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            # per-value fixed-point conversion (floor(x*1e4+0.5) is the SAME
            # IEEE-754 double expression in Spark and DuckDB — no BigDecimal
            # HALF_UP vs double-scaled rounding tie divergence) then an exact
            # BIGINT sum: order-independent AND engine-identical
            F.sum(F.floor(F.col("value") * 10000 + 0.5)).alias(
                "sum_value_e4"
            ),
            F.count_distinct(F.col("user_id")).alias("users"),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_exactly_once",
    # the committedOnly read over a sink directory polluted with orphan,
    # retried and torn-commit files must equal the SOURCE aggregate —
    # exactly-once recovered at read time from at-least-once output
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_e4
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_exactly_once(spark, sf_dir):
    """Exactly-once reads over the streaming sink's at-least-once
    output: events stream through the DWRF sink (whose commit appends
    its files + one '#end' marker per batch to the _batches log), then
    the directory is polluted the three ways a cluster actually
    produces orphans — a task file whose batch never committed, a
    RETRIED batch's second complete commit (crash between log append
    and offset-log advance), and a TORN append (crash mid-commit, no
    marker). option("committedOnly","true") scans only complete,
    first-seen commit groups, so the aggregate equals the source
    exactly — Spark's own file sink does the same with _spark_metadata;
    this is that protocol for DWRF dirs, with zero cleanup jobs."""
    import shutil

    import pyarrow as pa

    from ..format import write_arrow_table
    from ..sources import register
    from ..streaming import stream_dwrf_dir

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_x1_src_{base}"
    out = f"/tmp/hive_dwrf_spark_x1_out_{base}"
    ckpt = f"/tmp/hive_dwrf_spark_x1_ckpt_{base}"
    for p in (src, out, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events").select("event_type", "value")
    e.write.format("dwrf").option("path", src).mode("overwrite").save()
    q = (
        stream_dwrf_dir(spark, src)
        .writeStream.format("dwrf")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    junk = pa.table(
        {"event_type": pa.array(["zzz_orphan"]), "value": pa.array([1e9])}
    )
    # orphan: written, never committed
    write_arrow_table(os.path.join(out, "part-orphan.dwrf"), junk)
    # retry: a second COMPLETE commit group for batch 0
    write_arrow_table(os.path.join(out, "part-retry.dwrf"), junk)
    # torn: logged without its end marker
    write_arrow_table(os.path.join(out, "part-torn.dwrf"), junk)
    with open(os.path.join(out, "_batches"), "a") as f:
        f.write("0\tpart-retry.dwrf\t1\n#end\t0\n")
        f.write("9\tpart-torn.dwrf\t1\n")
    back = (
        spark.read.format("dwrf").option("committedOnly", "true").load(out)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("value") * 10000 + 0.5)).alias(
                "sum_value_e4"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_partitioned",
    # the partition column materialized from directory values must carry
    # the same per-key aggregate as the source column it was written from
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(user_id) AS BIGINT) AS sum_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_partitioned(spark, sf_dir):
    """Hive-partitioned directory STREAMED: events written
    partition_by=event_type (key=value subdirectories), tailed by the
    partition-planning stream source — the partition column comes back
    typed from the DIRECTORY values (zero data bytes; the batch source's
    O4 convention), flows through the stream into the aggregate, and
    must equal the source aggregate. The ingest shape a training
    pipeline tails: date=/source=-partitioned arrival dirs where losing
    the partition key would silently drop the provenance column."""
    import shutil

    from ..sources import register
    from ..streaming import stream_dwrf_dir

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_strmp_src_{base}"
    ckpt = f"/tmp/hive_dwrf_spark_strmp_ckpt_{base}"
    for p in (src, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events").select("event_type", "user_id")
    e.repartition(2).write.format("dwrf").option("path", src).option(
        "partition_by", "event_type"
    ).mode("overwrite").save()
    qname = f"strm_part_{base.replace('.', '_')}"
    q = (
        stream_dwrf_dir(spark, src)
        .writeStream.format("memory")
        .queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    return (
        spark.table(qname)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("user_id").cast("bigint").alias("sum_users"),
        )
        .orderBy("event_type")
    )


@query(
    "q18",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
           count(*) AS cnt,
           min(CAST(ts AS TIMESTAMP)) AS min_ts,
           max(CAST(ts AS TIMESTAMP)) AS max_ts
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def q18(spark, sf_dir):
    """Timestamp round-trip incl. sub-millisecond values through the
    2015-epoch seconds + packed-nanos encoding (WriterImpl.java:1736-1798)."""
    e = load(spark, sf_dir, "events")
    back = _roundtrip(spark, e, "q18", sf_dir)
    return (
        back.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .orderBy("hour")
    )


@query(
    "streaming_static_join",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS cnt,
           count(DISTINCT e.user_id) AS users
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def streaming_static_join(spark, sf_dir):
    """Stream-static join: a DWRF-backed event stream enriched against a
    static dimension inside the micro-batch plan (Spark broadcasts the
    static side per batch), then aggregated after the streaming sink. The
    oracle is the equivalent batch join — streaming must not change
    semantics."""
    import shutil

    from ..sources import register
    from ..streaming import stream_dwrf_dir

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_ssj_src_{base}"
    out = f"/tmp/hive_dwrf_spark_ssj_out_{base}"
    ckpt = f"/tmp/hive_dwrf_spark_ssj_ckpt_{base}"
    for p in (src, out, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events").select("event_id", "user_id")
    e.write.format("dwrf").option("path", src).option(
        "stripe_rows", "12500"
    ).mode("overwrite").save()
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream_dwrf_dir(spark, src).select("event_id", "user_id").join(
        F.broadcast(dim), "user_id"
    )
    q = (
        enriched.writeStream.format("dwrf")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    back = spark.read.format("dwrf").load(out)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count_distinct("user_id").alias("users"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "streaming_stream_join",
    oracle="""
    SELECT count(*) AS n_pairs,
           count(DISTINCT c.event_id) AS n_clicks,
           count(DISTINCT c.user_id) AS n_users
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP) - INTERVAL 10 MINUTE
     AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP)
    """,
)
def streaming_stream_join(spark, sf_dir):
    """Watermarked stream-stream join (clicks x purchases within a 10-min
    lookback per user) through the DWRF streaming source and sink; the
    oracle is the equivalent batch time-range join. Join state is bounded
    by watermark + lookback, not stream length."""
    import shutil

    from ..sources import register
    from ..streaming import stream_dwrf_dir, stream_stream_join

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_ssj2_src_{base}"
    out = f"/tmp/hive_dwrf_spark_ssj2_out_{base}"
    ckpt = f"/tmp/hive_dwrf_spark_ssj2_ckpt_{base}"
    for p in (src, out, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    e.write.format("dwrf").option("path", src).option(
        "stripe_rows", "12500"
    ).mode("overwrite").save()
    # watermarks require TIMESTAMP (not NTZ); the session runs UTC so the
    # cast is value-preserving and the naive-ts oracle still matches
    stream = stream_dwrf_dir(spark, src).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    clicks = stream.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    purchases = (
        stream_dwrf_dir(spark, src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "ts", "user_id")
    )
    joined = stream_stream_join(
        clicks, purchases, key="user_id", ts_col="ts", lookback="10 minutes"
    ).select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
    )
    q = (
        joined.writeStream.format("dwrf")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q, 360.0)
    back = spark.read.format("dwrf").load(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("click_id").alias("n_clicks"),
        F.count_distinct("user_id").alias("n_users"),
    )


@query(
    "streaming_window_topk",
    oracle="""
    WITH wc AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type, count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT window_start, event_type, cnt,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY cnt DESC, event_type) AS rnk
      FROM wc
    )
    SELECT window_start, event_type, cnt, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY window_start, rnk
    """,
)
def streaming_window_topk(spark, sf_dir):
    """Streaming trending-topics: events stream -> watermarked 1-hour
    tumbling-window counts (streaming/dwrf_stream.py::
    windowed_event_counts) -> complete-mode sink -> top-3 event types per
    window. Complete mode re-emits the full aggregate at termination, so
    the result is exactly the batch aggregation -- the oracle checks the
    whole stateful-aggregation path through the stream source. (The
    append-mode + watermark emission path is exercised by the streaming
    tests; an availableNow single batch never advances the watermark far
    enough to release append windows, which is Spark semantics, not a
    bug.)"""
    import shutil

    from ..sources import register
    from ..streaming import stream_dwrf_dir, windowed_event_counts

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_topk_src_{base}"
    ckpt = f"/tmp/hive_dwrf_spark_topk_ckpt_{base}"
    for p in (src, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events")
    e.write.format("dwrf").option("path", src).option(
        "stripe_rows", "12500"
    ).mode("overwrite").save()
    # the stream's ts is TIMESTAMP_NTZ (the format's tz-free semantics);
    # watermarks require TIMESTAMP, and under the UTC session timezone the
    # cast is value-preserving
    stream = stream_dwrf_dir(spark, src).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    counts = windowed_event_counts(stream, watermark="0 seconds")
    q = (
        counts.writeStream.format("memory")
        .queryName("topk_windows")
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    back = spark.table("topk_windows").withColumn(
        "window_start", F.col("window_start").cast("timestamp_ntz")
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("cnt"), F.asc("event_type")
    )
    return (
        back.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("window_start", "event_type", "cnt", "rnk")
        .orderBy("window_start", "rnk")
    )


@query(
    "streaming_running_counts",
    # the final state of the custom stateful counter must equal the batch
    # aggregate, whatever micro-batch slicing availableNow chose
    oracle="""
    SELECT event_type, count(*) AS running_total
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def streaming_running_counts(spark, sf_dir):
    """CUSTOM stateful streaming operator end-to-end
    (streaming/dwrf_stream.py::stateful_running_counts,
    applyInPandasWithState): a per-key running counter whose state store
    entry survives across micro-batches. Update-mode emissions accumulate
    in the sink; the LAST update per key (max of a monotone counter) must
    equal the batch count regardless of how availableNow sliced the files
    — which makes the arbitrary-state path hash-checked, not eyeballed.
    State is one row per key, so memory scales with key cardinality,
    never stream length."""
    import shutil

    from ..sources import register
    from ..streaming import stateful_running_counts, stream_dwrf_dir

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    src = f"/tmp/hive_dwrf_spark_runcnt_src_{base}"
    ckpt = f"/tmp/hive_dwrf_spark_runcnt_ckpt_{base}"
    for p in (src, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events")
    # several part files so availableNow has real micro-batch boundaries
    e.repartition(4).write.format("dwrf").option("path", src).option(
        "stripe_rows", "12500"
    ).mode("overwrite").save()
    counts = stateful_running_counts(stream_dwrf_dir(spark, src))
    q = (
        counts.writeStream.format("memory")
        .queryName(f"runcnt_{base}")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    return (
        spark.table(f"runcnt_{base}")
        .groupBy("event_type")
        .agg(F.max("running_total").alias("running_total"))
        .orderBy("event_type")
    )


@query(
    "format_evolve",
    # gen-1 files predate o_orderpriority; mergeSchema must union-by-name
    # and null-fill, so the per-priority aggregate sees NULL for every
    # even-key order — replayed by the CASE projection
    oracle="""
    SELECT o_orderpriority,
           count(*) AS cnt,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_price_c
    FROM (SELECT o_totalprice,
                 CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
                 END AS o_orderpriority
          FROM orders) t
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority NULLS FIRST
    """,
)
def format_evolve(spark, sf_dir):
    """Schema evolution end-to-end (mergeSchema): gen-1 DWRF files carry
    (o_orderkey, o_totalprice); a later ingest appends gen-2 files with a
    new o_orderpriority column. One mergeSchema read unions by name and
    null-fills the column the old files predate — adding a column never
    rewrites data (planning stays O(footers); old files null-fill at
    decode). The aggregate proves both generations read as one table."""
    import shutil

    from ..sources import register

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    out = f"/tmp/hive_dwrf_spark_evolve_{base}"
    shutil.rmtree(out, ignore_errors=True)
    o = load(spark, sf_dir, "orders")
    gen1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    gen2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    gen1.write.format("dwrf").option("path", out).mode("overwrite").save()
    gen2.write.format("dwrf").option("path", out).mode("append").save()
    back = (
        spark.read.format("dwrf").option("mergeSchema", "true").load(out)
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)).alias(
                "sum_price_c"
            ),
        )
        .orderBy(F.col("o_orderpriority").asc_nulls_first())
    )


@query(
    "streaming_sessionize",
    # same gap-based replay as the batch q35_sessionize oracle: lag +
    # running-sum session ids with a strict 30-minute gap
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), flags AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flags
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def streaming_sessionize(spark, sf_dir):
    """STREAMING gap-based sessionization: the events stream (DWRF stream
    source) through Spark's native session_window stateful aggregate —
    session state merges inside the aggregation and, in production, evicts
    by watermark (state is one open session per active user, bounded by
    gap + lateness, never by stream length). Complete-mode emission makes
    the availableNow run exactly the batch q35_sessionize aggregation, so
    the whole stateful session-merge path is oracle-checked, not
    eyeballed."""
    import shutil

    from ..sources import register
    from ..streaming import stream_dwrf_dir

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    src = f"/tmp/hive_dwrf_spark_sess_src_{base}"
    ckpt = f"/tmp/hive_dwrf_spark_sess_ckpt_{base}"
    for p in (src, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events")
    e.write.format("dwrf").option("path", src).option(
        "stripe_rows", "12500"
    ).mode("overwrite").save()
    # ts is TIMESTAMP_NTZ in the format; session_window + watermark need
    # TIMESTAMP, and under the UTC session timezone the cast preserves values
    stream = stream_dwrf_dir(spark, src).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    sess = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )
    q = (
        sess.writeStream.format("memory")
        .queryName(f"sessions_{base}")
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    back = spark.table(f"sessions_{base}")
    return back.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    ).orderBy("user_id", "session_start")


@query(
    "q43_deep_nested",
    oracle="""
    SELECT l_orderkey AS k, l_linenumber AS ln,
           l_quantity AS s0_q, l_returnflag AS s0_f,
           l_quantity + 1 AS s1_q,
           l_discount AS ma_1
    FROM lineitem
    ORDER BY k, ln, s0_q, ma_1, s0_f
    LIMIT 100
    """,
)
def q43_deep_nested(spark, sf_dir):
    """Deep nesting round-trip: list<struct<q,f>> and map<string,
    array<double>> columns survive DWRF write+read — the recursive
    type-tree encode/decode (LIST of STRUCT children, MAP with composite
    values) beyond q17's single-level nesting."""
    li = load(spark, sf_dir, "lineitem")
    nested = li.select(
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("ln"),
        F.array(
            F.struct(
                F.col("l_quantity").alias("q"), F.col("l_returnflag").alias("f")
            ),
            F.struct(
                (F.col("l_quantity") + 1).alias("q"), F.lit("X").alias("f")
            ),
        ).alias("arr_s"),
        F.create_map(
            F.lit("a"), F.array("l_extendedprice", "l_discount")
        ).alias("m"),
    )
    back = _roundtrip(spark, nested, "q43", sf_dir)
    return (
        back.select(
            "k",
            "ln",
            F.col("arr_s")[0]["q"].alias("s0_q"),
            F.col("arr_s")[0]["f"].alias("s0_f"),
            F.col("arr_s")[1]["q"].alias("s1_q"),
            F.element_at(F.element_at("m", "a"), 2).alias("ma_1"),
        )
        .orderBy("k", "ln", "s0_q", "ma_1", "s0_f")
        .limit(100)
    )


@query(
    "streaming_dedup",
    # the stream input is every event file DUPLICATED; exact stateful dedup
    # on event_id must reduce it back to the original set, so the oracle is
    # the plain batch aggregate over events
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_e4,
           count(DISTINCT user_id) AS users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_dedup(spark, sf_dir):
    """Stateful streaming dedup at ingest: the source directory holds two
    byte-identical copies of every event file; the stream drops the
    duplicates with dropDuplicatesWithinWatermark on event_id before they
    reach storage. The watermark is set beyond the data's time span so no
    state evicts mid-run and the result is exact regardless of how
    availableNow slices the files into micro-batches (at production scale
    the watermark bounds state to the lateness window's key cardinality)."""
    import shutil

    from ..sources import register
    from ..streaming import stream_dwrf_dir
    from ..streaming.dwrf_stream import streaming_dedup as dedup_stream

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_sdedup_src_{base}"
    out = f"/tmp/hive_dwrf_spark_sdedup_out_{base}"
    ckpt = f"/tmp/hive_dwrf_spark_sdedup_ckpt_{base}"
    for p in (src, out, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events")
    e.write.format("dwrf").option("path", src).option(
        "stripe_rows", "12500"
    ).mode("overwrite").save()
    # duplicate every data file under a distinct name: same rows twice,
    # arriving as separate discovered files
    for name in sorted(os.listdir(src)):
        if name.endswith(".dwrf"):
            shutil.copy(
                os.path.join(src, name), os.path.join(src, f"dup-{name}")
            )
    # the stream reads ts as TIMESTAMP_NTZ; watermarks require an instant
    # type, and the event-time VALUE is irrelevant to the dedup key
    stream = stream_dwrf_dir(spark, src).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    deduped = dedup_stream(
        stream, ["event_id"], ts_col="ts", watermark="2160 hours"
    )
    q = (
        deduped.writeStream.format("dwrf")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    back = spark.read.format("dwrf").load(out)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("value") * 10000 + 0.5)).alias(
                "sum_value_e4"
            ),
            F.count_distinct(F.col("user_id")).alias("users"),
        )
        .orderBy("event_type")
    )


@query(
    "format_compact",
    # the merged single file must be value-transparent: the aggregate over
    # it equals the aggregate over the source events
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_e4,
           count(DISTINCT user_id) AS users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def format_compact(spark, sf_dir):
    """Small-files compaction end-to-end (reference A22, StripeMerge):
    events written as many small-stripe DWRF part files, merged into ONE
    file by raw stripe-byte copy — no decode, no re-encode — then read
    back and aggregated. IO-speed compaction is what makes streaming
    ingest sustainable at 100 TB; this proves the merged file is
    value-transparent."""
    import glob
    import shutil

    from ..format.merge import compact_directory
    from ..sources import register

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_compact_src_{base}"
    merged = f"/tmp/hive_dwrf_spark_compact_out_{base}/events.dwrf"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(os.path.dirname(merged), ignore_errors=True)
    os.makedirs(os.path.dirname(merged))
    e = load(spark, sf_dir, "events")
    # many small stripes across several part files: the small-files state
    e.repartition(4).write.format("dwrf").option("path", src).option(
        "stripe_rows", "1000"
    ).mode("overwrite").save()
    n = compact_directory(src, merged)
    assert n >= 1 and len(glob.glob(os.path.join(src, "*.dwrf"))) >= 2
    back = spark.read.format("dwrf").load(os.path.dirname(merged))
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("value") * 10000 + 0.5)).alias(
                "sum_value_e4"
            ),
            F.count_distinct(F.col("user_id")).alias("users"),
        )
        .orderBy("event_type")
    )


@query(
    "format_checksum_scrub",
    # the scrubbed-and-merged checksummed table must be value-transparent:
    # the aggregate over it equals the aggregate over the source events
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_e4
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def format_checksum_scrub(spark, sf_dir):
    """Opt-in stream checksums end-to-end: events written through the
    DataSource with ``checksums=true`` (per-stripe index/data/footer
    CRC32 triples in user metadata — format-compatible, foreign readers
    skip the key), every part file SCRUBBED (DwrfFile.verify re-reads
    and compares each region), two parts merged by raw stripe copy and
    the merged file scrubbed again (stripe merges preserve per-stripe
    CRCs), then read back and aggregated. This is the ops answer to the
    format's documented blind spot — a silent data-byte flip is
    undetectable at read time in any checksum-less ORC/DWRF reader, but
    a scrub pass (object-store rot sweep, post-compaction validation)
    catches it; tests/test_corruption.py proves single-BIT damage is
    caught."""
    import glob
    import shutil

    from ..format.merge import merge_files
    from ..format.reader import DwrfFile
    from ..sources import register

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_crc_src_{base}"
    merged_dir = f"/tmp/hive_dwrf_spark_crc_out_{base}"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(merged_dir, ignore_errors=True)
    os.makedirs(merged_dir)
    e = load(spark, sf_dir, "events")
    e.repartition(4).write.format("dwrf").option("path", src).option(
        "stripe_rows", "1000"
    ).option("checksums", "true").mode("overwrite").save()
    parts = sorted(glob.glob(os.path.join(src, "*.dwrf")))
    assert len(parts) >= 2
    for p in parts:
        with DwrfFile(p) as f:
            rep = f.verify()
            assert rep["stripes"] >= 1
    merged = os.path.join(merged_dir, "events.dwrf")
    merge_files(parts[:2], merged)
    with DwrfFile(merged) as f:
        f.verify()  # raw stripe copy kept every CRC valid
    # serve the scrubbed data: the two merged parts + the untouched rest
    for p in parts[2:]:
        shutil.copy(p, merged_dir)
    back = spark.read.format("dwrf").load(merged_dir)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("value") * 10000 + 0.5)).alias(
                "sum_value_e4"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "format_verify_on_read",
    # the CRC-verified scan must be value-transparent: reading with
    # verifyOnRead=true returns exactly the source aggregate
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_e4
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def format_verify_on_read(spark, sf_dir):
    """Opt-in READ-TIME CRC verification end-to-end: events written with
    ``checksums=true``, scanned back through the DataSource with
    ``option("verifyOnRead","true")`` — each executor CRC-checks a
    stripe's index/data/footer regions once per handle before its first
    decode (reader.py::_verify_stripe_on_read), so a bit flipped between
    ops-time scrubs fails the SCAN with a typed DwrfCorruptError naming
    the stripe, never a late decode error. The query also proves the
    negative path inline: a single flipped data byte in a copy makes the
    verified read raise DwrfCorruptError with the stripe named, while
    the same table reads clean when intact. Zero tax when the option is
    off or the file carries no checksums (one metadata probe)."""
    import glob
    import shutil

    from ..format.reader import DwrfCorruptError, DwrfFile
    from ..sources import register

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/hive_dwrf_spark_vread_{base}"
    bad_dir = f"/tmp/hive_dwrf_spark_vread_bad_{base}"
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(bad_dir, ignore_errors=True)
    os.makedirs(bad_dir)
    e = load(spark, sf_dir, "events")
    # repartitionByRange instead of round-robin repartition(2): a keyless
    # repartition pays SPARK-23207's all-column local sort of every input
    # partition before the exchange (deterministic retry placement); a
    # range exchange on the unique event_id needs no such sort and yields
    # the same two-file checksummed layout (optimization round 12,
    # guide §2.5 note)
    e.repartitionByRange(2, "event_id").write.format("dwrf").option(
        "path", path
    ).option(
        "stripe_rows", "2000"
    ).option("checksums", "true").mode("overwrite").save()
    # negative path: flip ONE data byte in a copy -> the verified read
    # must fail typed, naming the stripe (the un-verified read of the
    # same bytes is the format's documented blind spot)
    part = sorted(glob.glob(os.path.join(path, "*.dwrf")))[0]
    bad = os.path.join(bad_dir, "bad.dwrf")
    with DwrfFile(part) as f:
        s0 = f.footer.stripes[0]
        flip_at = s0.offset + s0.indexLength + s0.dataLength // 2
    raw = bytearray(open(part, "rb").read())
    raw[flip_at] ^= 0x04
    open(bad, "wb").write(bytes(raw))
    try:
        with DwrfFile(bad, verify_checksums=True) as f:
            f.read_stripe(0)
        raise AssertionError("flipped byte survived a verified read")
    except DwrfCorruptError as exc:
        assert "stripe 0" in str(exc) and "CRC" in str(exc)
    back = spark.read.format("dwrf").option("verifyOnRead", "true").load(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("value") * 10000 + 0.5)).alias(
                "sum_value_e4"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "format_prune",
    # filtered read over OUR format must equal the same filter over the
    # parquet source — proving pushed predicates prune without losing rows
    oracle="""
    SELECT l_returnflag,
           count(*) AS cnt,
           CAST(sum(l_orderkey) AS BIGINT) AS sum_key,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_price_c
    FROM lineitem
    WHERE l_orderkey BETWEEN 1000 AND 2000
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def format_prune(spark, sf_dir):
    """Predicate pushdown through the DWRF DataSource end-to-end
    (reference A20 row-index consumption, RecordReaderImpl.java
    pickRowGroups): lineitem is written ORDER-CLUSTERED on l_orderkey with
    small strides, so the range filter below prunes most strides via the
    writer's row-index stats before any decode. The aggregate over the
    pruned read must equal the same filter on the parquet source — pruning
    may never change results, only skip IO. At 100 TB this is the
    difference between scanning a table and scanning the 0.1% a point
    query touches."""
    import shutil

    from ..sources import register

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/hive_dwrf_spark_prune_{base}"
    shutil.rmtree(path, ignore_errors=True)
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    # cluster on the filter key: range-partitioned + sorted files, so file
    # footers prune whole files and stride min/max ranges are disjoint
    # within each — the BETWEEN keeps only a few strides of one file
    li.repartitionByRange(4, "l_orderkey").sortWithinPartitions(
        "l_orderkey"
    ).write.format("dwrf").option("path", path).option(
        "row_index_stride", "2000"
    ).mode("overwrite").save()
    back = spark.read.format("dwrf").load(path)
    return (
        back.filter(F.col("l_orderkey").between(1000, 2000))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("l_orderkey").cast("bigint").alias("sum_key"),
            F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5))
            .cast("bigint")
            .alias("sum_price_c"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "format_stats",
    # footer statistics must equal the real aggregates: count/min/max/sum
    # per column, computed WITHOUT scanning data (footer-only reads).
    # Integer sums are exact in the writer; double sums are order-dependent
    # so the stats surface min/max only for value (sum_int NULL)
    oracle="""
    SELECT 'event_id' AS col_name, count(event_id) AS n,
           CAST(min(event_id) AS DOUBLE) AS min_num,
           CAST(max(event_id) AS DOUBLE) AS max_num,
           CAST(sum(event_id) AS BIGINT) AS sum_int
    FROM events
    UNION ALL
    SELECT 'user_id', count(user_id), CAST(min(user_id) AS DOUBLE),
           CAST(max(user_id) AS DOUBLE), CAST(sum(user_id) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'value', count(value), CAST(min(value) AS DOUBLE),
           CAST(max(value) AS DOUBLE), CAST(NULL AS BIGINT)
    FROM events
    ORDER BY col_name
    """,
)
def format_stats(spark, sf_dir):
    """File-footer statistics as a system-catalog table (reference A19,
    ColumnStatisticsImpl consumed by OrcFileTail readers): events written
    as multi-part DWRF, then per-column count/min/max/sum assembled by
    MERGING each part file's footer stats — zero data bytes read, the
    footer-only planning cost every stats-driven optimizer (CBO row
    counts, pruning, NDV hints) depends on. The oracle recomputes the same
    aggregates from the source, pinning that footer stats are exact.
    Integer sums are exact in the writer; double sums are accumulation-
    order-dependent so only min/max surface for float columns."""
    import shutil

    from ..sources import register
    from ..sources.stats import merged_column_stats

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/hive_dwrf_spark_stats_{base}"
    shutil.rmtree(path, ignore_errors=True)
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    e.repartition(4).write.format("dwrf").option("path", path).mode(
        "overwrite"
    ).save()

    # the SAME merge helper the dwrf_stats TVF runs — one copy of the
    # footer-merging algorithm, so the two catalog surfaces cannot drift
    cols = ["event_id", "user_id", "value"]
    merged = merged_column_stats(path)
    int_cols = {"event_id", "user_id"}
    rows = [
        (
            name,
            int(merged[name].count),
            float(merged[name].minimum),
            float(merged[name].maximum),
            # NULL when any part's int64 sum overflowed (the writer sets
            # the overflow flag and drops the sum) — never a partial value
            int(merged[name].sum)
            if name in int_cols and not merged[name].overflow
            else None,
        )
        for name in cols
    ]
    out = local_frame(
        spark,
        rows,
        "col_name string, n bigint, min_num double, max_num double,"
        " sum_int bigint",
    )
    return out.orderBy("col_name")


@query(
    "streaming_quantile",
    # the mergeable bin sketch built INCREMENTALLY over the stream must
    # finish to the same quantiles as the batch sketch — the oracle is
    # sketch_quantile's, byte-identical
    oracle="""
    WITH bins AS (
      SELECT CAST(floor(value / 20) AS BIGINT) AS bin, count(*) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    cum AS (
      SELECT bin,
             sum(cnt) OVER (ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(cnt) OVER () AS n
      FROM bins
    ),
    q(q_ppm) AS (VALUES (500000), (900000), (990000))
    SELECT CAST(q_ppm AS BIGINT) AS q_ppm,
           CAST(max(n) AS BIGINT) AS n,
           CAST((min(bin) + 1) * 20 AS BIGINT) AS est
    FROM cum CROSS JOIN q
    WHERE cum * 1000000 >= q_ppm * n
    GROUP BY q_ppm
    ORDER BY q_ppm
    """,
)
def streaming_quantile(spark, sf_dir):
    """The quantile bin sketch computed INCREMENTALLY over a stream: the
    same fixed-width bin counts (operators/sketch.py) run as a streaming
    groupBy — state is one row per occupied bin (value-range-bounded,
    never stream-length-bounded), updated per micro-batch exactly because
    the sketch is mergeable. Complete-mode emission finishes to the batch
    quantiles bit-for-bit, whatever micro-batch slicing availableNow
    chose — the property that lets a 100 TB pipeline keep live p99s
    without ever rescanning history."""
    import shutil

    from ..operators.sketch import quantile_bin_sketch, quantile_from_bins
    from ..sources import register
    from ..streaming import stream_dwrf_dir

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    src = f"/tmp/hive_dwrf_spark_squant_src_{base}"
    ckpt = f"/tmp/hive_dwrf_spark_squant_ckpt_{base}"
    for p in (src, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events")
    # several part files so availableNow has real micro-batch boundaries
    e.repartition(4).write.format("dwrf").option("path", src).option(
        "stripe_rows", "12500"
    ).mode("overwrite").save()
    # reuse the batch sketch builder so streaming and batch share ONE bin
    # expression — including its value-IS-NOT-NULL convention (a NULL bin
    # would diverge from the ANSI replay under Spark's NULL-first windows)
    bins = quantile_bin_sketch(stream_dwrf_dir(spark, src), "value", 20)
    q = (
        bins.writeStream.format("memory")
        .queryName(f"squant_{base}")
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    return quantile_from_bins(
        spark.table(f"squant_{base}"), 20, [500_000, 900_000, 990_000]
    ).orderBy("q_ppm")


@query(
    "streaming_drift_psi",
    # the streamed side's bin sketch must converge to the batch sketch
    # (mergeable state, one row per occupied bin), so the finished PSI
    # equals the all-batch replay — the oracle is pipeline_drift_psi's,
    # byte-identical
    oracle="""
    WITH a AS (
      SELECT CAST(floor(value / 20) AS BIGINT) AS bin, count(*) AS cnt_a
      FROM events WHERE value IS NOT NULL AND event_id % 2 = 0 GROUP BY 1
    ),
    b AS (
      SELECT CAST(floor(value / 20) AS BIGINT) AS bin, count(*) AS cnt_b
      FROM events WHERE value IS NOT NULL AND event_id % 2 = 1 GROUP BY 1
    ),
    j AS (
      SELECT coalesce(a.bin, b.bin) AS bin,
             coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
      FROM a FULL OUTER JOIN b USING (bin)
    ),
    t AS (SELECT sum(cnt_a) AS n_a, sum(cnt_b) AS n_b,
                 count(*) AS n_bins FROM j)
    SELECT bin, CAST(cnt_a AS BIGINT) AS cnt_a,
           CAST(cnt_b AS BIGINT) AS cnt_b,
           round(
             (CAST(cnt_a + 1 AS DOUBLE) / (n_a + n_bins)
              - CAST(cnt_b + 1 AS DOUBLE) / (n_b + n_bins))
             * ln((CAST(cnt_a + 1 AS DOUBLE) / (n_a + n_bins))
                  / (CAST(cnt_b + 1 AS DOUBLE) / (n_b + n_bins))),
             6) AS psi_contrib
    FROM j CROSS JOIN t
    ORDER BY bin
    """,
)
def streaming_drift_psi(spark, sf_dir):
    """LIVE drift monitoring: the reference distribution (even event ids)
    is a static bin sketch; the incoming stream (odd ids, via the DWRF
    stream source) maintains ITS sketch as streaming state — one row per
    occupied bin, value-range-bounded — and any emission joins the two
    catalog-sized sketches into the PSI. Because the bin sketch is
    mergeable, the streamed sketch equals the batch sketch whatever
    micro-batch slicing availableNow chose, so the live PSI is exactly
    the batch PSI — drift alerts on a 100 TB/day feed with no history
    rescans and state independent of stream length."""
    import shutil

    from ..operators.sketch import drift_psi_from_bins, quantile_bin_sketch
    from ..sources import register
    from ..streaming import stream_dwrf_dir

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    src = f"/tmp/hive_dwrf_spark_sdrift_src_{base}"
    ckpt = f"/tmp/hive_dwrf_spark_sdrift_ckpt_{base}"
    for p in (src, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events")
    odd = e.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    odd.repartition(4).write.format("dwrf").option("path", src).option(
        "stripe_rows", "12500"
    ).mode("overwrite").save()
    stream_bins = quantile_bin_sketch(stream_dwrf_dir(spark, src), "value", 20)
    q = (
        stream_bins.writeStream.format("memory")
        .queryName(f"sdrift_{base}")
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    ref_bins = quantile_bin_sketch(
        e.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0), "value", 20
    )
    return drift_psi_from_bins(ref_bins, spark.table(f"sdrift_{base}")).orderBy(
        "bin"
    )


@query(
    "format_sql_surface",
    # everything below INSERTs through spark.sql only; the oracle replays
    # the same DML arithmetic on the parquet source: nation + one inserted
    # row, aggregated per region
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
           count(*) AS cnt,
           CAST(sum(n_nationkey) AS BIGINT) AS sum_key
    FROM (
      SELECT n_nationkey, n_regionkey FROM nation
      UNION ALL SELECT 99, 0
    )
    GROUP BY 1
    ORDER BY 1
    """,
)
def format_sql_surface(spark, sf_dir):
    """Pure-SQL DDL/DML surface over DWRF (sources/sql.py): the nation
    table written as DWRF, exposed via CREATE TEMPORARY VIEW ... USING
    dwrf, mutated with SQL INSERT INTO (append) and INSERT OVERWRITE
    (SELECT over the first view), refreshed, and read back with a SQL
    aggregate — no DataFrame read/write API anywhere past the seed copy.
    Reference parity: Hive DDL over the DWRF SerDe gives the reference
    this surface natively; Spark's Python DataSource carries it through
    CreateTempViewUsing (persistent catalog tables drop the path option
    JVM-side — see sources/sql.py for the verified gap)."""
    import shutil

    from ..sources import register
    from ..sources.sql import create_temp_table, refresh

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_sqlsurface_{base}/nation"
    agg = f"/tmp/hive_dwrf_spark_sqlsurface_{base}/agg"
    shutil.rmtree(os.path.dirname(src), ignore_errors=True)
    load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).coalesce(1).write.format("dwrf").mode("overwrite").save(src)
    vn, va = f"nation_sql_{base}".replace(".", "_"), (
        f"agg_sql_{base}".replace(".", "_")
    )
    create_temp_table(spark, vn, src)
    spark.sql(f"INSERT INTO {vn} VALUES (99, 'SQLLAND', 0)")
    refresh(spark, vn)
    # seed the overwrite target with a throwaway row of the right schema,
    # then INSERT OVERWRITE it from a SELECT over the first view
    spark.sql(
        "SELECT CAST(-1 AS BIGINT) AS n_regionkey, CAST(0 AS BIGINT) AS cnt,"
        " CAST(0 AS BIGINT) AS sum_key"
    ).write.format("dwrf").mode("overwrite").save(agg)
    create_temp_table(spark, va, agg)
    spark.sql(
        f"""
        INSERT OVERWRITE {va}
        SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
               count(*) AS cnt,
               CAST(sum(n_nationkey) AS BIGINT) AS sum_key
        FROM {vn}
        GROUP BY n_regionkey
        """
    )
    refresh(spark, va)
    return spark.sql(f"SELECT * FROM {va} ORDER BY n_regionkey")


@query(
    "format_sql_lookup",
    # same row numbering as format_point_lookup_batch, sparser key set
    oracle="""
    WITH src AS (
      SELECT l_orderkey AS okey, l_linenumber AS ln,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
             l_returnflag AS flag,
             row_number() OVER (
               ORDER BY l_orderkey, l_linenumber, l_quantity,
                        l_extendedprice, l_returnflag, l_partkey, l_suppkey
             ) - 1 AS rn
      FROM lineitem
    )
    SELECT rn, okey, ln, qty_c, price_c, flag
    FROM src WHERE rn % 101 = 0 ORDER BY rn
    """,
)
def format_sql_lookup(spark, sf_dir):
    """The batched point-lookup serving surface reachable from plain SQL:
    ``SELECT ... FROM dwrf_lookup(path, key_col, array(...))`` — a Python
    UDTF (sources/udtf.py) whose schema comes from the table's own footer
    at analysis time and whose eval is ONE lookup_keys pass (footer-stats
    file pruning + ROW_INDEX stride pruning + one decode per touched
    stride). Same range-sorted multi-file layout as
    format_point_lookup_batch; the key batch is every 101st row number,
    sized from footer stats alone (zero data bytes)."""
    import shutil

    from ..sources import register
    from ..sources.stats import dwrf_path_stats

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/hive_dwrf_spark_sqllk_{base}"
    shutil.rmtree(path, ignore_errors=True)
    df = _numbered_lineitem(spark, sf_dir)
    _write_range_sorted(df, path, "rn", 4)
    _release_pinned(df)
    n = dwrf_path_stats(path)["rows"]
    katoms = ", ".join(str(k) for k in range(0, n, 101))
    return spark.sql(
        f"""
        SELECT rn, okey, ln, qty_c, price_c, flag
        FROM dwrf_lookup('{path}', 'rn', array({katoms}))
        ORDER BY rn
        """
    )


@query("format_compact_distributed")
def format_compact_distributed(spark, sf_dir):
    """Small-file compaction as a DISTRIBUTED job
    (operators/layout.py::compact_table): events written as 8 small-stripe
    part files, packed into ~256 KB bins by the catalog-only planner
    (compaction_plan), each bin stripe-copy-merged by ONE Spark task
    (merge_files — no decode), and the compacted directory read back.
    In-engine self-checks pin that >1 merge task ran and the output has
    fewer files than the input; the aggregate must equal format_compact's
    oracle on the parquet source (assigned below) — distribution may never
    change bytes. This is A22 at fleet shape: a million-file table
    compacts in parallel at IO speed with the driver touching only the
    catalog."""
    import glob
    import shutil

    from ..operators.layout import compact_table
    from ..sources import register

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_dcompact_src_{base}"
    out = f"/tmp/hive_dwrf_spark_dcompact_out_{base}"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    e = load(spark, sf_dir, "events")
    e.repartition(8).write.format("dwrf").option("path", src).option(
        "stripe_rows", "1000"
    ).mode("overwrite").save()
    # target ~ a third of the table so the 8 inputs pack into a few bins
    # at ANY scale factor (a fixed byte target stops compacting once
    # every part file exceeds it: each lands in its own bin)
    from ..sources.stats import dwrf_path_stats

    total = dwrf_path_stats(src)["file_bytes"]
    report = compact_table(
        spark, src, target_bytes=max(256 * 1024, total // 3), out_dir=out
    )
    n_in = len(glob.glob(os.path.join(src, "*.dwrf")))
    n_out = len(glob.glob(os.path.join(out, "*.dwrf")))
    bins = report.count()
    assert bins >= 1 and n_out == bins and n_out < n_in, (n_in, n_out, bins)
    assert report.agg(F.sum("files_in")).first()[0] == n_in
    back = spark.read.format("dwrf").load(out)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("value") * 10000 + 0.5)).alias(
                "sum_value_e4"
            ),
            F.count_distinct(F.col("user_id")).alias("users"),
        )
        .orderBy("event_type")
    )


# value-transparent by construction: the distributed rewrite must equal
# the single-process compaction's replay on the parquet source
ORACLE["format_compact_distributed"] = ORACLE["format_compact"]


@query("format_sql_stats")
def format_sql_stats(spark, sf_dir):
    """The footer-statistics catalog reachable from plain SQL
    (sources/udtf.py::DwrfStatsUDTF): the same multi-part events table
    format_stats writes, read back as ``SELECT * FROM dwrf_stats(path)``
    — per-column count/min/max/exact-int-sum assembled by merging part
    footers, ZERO data bytes read. Must equal format_stats' oracle
    verbatim (assigned below): the SQL surface may never drift from the
    Python one."""
    import shutil

    from ..sources import register

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/hive_dwrf_spark_sqlstats_{base}"
    shutil.rmtree(path, ignore_errors=True)
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    e.repartition(4).write.format("dwrf").option("path", path).mode(
        "overwrite"
    ).save()
    return spark.sql(
        f"SELECT * FROM dwrf_stats('{path}') ORDER BY col_name"
    )


ORACLE["format_sql_stats"] = ORACLE["format_stats"]


@query(
    "format_sql_verify",
    # deterministic scrub result: one coalesced file at stripe_rows=1000
    # has exactly ceil(rows/1000) stripes, all CRCs fresh -> 'ok'
    oracle="""
    SELECT CAST(ceil(count(*) / 1000.0) AS BIGINT) AS stripes,
           'ok' AS status
    FROM events
    """,
)
def format_sql_verify(spark, sf_dir):
    """The CRC scrub reachable from plain SQL
    (sources/udtf.py::DwrfVerifyUDTF): events written as ONE checksummed
    DWRF file (stripe_rows=1000 makes the stripe count a pure function
    of the row count), then ``SELECT stripes, status FROM
    dwrf_verify(path)`` — the object-store rot sweep as a SQL query.
    Completes the per-surface parity of the ops toolbox: every command
    (dump/stats/lookup/compact/verify) now has both a CLI and, where it
    returns rows, a SQL face."""
    import shutil

    from ..sources import register

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/hive_dwrf_spark_sqlverify_{base}"
    shutil.rmtree(path, ignore_errors=True)
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    e.coalesce(1).write.format("dwrf").option("path", path).option(
        "stripe_rows", "1000"
    ).option("checksums", "true").mode("overwrite").save()
    return spark.sql(
        f"SELECT stripes, status FROM dwrf_verify('{path}')"
    )


@query(
    "streaming_manifest_compaction",
    # a multi-batch stream whose commit log is COMPACTED in place must
    # still read back exactly-once under committedOnly — compaction can
    # drop history, never commits
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_e4
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_manifest_compaction(spark, sf_dir):
    """Manifest compaction end-to-end (round 11): events flow through the
    DWRF sink as MULTIPLE micro-batches — a seed file is streaming when
    the query starts, the remaining files land MID-RUN and are admitted
    one per trigger (maxFilesPerTrigger=1; per-trigger caps are
    steady-state rate limiters — the first catch-up batch of a planner
    is deliberately an uncapped superset, so new arrivals are the way to
    exercise capped admission end-to-end). manifestCompactInterval=2
    rewrites the _batches log to resolved form mid-stream several times.
    The resolved-form invariant (one data line per committed live file)
    is asserted inline; the directory is then polluted with an orphan, a
    retried max-batchId commit, and a torn append, compact_manifest runs
    AGAIN over the polluted log, and the committedOnly aggregate must
    still equal the source exactly — compaction resolves history, it
    never manufactures or loses commits. Reference analogy: the footer's
    consolidated stripe directory (ReaderImpl.java:204-260) — readers
    never replay a log."""
    import os as _os
    import shutil
    import time as _time

    import pyarrow as pa

    from ..format import write_arrow_table
    from ..sources import register
    from ..sources.dwrf_datasource import committed_files, compact_manifest
    from ..streaming import stream_dwrf_dir

    register(spark)
    base = _os.path.basename(_os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_mc_src_{base}"
    out = f"/tmp/hive_dwrf_spark_mc_out_{base}"
    ckpt = f"/tmp/hive_dwrf_spark_mc_ckpt_{base}"
    stage = f"/tmp/hive_dwrf_spark_mc_stage_{base}"
    for p in (src, out, ckpt, stage):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    seed = e.filter(F.col("event_id") % 5 == 0).drop("event_id")
    backlog = e.filter(F.col("event_id") % 5 != 0).drop("event_id")
    n_seed, n_total = seed.count(), e.count()
    seed.coalesce(1).write.format("dwrf").option("path", src).mode(
        "overwrite"
    ).save()
    backlog.repartition(4).write.format("dwrf").option(
        "path", stage
    ).mode("overwrite").save()
    q = (
        stream_dwrf_dir(spark, src, maxFilesPerTrigger=1)
        .writeStream.format("dwrf")
        .option("path", out)
        .option("manifestCompactInterval", "2")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 seconds")
        .start()
    )
    _await_committed_rows(q, out, n_seed)
    # backlog arrives mid-run, oldest-first order pinned by mtime;
    # admission is now capped to one file per trigger
    now = _time.time()
    moved = [f for f in sorted(_os.listdir(stage)) if f.endswith(".dwrf")]
    for i, fn in enumerate(moved):
        _os.utime(f"{stage}/{fn}", (now - 10 + i, now - 10 + i))
        _os.replace(f"{stage}/{fn}", f"{src}/backlog-{fn}")
    _await_committed_rows(q, out, n_total)
    q.stop()
    q.awaitTermination()
    # resolved form: one data line per committed live file
    lines = open(f"{out}/_batches").read().splitlines()
    data_lines = [ln for ln in lines if ln and not ln.startswith("#")]
    committed = committed_files(out)
    assert len(data_lines) == len(committed), (len(data_lines), committed)
    n_end = sum(1 for ln in lines if ln.startswith("#end\t"))
    assert n_end >= 5, f"expected >=5 batches, log has {n_end} groups"
    # pollute: orphan, retried max-batchId commit, torn append
    junk = pa.table(
        {"event_type": pa.array(["zzz_junk"]), "value": pa.array([1e9])}
    )
    for n in ("orphan", "retry", "torn"):
        write_arrow_table(f"{out}/part-{n}.dwrf", junk)
    max_bid = max(
        int(ln.split("\t")[1]) for ln in lines if ln.startswith("#end\t")
    )
    with open(f"{out}/_batches", "a") as f:
        f.write(f"#begin\t{max_bid}\n{max_bid}\tpart-retry.dwrf\t1\n")
        f.write(f"#end\t{max_bid}\n")
        f.write(f"#begin\t{max_bid + 1}\n{max_bid + 1}\tpart-torn.dwrf\t1\n")
    # the live-writer guard first: the log was appended to seconds ago,
    # so an unforced call must refuse (round-12 quiesce guard) …
    try:
        compact_manifest(out)
        raise AssertionError("quiesce guard did not trip on a fresh log")
    except ValueError as e:
        assert "live writer" in str(e), e
    # … then compaction over the polluted log must not resurrect any of
    # them (the stream is stopped, so force is the truthful override)
    compact_manifest(out, force=True)
    assert committed_files(out) == committed
    text = open(f"{out}/_batches").read()
    assert "part-retry.dwrf" not in text and "part-torn.dwrf" not in text
    back = (
        spark.read.format("dwrf").option("committedOnly", "true").load(out)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("value") * 10000 + 0.5)).alias(
                "sum_value_e4"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_bytes_capped",
    # byte-bounded admission must only change the micro-batch SLICING,
    # never the data: the aggregate equals the source aggregate
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(user_id) AS BIGINT) AS sum_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_bytes_capped(spark, sf_dir):
    """maxBytesPerTrigger end-to-end (round 11): a backlog landing
    MID-RUN is admitted oldest-first until the per-trigger byte budget
    is spent, so the catch-up becomes several micro-batches (asserted
    inline from the sink's commit groups; the first batch of a planner
    stays an uncapped superset by design — restart correctness). A
    training-ingest rate limiter has to bound BYTES — part files vary
    1000x in size, so a count cap alone lets one fat file blow the
    trigger budget."""
    import os as _os
    import shutil
    import time as _time

    from ..sources import register
    from ..streaming import stream_dwrf_dir

    register(spark)
    base = _os.path.basename(_os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_bc_src_{base}"
    out = f"/tmp/hive_dwrf_spark_bc_out_{base}"
    ckpt = f"/tmp/hive_dwrf_spark_bc_ckpt_{base}"
    stage = f"/tmp/hive_dwrf_spark_bc_stage_{base}"
    for p in (src, out, ckpt, stage):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id"
    )
    seed = e.filter(F.col("event_id") % 7 == 0).drop("event_id")
    backlog = e.filter(F.col("event_id") % 7 != 0).drop("event_id")
    n_seed, n_total = seed.count(), e.count()
    seed.coalesce(1).write.format("dwrf").option("path", src).mode(
        "overwrite"
    ).save()
    backlog.repartition(6).write.format("dwrf").option(
        "path", stage
    ).mode("overwrite").save()
    sizes = [
        _os.path.getsize(f"{stage}/{fn}")
        for fn in _os.listdir(stage)
        if fn.endswith(".dwrf")
    ]
    cap = max(sum(sizes) // 3, 1)  # ~2 backlog files per trigger
    q = (
        stream_dwrf_dir(spark, src, maxBytesPerTrigger=cap)
        .writeStream.format("dwrf")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 seconds")
        .start()
    )
    _await_committed_rows(q, out, n_seed)
    now = _time.time()
    moved = [f for f in sorted(_os.listdir(stage)) if f.endswith(".dwrf")]
    for i, fn in enumerate(moved):
        _os.utime(f"{stage}/{fn}", (now - 10 + i, now - 10 + i))
        _os.replace(f"{stage}/{fn}", f"{src}/backlog-{fn}")
    _await_committed_rows(q, out, n_total)
    q.stop()
    q.awaitTermination()
    n_batches = sum(
        1
        for ln in open(f"{out}/_batches").read().splitlines()
        if ln.startswith("#end\t")
    )
    assert n_batches >= 3, f"byte cap did not split admission: {n_batches}"
    back = (
        spark.read.format("dwrf").option("committedOnly", "true").load(out)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("user_id").cast("bigint").alias("sum_users"),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_late_backfill",
    # a backfilled below-watermark file admitted via allowLateFiles must
    # contribute exactly once: the final aggregate equals the FULL source
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(user_id) AS BIGINT) AS sum_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_late_backfill(spark, sf_dir):
    """allowLateFiles end-to-end (round 11): tranche A streams through
    the sink and the checkpoint's watermark advances past one hour ago;
    tranche B is then BACKFILLED with an mtime below that watermark (the
    copied-with-timestamps shape backfills actually have). The resumed
    stream admits it through the offset's late registry — planned exactly
    once, never replayed — so the union of both runs equals the full
    source aggregate. Without the option the default refuses the file
    (counted + logged), keeping offsets bounded; the registry trades that
    bound for retention-bounded backfill ingest."""
    import os as _os
    import shutil
    import time as _time

    from ..sources import register
    from ..streaming import stream_dwrf_dir

    register(spark)
    base = _os.path.basename(_os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_lb_src_{base}"
    out = f"/tmp/hive_dwrf_spark_lb_out_{base}"
    ckpt = f"/tmp/hive_dwrf_spark_lb_ckpt_{base}"
    for p in (src, out, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id"
    )
    # tranche split on a stable key; BOTH tranches together = the table
    a = e.filter(F.col("event_id") % 5 != 0).drop("event_id")
    b = e.filter(F.col("event_id") % 5 == 0).drop("event_id")
    a.write.format("dwrf").option("path", src).mode("overwrite").save()

    def _run():
        q = (
            stream_dwrf_dir(
                spark, src, allowLateFiles=True, maxFileAgeSec=60
            )
            .writeStream.format("dwrf")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_done(q)

    _run()
    # backfill: tranche B lands with an hour-old mtime, far below the
    # checkpointed watermark (newest tranche-A mtime minus 60 s)
    bdir = f"{src}_stage"
    shutil.rmtree(bdir, ignore_errors=True)
    b.coalesce(1).write.format("dwrf").option("path", bdir).mode(
        "overwrite"
    ).save()
    t = _time.time() - 3600
    for fn in _os.listdir(bdir):
        if fn.endswith(".dwrf"):
            _os.utime(f"{bdir}/{fn}", (t, t))
            _os.replace(f"{bdir}/{fn}", f"{src}/backfill-{fn}")
    _run()  # resume: the late registry admits the backfill exactly once
    _run()  # and a third pass must add nothing (no replay)
    back = (
        spark.read.format("dwrf").option("committedOnly", "true").load(out)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("user_id").cast("bigint").alias("sum_users"),
        )
        .orderBy("event_type")
    )


@query(
    "format_sink_compact",
    # merging a sink's small files + rewriting its manifest must be
    # value-transparent: the committedOnly aggregate equals the source
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_e4
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def format_sink_compact(spark, sf_dir):
    """In-place sink compaction (round 11): events stream through the
    DWRF sink (several per-task part files), compact_sink stripe-copy
    merges the committed files and atomically rewrites the _batches
    manifest (synthetic m-<uuid> commit groups, row counts carried), an
    orphan dropped in before compaction stays excluded, and the
    committedOnly read over the COMPACTED directory equals the source —
    the small-file remedy for high-frequency triggers (SCALE.md
    "Streaming DWRF sink") without giving up read-time exactly-once."""
    import os as _os
    import shutil

    import pyarrow as pa

    from ..format import write_arrow_table
    from ..sources import register
    from ..sources.dwrf_datasource import compact_sink
    from ..streaming import stream_dwrf_dir

    register(spark)
    base = _os.path.basename(_os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_sc_src_{base}"
    out = f"/tmp/hive_dwrf_spark_sc_out_{base}"
    ckpt = f"/tmp/hive_dwrf_spark_sc_ckpt_{base}"
    for p in (src, out, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events").select("event_type", "value")
    e.repartition(4).write.format("dwrf").option("path", src).mode(
        "overwrite"
    ).save()
    q = (
        stream_dwrf_dir(spark, src)
        .writeStream.format("dwrf")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_done(q)
    write_arrow_table(
        f"{out}/part-orphan.dwrf",
        pa.table(
            {"event_type": pa.array(["zzz_junk"]), "value": pa.array([1e9])}
        ),
    )
    n_before = sum(
        1 for f in _os.listdir(out) if f.endswith(".dwrf")
    )
    # live-writer guard (round 12): the sink committed seconds ago, so
    # the unforced call refuses; the stream is stopped, so force is true
    try:
        compact_sink(out, target_bytes=256 << 20)
        raise AssertionError("quiesce guard did not trip on a fresh log")
    except ValueError as e:
        assert "live writer" in str(e), e
    rep = compact_sink(out, target_bytes=256 << 20, force=True)
    assert rep["merged_files"] >= 1, rep
    n_after = sum(1 for f in _os.listdir(out) if f.endswith(".dwrf"))
    assert n_after < n_before, (n_before, n_after)
    back = (
        spark.read.format("dwrf").option("committedOnly", "true").load(out)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("value") * 10000 + 0.5)).alias(
                "sum_value_e4"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_compact_tail",
    # compacting a sink dir BEHIND a committedOnly stream tail must be
    # invisible to the tail: merged names resolve through #src lineage,
    # so the final aggregate equals the full source exactly
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(user_id) AS BIGINT) AS sum_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_compact_tail(spark, sf_dir):
    """Merged-lineage stream tails (round 12): tranche A flows S -> U
    (DWRF sink) and a committedOnly tail ingests it U -> out. compact_sink
    then merges U's part files into one — a name the tail has never seen.
    The tail's next run ABSORBS it (every source resolves to its offset
    through the manifest's #src lineage) and emits nothing. Tranche B
    lands in U, a SECOND compaction folds merged-gen-1 + B into one file,
    and the tail's next run plans ONLY B's stripe spans (partial
    coverage, resolved transitively through generation 1). Total equals
    the source exactly — the round-11 cold-dirs-only restriction on
    compact_sink is lifted by lineage, not by luck. Reference analogy:
    readers carry positions into a consolidated stripe directory
    (ReaderImpl.java:204-260), never a file list."""
    import os as _os
    import shutil

    from ..sources import register
    from ..sources.dwrf_datasource import (
        committed_files,
        compact_sink,
        manifest_lineage,
    )
    from ..streaming import stream_dwrf_dir

    register(spark)
    base = _os.path.basename(_os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_ct_src_{base}"
    mid = f"/tmp/hive_dwrf_spark_ct_mid_{base}"
    out = f"/tmp/hive_dwrf_spark_ct_out_{base}"
    ck_u = f"/tmp/hive_dwrf_spark_ct_ckU_{base}"
    ck_t = f"/tmp/hive_dwrf_spark_ct_ckT_{base}"
    stage = f"/tmp/hive_dwrf_spark_ct_stage_{base}"
    for p in (src, mid, out, ck_u, ck_t, stage):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events").select("event_type", "user_id", "event_id")
    a = e.filter(F.col("event_id") % 3 != 0).drop("event_id")
    b = e.filter(F.col("event_id") % 3 == 0).drop("event_id")
    n_a, n_total = a.count(), e.count()
    a.repartition(2).write.format("dwrf").option("path", src).mode(
        "overwrite"
    ).save()

    def _upstream():
        q = (
            stream_dwrf_dir(spark, src)
            .writeStream.format("dwrf")
            .option("path", mid)
            .option("checkpointLocation", ck_u)
            .trigger(availableNow=True)
            .start()
        )
        _await_done(q)

    def _tail():
        q = (
            stream_dwrf_dir(spark, mid, committedOnly=True)
            .writeStream.format("dwrf")
            .option("path", out)
            .option("checkpointLocation", ck_t)
            .trigger(availableNow=True)
            .start()
        )
        _await_done(q)

    def _out_rows() -> int:
        total = 0
        with open(f"{out}/_batches") as f:
            for ln in f:
                parts = ln.rstrip("\n").split("\t")
                if parts and not parts[0].startswith("#") and len(parts) >= 3:
                    total += int(parts[2] or 0)
        return total

    _upstream()
    _tail()
    assert _out_rows() == n_a, (_out_rows(), n_a)
    # generation 1: compact behind the tail (merged name, sources gone)
    compact_sink(mid, target_bytes=256 << 20, force=True)
    assert manifest_lineage(mid), "compaction recorded no lineage"
    _tail()  # absorbed: every source resolves to the tail's offset
    assert _out_rows() == n_a, (_out_rows(), n_a)
    # tranche B arrives; generation 2 folds gen-1 + B into ONE file, so
    # the tail must plan only B's spans (transitive partial coverage)
    b.repartition(2).write.format("dwrf").option("path", stage).mode(
        "overwrite"
    ).save()
    for fn in sorted(_os.listdir(stage)):
        if fn.endswith(".dwrf"):
            _os.replace(f"{stage}/{fn}", f"{src}/b-{fn}")
    _upstream()
    compact_sink(mid, target_bytes=256 << 20, force=True)
    assert len(committed_files(mid)) == 1, committed_files(mid)
    _tail()
    assert _out_rows() == n_total, (_out_rows(), n_total)
    _tail()  # and one more pass adds nothing
    assert _out_rows() == n_total, (_out_rows(), n_total)
    back = (
        spark.read.format("dwrf").option("committedOnly", "true").load(out)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("user_id").cast("bigint").alias("sum_users"),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_delta_offsets",
    # delta-form offsets (base catalog + adds/removes) must only change
    # the offset ENCODING, never the data: the final aggregate equals
    # the full source aggregate across caps, restarts and backfills
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(sum(user_id) AS BIGINT) AS sum_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_delta_offsets(spark, sf_dir):
    """Delta offsets end-to-end (round 12): a seed directory wider than
    ``offsetDeltaThreshold`` makes the planner persist a base catalog
    under ``_dwrf_offsets`` and checkpoint ``{base_ref, adds, removes}``
    offsets — bytes tracking the ARRIVAL RATE, not the live-name count
    (the round-11 ceiling was a measured 4.1 MB per trigger at 100k
    names). A mid-run backlog lands under maxFilesPerTrigger=2, so
    steady-state triggers checkpoint small ``adds`` against the SAME
    base generation (asserted from the checkpoint's own offset log). A
    RESTARTED query then resolves the checkpointed delta offset through
    the base file on disk and ingests a post-restart tranche exactly
    once. Reference analogy: readers carry a position into the footer's
    consolidated stripe directory, never the directory itself
    (ReaderImpl.java:204-260)."""
    import json as _json
    import os as _os
    import shutil
    import time as _time

    from ..sources import register
    from ..streaming import stream_dwrf_dir

    register(spark)
    base = _os.path.basename(_os.path.normpath(sf_dir))
    src = f"/tmp/hive_dwrf_spark_do_src_{base}"
    out = f"/tmp/hive_dwrf_spark_do_out_{base}"
    ckpt = f"/tmp/hive_dwrf_spark_do_ckpt_{base}"
    stage = f"/tmp/hive_dwrf_spark_do_stage_{base}"
    for p in (src, out, ckpt, stage):
        shutil.rmtree(p, ignore_errors=True)
    e = load(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id"
    )
    seed = e.filter(F.col("event_id") % 4 == 0).drop("event_id")
    mid = e.filter(F.col("event_id") % 4 == 1).drop("event_id")
    tail_t = e.filter(F.col("event_id") % 4 > 1).drop("event_id")
    n_seed = seed.count()
    n_mid = n_seed + mid.count()
    n_total = e.count()
    seed.repartition(8).write.format("dwrf").option("path", src).mode(
        "overwrite"
    ).save()
    mid.repartition(4).write.format("dwrf").option(
        "path", stage
    ).mode("overwrite").save()

    opts = {"offsetDeltaThreshold": 6, "maxFilesPerTrigger": 2}
    q = (
        stream_dwrf_dir(spark, src, **opts)
        .writeStream.format("dwrf")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 seconds")
        .start()
    )
    _await_committed_rows(q, out, n_seed)
    now = _time.time()
    moved = [f for f in sorted(_os.listdir(stage)) if f.endswith(".dwrf")]
    for i, fn in enumerate(moved):
        _os.utime(f"{stage}/{fn}", (now - 10 + i, now - 10 + i))
        _os.replace(f"{stage}/{fn}", f"{src}/mid-{fn}")
    _await_committed_rows(q, out, n_mid)
    q.stop()
    q.awaitTermination()

    # the checkpoint's own offset log must show the delta encoding:
    # every offset past the threshold is base_ref-form (no inline
    # catalog), steady-state ones carry small adds against ONE base
    def _offsets():
        odir = f"{ckpt}/offsets"
        offs = []
        for fn in sorted(_os.listdir(odir), key=lambda s: (len(s), s)):
            if fn.startswith("."):
                continue
            for ln in open(f"{odir}/{fn}"):
                ln = ln.strip()
                if ln.startswith("{") and (
                    '"base_ref"' in ln or '"files"' in ln
                ):
                    offs.append(_json.loads(ln))
        return offs

    offs = _offsets()
    delta_offs = [o for o in offs if "base_ref" in o]
    assert delta_offs, f"no delta-form offsets in {len(offs)}"
    assert all("files" not in o for o in delta_offs)
    steady = [o for o in delta_offs if o.get("adds")]
    assert steady, "no steady-state adds-only offset observed"
    assert len({o["base_ref"] for o in delta_offs}) <= 2, delta_offs
    assert _os.listdir(f"{src}/_dwrf_offsets"), "no base catalog on disk"

    # restart: a fresh planner must resolve the checkpointed delta
    # offset through the base file and ingest ONLY the new tranche
    tail_t.repartition(2).write.format("dwrf").option(
        "path", stage
    ).mode("overwrite").save()
    for fn in sorted(_os.listdir(stage)):
        if fn.endswith(".dwrf"):
            _os.replace(f"{stage}/{fn}", f"{src}/tail-{fn}")

    def _run_once():
        q2 = (
            stream_dwrf_dir(spark, src, **opts)
            .writeStream.format("dwrf")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_done(q2)

    _run_once()
    _run_once()  # and one more pass adds nothing
    back = (
        spark.read.format("dwrf").option("committedOnly", "true").load(out)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("user_id").cast("bigint").alias("sum_users"),
        )
        .orderBy("event_type")
    )
