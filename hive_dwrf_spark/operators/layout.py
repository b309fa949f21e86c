"""Data layout for scan efficiency: clustered DWRF writes.

Min/max statistics only prune when values are clustered: a randomly-laid-out
column has every stride spanning the whole value range, so no predicate can
skip anything. write_clustered range-partitions on the cluster keys and
sorts within partitions before writing, giving near-disjoint stride/stripe
ranges — the layout step that turns the format's statistics machinery
(WriterImpl.createRowIndexEntry, our stride stats) into real IO savings.

At 100 TB this is a one-time (or per-ingest-batch) cost: repartitionByRange
samples the key distribution, so output files are balanced even under skew,
and every later range/equality predicate on the cluster key scans only the
files/stripes/strides that can match.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import local_frame


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int | None = None,
    mode: str = "append",
    **options: str,
) -> None:
    """Write df as DWRF, range-clustered on cluster_by.

    n_files controls output file count (default: current parallelism)."""
    parts = [df[c] for c in cluster_by]
    ranged = (
        df.repartitionByRange(n_files, *parts)
        if n_files
        else df.repartitionByRange(*parts)
    )
    writer = (
        ranged.sortWithinPartitions(*cluster_by)
        .write.format("dwrf")
        .option("path", path)
        .mode(mode)
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def add_zorder_key(
    df: DataFrame, cols: list[str], bits: int = 16, key_col: str = "zkey"
) -> DataFrame:
    """Append a Z-order (Morton) key interleaving the quantized bits of
    `cols` — the multi-column clustering key range-clustering can't give:
    sorting by (a, b) prunes predicates on `a` but leaves `b` strides
    spanning the full range, while z-order makes BOTH columns' stride
    min/max ranges narrow, so either predicate skips IO.

    Quantization is overflow-free integer math (bucket width = range /
    2^bits + 1, then (x - min) / width), so the key is a deterministic pure
    projection replayable in ANSI SQL. The column min/max come from one
    tiny aggregate broadcast back — at 100 TB that's a metadata-priced
    extra pass (or feed known bounds from table stats). NULLs quantize to
    bucket 0, keeping them clustered at the low end rather than scattered."""
    if not 1 <= bits * len(cols) <= 63:
        raise ValueError(f"bits * len(cols) must fit a long, got {bits * len(cols)}")
    stats = df.agg(
        *[F.min(c).cast("bigint").alias(f"__min_{c}") for c in cols],
        *[F.max(c).cast("bigint").alias(f"__max_{c}") for c in cols],
    )
    out = df.crossJoin(F.broadcast(stats))
    qs = []
    for c in cols:
        # bucket width = range >> bits + 1; quantize with integer `div` —
        # all-bigint arithmetic, no double rounding anywhere, so the key
        # is bit-stable across engines and partitionings
        rng = F.col(f"__max_{c}") - F.col(f"__min_{c}")
        out = out.withColumn(f"__w_{c}", F.shiftright(rng, bits) + F.lit(1))
        q = F.expr(
            f"(cast(`{c}` as bigint) - `__min_{c}`) div `__w_{c}`"
        )
        qs.append(F.coalesce(q, F.lit(0)))
    terms = []
    for j, q in enumerate(qs):
        for k in range(bits):
            bit = F.shiftright(q, k).bitwiseAND(F.lit(1))
            terms.append(F.shiftleft(bit, k * len(qs) + j))
    z = reduce(lambda a, b: a.bitwiseOR(b), terms)
    return out.withColumn(key_col, z).drop(
        *[f"__min_{c}" for c in cols],
        *[f"__max_{c}" for c in cols],
        *[f"__w_{c}" for c in cols],
    )


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    bits: int = 16,
    n_files: int | None = None,
    mode: str = "append",
    **options: str,
) -> None:
    """Write df as DWRF clustered on the Z-order key of `zorder_by`:
    range-partition + sort on the interleaved key, then drop it — the
    layout survives in the file/stripe/stride statistics, not as a column.
    Same one-time-layout-cost-forever-pruning economics as
    write_clustered, but effective for predicates on ANY of the z columns."""
    keyed = add_zorder_key(df, zorder_by, bits=bits, key_col="__zkey")
    parts = [keyed["__zkey"]]
    ranged = (
        keyed.repartitionByRange(n_files, *parts)
        if n_files
        else keyed.repartitionByRange(*parts)
    )
    writer = (
        ranged.sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.format("dwrf")
        .option("path", path)
        .mode(mode)
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def compaction_plan(
    inventory: DataFrame,
    size_col: str,
    target_bytes: int,
    id_cols: list[str] | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Group small files into compaction jobs of ~target_bytes each.

    Input is a file INVENTORY (one row per file with its size) — catalog
    metadata, not data, so even a 100 TB table yields only O(file-count)
    rows and the single-partition planning window below is free; the
    expensive part of compaction is the rewrite this plan drives, never
    the planning. The assignment is sequential fill over the
    size-descending order: each file lands in the group its cumulative
    start offset falls in (grp = floor((cum - size) / target)). Descending
    order keeps big files alone in their groups and packs the small-file
    tail densely — the next-fit-decreasing heuristic — while staying a
    pure window expression: deterministic, re-runnable, and replayable in
    ANSI SQL (no driver loop, unlike a best-fit heap).

    Output: the inventory plus `grp` (compaction job id); callers feed
    each group to format/merge.py's stripe-level merge_files, which
    concatenates stripes without re-encoding. With `partition_cols`, the
    packing window runs PER partition combination (grp restarts at 0 in
    each), so files never co-bin across hive partitions — merging across
    them would silently drop the partition-column values, which live in
    the directory name, not the footer schema.
    """
    tiebreak = [F.col(c) for c in (id_cols or [])]
    w = (
        Window.partitionBy(*(partition_cols or []))
        .orderBy(F.col(size_col).desc(), *tiebreak)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = inventory.withColumn("__cum", F.sum(size_col).over(w))
    return cum.withColumn(
        "grp",
        F.floor((F.col("__cum") - F.col(size_col)) / F.lit(target_bytes)).cast(
            "bigint"
        ),
    ).drop("__cum")


def compact_table(
    spark,
    path: str,
    target_bytes: int,
    out_dir: str,
) -> DataFrame:
    """Distributed small-file compaction: the whole table's rewrite as ONE
    Spark job of stripe-copy merges.

    Planning is catalog-only — the file inventory (path, bytes) comes from
    a listing, compaction_plan's window packs it into ~target_bytes bins,
    and the group list collected to the driver is file-count-sized (the
    same catalog fetch every table-maintenance system makes). Execution
    distributes one bin per task; each task runs format/merge.py's
    merge_files — raw stripe-byte concatenation, no decode, no re-encode —
    and writes ``{out_dir}/part-c{grp}.dwrf``. On a 1000-executor cluster
    a million-file table compacts in parallel at IO speed; the driver
    never touches data bytes. The source directory is left intact (the
    caller swaps directories after validating, the rewrite-then-commit
    pattern); bins inherit merge_files' contract that members share a
    schema and compression kind, which one writer's output satisfies.

    Hive-partitioned layouts compact PER PARTITION — the partition values
    live in the directory name, not the footer, so a cross-partition
    merge would silently drop them; each bin's output lands under the
    same ``key=value`` subpath in out_dir and bins never span partitions.

    Returns the per-bin report (part, grp, files_in, bytes_in, out_path,
    rows); ``part`` is the partition subpath ('' for flat tables).
    """
    from ..format.fs import (
        fs_env_overlay,
        get_fs,
        join_path,
        rel_subpath,
        strip_file_uri,
    )
    from ..format.plans import data_files
    from ..shipping import ensure_shipped

    ensure_shipped(spark)
    path = strip_file_uri(path)
    out_dir = strip_file_uri(out_dir)
    # every path step routes through the fs seam with URI-safe string
    # algebra (join_path/rel_subpath, never os.path — normpath would
    # mangle 'scheme://'), so the whole job runs against an object store
    # exactly as against local disk
    fs = get_fs(path)
    files = data_files(path)
    if not files:
        raise FileNotFoundError(f"no .dwrf files under {path}")

    def rel_part(f: str) -> str:
        d = rel_subpath(f, path)
        return d.rsplit("/", 1)[0] if "/" in d else ""

    inv = local_frame(
        spark,
        [(f, rel_part(f), fs.size(f)) for f in files],
        "path string, part string, bytes long",
    )
    plan = compaction_plan(
        inv, "bytes", target_bytes, id_cols=["path"], partition_cols=["part"]
    )
    groups = (
        plan.groupBy("part", "grp")
        .agg(
            F.sort_array(F.collect_list("path")).alias("paths"),
            F.sum("bytes").alias("bytes_in"),
            F.count(F.lit(1)).alias("files_in"),
        )
        .collect()
    )
    out_fs = get_fs(out_dir)
    jobs = []
    for r in groups:
        d = join_path(out_dir, r.part) if r.part else out_dir
        out_fs.makedirs(d)
        jobs.append(
            (r.part, int(r.grp), list(r.paths), int(r.bytes_in),
             int(r.files_in), d)
        )
    # executors resolve filesystems by scheme themselves (workers
    # re-import the fs module); forward the driver's SPARK_GRAFT_FS*
    # routing env so they converge on the same registry — this is what
    # makes the merge tasks object-store-capable without pickling an fs
    fs_env = fs_env_overlay()

    def run(job):
        import os as _os

        _os.environ.update(fs_env)
        part, grp, paths, bytes_in, files_in, d = job
        from hive_dwrf_spark.format.fs import join_path as _join
        from hive_dwrf_spark.format.merge import merge_files
        from hive_dwrf_spark.format.reader import DwrfFile

        out = _join(d, f"part-c{grp:05d}.dwrf")
        merge_files(paths, out)
        with DwrfFile(out) as f:
            rows = f.num_rows
        return (part, grp, files_in, bytes_in, out, rows)

    report = (
        spark.sparkContext.parallelize(jobs, max(len(jobs), 1))
        .map(run)
        .collect()
    )
    return local_frame(
        spark,
        report,
        "part string, grp long, files_in long, bytes_in long,"
        " out_path string, rows long",
    )
