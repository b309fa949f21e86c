"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def spread(df: DataFrame, cap: int | None = None) -> DataFrame:
    """Widen a narrow scan so a Python-UDF stage uses every core.

    A small parquet file arrives as ONE input partition; any pandas UDF
    downstream then runs single-threaded no matter how many cores the
    cluster has. When (and only when) the plan has fewer partitions than
    the session's default parallelism, repartition up to it — a shuffle of
    the narrow input, trivially cheap next to the UDF it parallelizes. At
    real scale the input already has >= parallelism partitions and this is
    a metadata-only no-op (no shuffle added).

    ``cap`` bounds the widening for stages whose DOWNSTREAM consumers pay
    per-task overhead on the widened partitioning: a vectorized UDF
    saturates a few cores, and every extra partition costs fixed task
    overhead in each later stage that reads it (measured: minhash end-to-
    end is fastest widened to ~8, slower at full 32).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if cap is not None:
        target = min(cap, target)
    # Width probe via input file count, not df.rdd.getNumPartitions(): the
    # RDD probe forced a full plan analysis + RDD lineage build on every
    # call. File count under-counts (files split into stripes/row-groups),
    # so this stays conservative: a genuinely wide input (>= target files,
    # the 100 TB case) is never touched — and never narrowed — while a
    # bench-scale 1-file scan still fans out for the UDF stage.
    try:
        width = len(df.inputFiles())
    except Exception:
        width = 0
    if width >= target:
        return df
    return df.repartition(target)


def local_frame(spark, rows: list, schema: StructType | str) -> DataFrame:
    """A DataFrame of driver-built `rows` (tuples in `schema` order) that
    plans as a JVM ``LocalRelation``.

    ``createDataFrame(list)`` builds a ``LogicalRDD`` of pickled Python
    rows, so every action on it starts a Python worker to unpickle them
    (``orderBy().collect()`` of a 256-row frame: 0.9 s from a list vs
    0.2 s from an Arrow table, local[4] on a 4-core VM). A ``pa.Table``
    with the same explicit schema ships the rows to the JVM once."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    tbl = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(tbl, schema)


def collect_bounded(df: DataFrame, limit: int, weight=None):
    """The one way a driver-local path collects: (size, table) of `df`,
    persisted and sized — its rows, or the sum of the `weight` Column — by
    one no-op write (no exchange, unlike count()), then at or under
    `limit` fetched from that cache as Arrow and released. Over the limit
    the table is None and the frame stays cached for the distributed
    path, whose caller unpersists it."""
    from pyspark import StorageLevel
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema

    df.persist(StorageLevel.MEMORY_AND_DISK)
    obs, rows = Observation(), F.count(F.lit(1))
    weight = rows if weight is None else F.sum(weight)
    observed = df.observe(obs, rows.alias("rows"), weight.alias("size"))
    observed.write.format("noop").mode("overwrite").save()
    size = obs.get["size"] or 0
    if size > limit:
        return size, None
    empty = not obs.get["rows"]
    tbl = to_arrow_schema(df.schema).empty_table() if empty else df.toArrow()
    df.unpersist()
    return size, tbl
