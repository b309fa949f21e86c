"""SQL table-valued point lookup over DWRF:

    SELECT * FROM dwrf_lookup('/path/to/table', 'l_orderkey',
                              array(15, 1000, 4711))

The serving half of the A5 seek surface (format/lookup.py::lookup_keys —
footer-stats file pruning, ROW_INDEX stride pruning, one decode per
touched stride) exposed to plain SQL through a Python UDTF. The result
schema is derived from the table's own footer at ANALYSIS time via the
UDTF ``analyze`` hook, so the caller never declares it; reference parity:
the reference's seek path (RecordReaderImpl.java:494-543) is likewise
driven by the host engine's SQL layer with the schema from the reader
(ReaderImpl.java:204-260).

Scale shape: one eval call per input row (a bare TVF call = exactly one),
each eval is a k-key batched lookup touching only the files/strides that
can hold those keys — this is a SERVING surface (point reads), not a scan
operator; a join against a big key table should use the DataSource scan
path instead. A key batch above SPARK_GRAFT_LOOKUP_MAX_KEYS (default 1M)
is REJECTED with that guidance — past that size the request is a scan
wearing a lookup's clothes, and the scan path (predicate pushdown +
parallel splits) is strictly better.

Arrow batch emission (probed on pyspark 4.1.2, kept row-yield): the
arrow-native UDTF form (eval returning pyarrow batches) explicitly
rejects classes with an ``analyze`` method (SPARK-53286, verified via
pyspark.sql.udtf._validate_arrow_udtf_handler) — and footer-derived
schema at analysis time IS this TVF's contract, so it stays a regular
UDTF. ``useArrow=True`` (arrow TRANSPORT under row-yield eval) was
measured neutral at 100k output rows (2.15s vs 2.10s plain): the decode
dominates, not the pickling. Revisit when SPARK-53286 lands.

``analyze`` reads the first file's footer summary from the table
catalog on the driver (format/plans.py; a summary the scan or an earlier
lookup cached is not re-parsed), so the path must be driver-visible
(true for any shared filesystem / object store behind the fs seam). It
opens no serving handle: lookup_keys opens those for the files that
admit a key.
"""

from __future__ import annotations


class DwrfLookupUDTF:
    """UDTF class registered as ``dwrf_lookup`` by sources.register()."""

    # serving-path key-batch ceiling; register_udtfs() snapshots the
    # DRIVER's SPARK_GRAFT_LOOKUP_MAX_KEYS into the pickled class, because
    # eval runs in Spark's Python workers whose environment is frozen at
    # JVM start (a driver-side env change would silently not propagate)
    MAX_KEYS = 1_000_000

    @staticmethod
    def analyze(path, key_col, keys):
        from pyspark.sql.udtf import AnalyzeResult
        from pyspark.sql.types import StructField, StructType

        from ..format.fs import strip_file_uri
        from ..format.plans import data_files, file_plans
        from ..format.reader import _resolve_field
        from .dwrf_datasource import _arrow_to_spark_type

        if not (path.isConstantExpression and isinstance(path.value, str)):
            raise ValueError(
                "dwrf_lookup: path must be a constant string (the schema "
                "comes from that table's footer at analysis time)"
            )
        if not (
            key_col.isConstantExpression and isinstance(key_col.value, str)
        ):
            raise ValueError("dwrf_lookup: key_col must be a constant string")
        table = strip_file_uri(path.value)
        files = data_files(table)
        if not files:
            raise FileNotFoundError(f"no .dwrf files under {table}")
        schema = file_plans(files[:1])[files[0]].arrow_schema
        if _resolve_field(key_col.value, schema.names) is None:
            raise ValueError(
                f"dwrf_lookup: no column {key_col.value!r} in {files[0]}"
            )
        fields = [
            StructField(fl.name, _arrow_to_spark_type(fl.type))
            for fl in schema
        ]
        return AnalyzeResult(schema=StructType(fields))

    def eval(self, path, key_col, keys):
        from ..format.env import env_int
        from ..format.fs import strip_file_uri
        from ..format.lookup import lookup_keys

        # SQL equality semantics: a NULL array element matches no row, so
        # drop it here rather than let lookup_keys raise on it
        keys = [k for k in (keys or []) if k is not None]
        if not keys:
            return
        max_keys = env_int("SPARK_GRAFT_LOOKUP_MAX_KEYS", self.MAX_KEYS)
        if len(keys) > max_keys:
            raise ValueError(
                f"dwrf_lookup: {len(keys)} keys exceeds the serving-path "
                f"limit ({max_keys}); a batch this size is a scan — use "
                "spark.read.format('dwrf') with a join/IN filter "
                "(predicate pushdown + parallel splits) instead, or raise "
                "SPARK_GRAFT_LOOKUP_MAX_KEYS"
            )
        table = lookup_keys(strip_file_uri(path), key_col, keys)
        # column-wise pylist + zip beats to_pylist()'s per-row dicts
        yield from zip(*(c.to_pylist() for c in table.columns))


def register_udtfs(spark) -> None:
    """Register the SQL TVFs (idempotent per session)."""
    if getattr(spark, "_dwrf_udtfs_registered", False):
        return
    from pyspark.sql.functions import udtf

    from ..format.env import env_int

    # snapshot the driver's key-batch ceiling into the shipped class —
    # see DwrfLookupUDTF.MAX_KEYS for why env alone can't cross into
    # the Python workers
    lookup_cls = type(
        "DwrfLookupUDTF",
        (DwrfLookupUDTF,),
        {
            "MAX_KEYS": env_int(
                "SPARK_GRAFT_LOOKUP_MAX_KEYS", DwrfLookupUDTF.MAX_KEYS
            )
        },
    )
    spark.udtf.register("dwrf_lookup", udtf(lookup_cls))
    spark.udtf.register("dwrf_stats", udtf(DwrfStatsUDTF))
    spark.udtf.register("dwrf_verify", udtf(DwrfVerifyUDTF))
    spark._dwrf_udtfs_registered = True


class DwrfStatsUDTF:
    """Registered as ``dwrf_stats``: the table's footer-merged column
    statistics as SQL rows —

        SELECT * FROM dwrf_stats('/path/to/table')

    One row per top-level column: (col_name, n, min_num, max_num,
    sum_int). Zero data bytes are read (footer merging only — the
    catalog fetch a stats-driven optimizer makes). Numeric min/max
    surface as double; exact int64 sums surface unless a footer recorded
    overflow; string/bool/nested columns report their non-null count
    with NULL numerics (string min/max don't fit the numeric schema)."""

    @staticmethod
    def analyze(path):
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
        )
        from pyspark.sql.udtf import AnalyzeResult

        if not (path.isConstantExpression and isinstance(path.value, str)):
            raise ValueError("dwrf_stats: path must be a constant string")
        return AnalyzeResult(
            schema=StructType(
                [
                    StructField("col_name", StringType()),
                    StructField("n", LongType()),
                    StructField("min_num", DoubleType()),
                    StructField("max_num", DoubleType()),
                    StructField("sum_int", LongType()),
                ]
            )
        )

    def eval(self, path):
        from ..format.fs import strip_file_uri
        from ..format.types import TypeKind
        from .stats import merged_column_stats

        numeric = {
            TypeKind.BYTE,
            TypeKind.SHORT,
            TypeKind.INT,
            TypeKind.LONG,
            TypeKind.FLOAT,
            TypeKind.DOUBLE,
        }
        int_kinds = {
            TypeKind.BYTE,
            TypeKind.SHORT,
            TypeKind.INT,
            TypeKind.LONG,
        }
        for name, st in sorted(
            merged_column_stats(strip_file_uri(path)).items()
        ):
            is_num = st.kind in numeric and st.minimum is not None
            yield (
                name,
                int(st.count),
                float(st.minimum) if is_num else None,
                float(st.maximum) if is_num else None,
                int(st.sum)
                if st.kind in int_kinds and not st.overflow and st.count
                else None,
            )


class DwrfVerifyUDTF:
    """Registered as ``dwrf_verify``: CRC scrub of a DWRF table from SQL —

        SELECT * FROM dwrf_verify('/path/to/table')

    One row per data file: (file, stripes, bytes_checked, status) where
    status is 'ok' (all recorded per-stripe CRC32 triples match),
    'corrupt: <detail>' (bytes damaged since write — the silent-rot
    sweep an object-store fleet schedules), or 'no checksums' (file was
    written without ``checksums=true``). The SQL face of
    DwrfFile.verify / CLI ``verify``; reports per file instead of
    raising, so one rotten object doesn't hide the state of the rest."""

    @staticmethod
    def analyze(path):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )
        from pyspark.sql.udtf import AnalyzeResult

        if not (path.isConstantExpression and isinstance(path.value, str)):
            raise ValueError("dwrf_verify: path must be a constant string")
        return AnalyzeResult(
            schema=StructType(
                [
                    StructField("file", StringType()),
                    StructField("stripes", LongType()),
                    StructField("bytes_checked", LongType()),
                    StructField("status", StringType()),
                ]
            )
        )

    def eval(self, path):
        from ..format.fs import strip_file_uri
        from ..format.plans import verify_files

        path = strip_file_uri(path)
        scrubbed = False
        for row in verify_files(path):
            scrubbed = True
            yield row
        if not scrubbed:
            # a typo'd or empty path must not read as a clean scrub
            yield (path, None, None, "error: no data files found")
