"""hive_dwrf_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of facebookarchive/hive-dwrf (the DWRF columnar
format for Hive), rebuilt Spark-first.

Layout:
  format/     pure-Python/numpy DWRF format core (writer, reader, codecs,
              protobuf metadata) — the analog of the reference's
              WriterImpl/ReaderImpl/RecordReaderImpl
  sources/    Spark Python DataSource ("dwrf") wrapping format/
  queries/    the declared query surface (SURVEY.md §2.C) as
              DataFrame-building callables + DuckDB oracle SQL
  operators/  LLM-data-pipeline operators: dedup, similarity search,
              text analysis, multimodal columns (SURVEY.md §2.D)
  functions/  scalar/aggregate helper functions
  streaming/  structured-streaming helpers over DWRF directories
"""

from .shipping import install_zip_invalidate_fix

__version__ = "0.1.0"

install_zip_invalidate_fix()
