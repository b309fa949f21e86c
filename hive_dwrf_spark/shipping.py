"""Make the hive_dwrf_spark package work on Python workers.

Shipping: Python workers deserialize our pandas UDFs / DataSource by
importing this package; when the driver runs from an arbitrary cwd the
package isn't on the workers' path. On a real cluster this is
`spark-submit --py-files hive_dwrf_spark.zip`; here we build the archive
once (keyed by newest source mtime) and addPyFile it, idempotently.

Worker import cost: every PySpark worker call (each executor task, and each
Python DataSource planner step: create, pushdown, plan-read, write, commit)
runs `pyspark.worker_util.setup_spark_files`, which calls
`importlib.invalidate_caches()`. Before CPython 3.13,
`zipimport.zipimporter.invalidate_caches` re-parses the archive's whole
central directory in pure Python, once per importer in
`sys.path_importer_cache`. A Spark 4.1 worker holds 12 importers over
`pyspark.zip` and 2 each over py4j's zip and the spark-core jar, so that
one call costs about 250 ms on a 4-vCPU VM (0.1 ms with the replacement
below), most of a DWRF read's fixed cost. CPython 3.13 made
the method lazy. `install_zip_invalidate_fix` (run when the package is
imported, so in every worker that unpickles our code) makes it re-read an
archive only when the archive's stat identity changed since its directory
was last read; on 3.13 and later it leaves the stdlib alone."""

from __future__ import annotations

import os
import sys
import zipfile


def install_zip_invalidate_fix() -> None:
    """Replace `zipimporter.invalidate_caches` on Python < 3.13 with one
    that skips the re-read of an archive unchanged since its last read.
    Idempotent."""
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or original.__module__ == __name__:
        return
    read_at: dict[str, tuple] = {}  # archive -> stat identity at last read

    def invalidate_caches(self):
        """Reload the file data of the archive path if it changed."""
        try:
            st = os.stat(self.archive)
            ident = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            ident = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if None in (ident, files) or read_at.get(self.archive) != ident:
            # stat before the read: a rewrite racing the read leaves a
            # stale identity behind, so the next call reads again
            original(self)
            read_at[self.archive] = ident
        else:
            self._files = files

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _package_zip() -> str:
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_root)
    newest = 0.0
    for root, _dirs, files in os.walk(pkg_root):
        for fn in files:
            if fn.endswith(".py"):
                newest = max(newest, os.path.getmtime(os.path.join(root, fn)))
    out = f"/tmp/hive_dwrf_spark_pkg_{int(newest)}.zip"
    if not os.path.exists(out):
        tmp = out + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for root, _dirs, files in os.walk(pkg_root):
                for fn in sorted(files):
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        z.write(full, os.path.relpath(full, parent))
        os.replace(tmp, out)
    return out


def ensure_shipped(spark) -> None:
    if getattr(spark, "_hive_dwrf_shipped", False):
        return
    spark.sparkContext.addPyFile(_package_zip())
    spark._hive_dwrf_shipped = True
