"""--py-files packaging, and how executor Python workers import this package.

The north_rule requires the job be runnable via ``spark-submit
--py-files`` on a multi-executor cluster: executor Python workers must be
able to import this package (the extraction pandas UDF pickles a reference
to ``epigraphdb_graph_spark.functions.extract``). ``build_pyfiles_zip``
produces that artifact; ``get_spark`` ships it automatically via
``sc.addPyFile`` so driver-launched sessions work from any cwd too.

Per-task zip re-reads. PySpark calls ``importlib.invalidate_caches()`` at
the start of every Python task (``worker_util.setup_spark_files``). Before
Python 3.13, ``zipimporter.invalidate_caches()`` re-reads its archive's
whole central directory, and a worker holds one zipimporter per imported
subpackage of ``pyspark.zip`` (1328 entries) plus those over py4j, the
spark-core jar on the worker ``PYTHONPATH`` (5359 entries) and this
package's ``addPyFile`` zip: 17 directory reads and 140-290 ms per task
(4 vCPU host, ``local[4]``) before the task reads a row.
``install_zip_cache_guard`` (run when this package is imported, so by
every worker that unpickles an engine UDF) re-reads an archive only when
its ``(st_mtime_ns, st_size)`` differs from the last read's, or when
``zipimport`` no longer caches its directory: once per changed archive,
not once per importer, and never for an archive that did not change.
FileFinder and path-cache invalidation stay stock.
"""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport


def install_zip_cache_guard() -> None:
    """Gate ``zipimporter.invalidate_caches`` on the archive's signature.
    Idempotent; a no-op on Python >= 3.13, whose zipimporter re-reads
    lazily."""
    if sys.version_info >= (3, 13):
        return
    stock = zipimport.zipimporter.invalidate_caches
    if hasattr(stock, "__wrapped__"):
        return
    read_sig: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            read_sig.pop(self.archive, None)
            return stock(self)
        sig = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_sig.get(self.archive) == sig:
            self._files = files
            return
        stock(self)
        read_sig[self.archive] = sig

    invalidate_caches.__wrapped__ = stock
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def build_pyfiles_zip(dest: str | None = None) -> str:
    """Zip this package (sources only) for --py-files / addPyFile."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    if dest is None:
        dest = os.path.join(root, "dist", "epigraphdb_graph_spark.zip")
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, dirnames, filenames in os.walk(pkg_dir):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for fn in sorted(filenames):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, root)
                zf.write(full, rel)
    return dest


if __name__ == "__main__":
    print(build_pyfiles_zip())
