"""Spark Python worker bootstrap: stop re-reading zip directories per task.

Before every task the worker calls ``importlib.invalidate_caches()``. On
CPython < 3.13 each ``zipimporter`` then re-reads its archive's whole central
directory (pyspark.zip: ~1.3k entries, once per importer, ~16 importers), a
fixed ~0.2 s of CPU per task before any row is read. Imported from the package
``__init__``, so it runs in every worker that unpickles a library function; an
archive whose stat signature is unchanged since its last read reuses the
cached directory, while a changed or unreadable one is re-read as before.
"""

import os
import sys
import zipimport


def _in_spark_worker() -> bool:
    # set by the worker's setup_spark_files, before any function is unpickled
    files = sys.modules.get("pyspark.core.files")
    return bool(getattr(getattr(files, "SparkFiles", None), "_is_running_on_worker", False))


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` in a Spark worker on Python < 3.13."""
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or not _in_spark_worker() or hasattr(original, "unguarded"):
        return
    read_at = {}  # archive path -> stat signature when its directory was last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            sig = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and files is not None and read_at.get(self.archive) == sig:
            self._files = files
            return
        original(self)
        read_at[self.archive] = sig

    invalidate_caches.unguarded = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches


install()
