"""Spark Python worker bootstrap: two fixed per-task costs, both removed here.

A reused worker pays two costs per task before and after any row is read:

- **Zip directory re-reads.** Before every task the worker calls
  ``importlib.invalidate_caches()``. On CPython < 3.13 each ``zipimporter``
  then re-reads its archive's whole central directory (pyspark.zip: ~1.3k
  entries, once per importer, ~16 importers), a fixed ~0.2 s of CPU per
  task. The guard keeps the cached directory of an archive whose stat
  signature is unchanged since its last read; a changed or unreadable one
  is re-read as before.
- **A full collection of the import-time heap.** After every task the
  daemon runs ``gc.collect()``, which walks every tracked object: ~75k of
  them once numpy, pandas, pyarrow, pyspark and this library are imported,
  ~30 ms of CPU per task that frees nothing. A meta path finder that finds
  nothing calls ``gc.freeze()`` from the same per-task
  ``importlib.invalidate_caches()``. That call comes right after the
  daemon's collection, so only objects that survived a full collection are
  frozen, and the next collection walks only what the task allocated.
  Every Python version gets it.

Imported from the package ``__init__``, so both run in every worker that
unpickles a library function; the driver is left untouched.
"""

import gc
import os
import sys
import zipimport


def _in_spark_worker() -> bool:
    # set by the worker's setup_spark_files, before any function is unpickled
    files = sys.modules.get("pyspark.core.files")
    return bool(getattr(getattr(files, "SparkFiles", None), "_is_running_on_worker", False))


class _FreezeAtTaskStart:
    """Finds no module; ``importlib.invalidate_caches()`` calls
    ``invalidate_caches`` once on each ``sys.meta_path`` entry."""

    @staticmethod
    def find_spec(name, path=None, target=None):
        return None

    @staticmethod
    def invalidate_caches():
        gc.freeze()


def install() -> None:
    """In a Spark worker: freeze the heap at each task start and, on
    Python < 3.13, guard ``zipimporter.invalidate_caches``."""
    if not _in_spark_worker():
        return
    if _FreezeAtTaskStart not in sys.meta_path:
        sys.meta_path.append(_FreezeAtTaskStart)
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(original, "unguarded"):
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
