"""Lazy ``zipimport`` cache invalidation: CPython 3.13's behaviour on 3.11/3.12.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark/worker_util.py:setup_spark_files``). Before 3.13,
``zipimporter.invalidate_caches`` re-reads its archive's central directory
on the spot. A worker holds one importer per package directory it imported
from ``$SPARK_HOME/python/lib/pyspark.zip`` (about 16), and the archive has
1,328 entries, so every task read that directory about 16 times before
touching a row.

CPython 3.13 (``Lib/zipimport.py``, ``_get_files``/``invalidate_caches``)
only drops the archive from ``_zip_directory_cache`` and re-reads it on the
next lookup, once, shared by every importer of the archive. ``install``
backports that. It runs when the package is imported, so it is in place in
every worker that unpickles an engine UDF. Delete this module once the
engine requires Python 3.13.
"""

from __future__ import annotations

import sys
import zipimport


def install() -> None:
    """Make ``zipimporter`` invalidation lazy; a no-op on Python >= 3.13."""
    if sys.version_info >= (3, 13):
        return
    cache = zipimport._zip_directory_cache

    def get_files(self):
        try:
            return cache[self.archive]
        except KeyError:
            try:
                files = cache[self.archive] = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                files = {}
            return files

    def set_files(self, files):
        # zipimporter.__init__ assigns the directory it has just cached,
        # before it sets self.archive; get_files reads it from the cache.
        pass

    def invalidate_caches(self):
        """Drop the archive's directory; the next lookup re-reads it."""
        cache.pop(self.archive, None)

    zipimport.zipimporter._files = property(get_files, set_files)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # free the per-instance copies the eager invalidation left; the
    # property shadows them
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            vars(importer).pop("_files", None)
