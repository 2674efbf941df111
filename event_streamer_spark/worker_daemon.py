"""Spark's Python worker daemon with CPython 3.13's lazy zipimport cache.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so Spark starts it with ``python -m`` in place of ``pyspark.daemon``.
Every Python task runs ``importlib.invalidate_caches()`` (pyspark's
``setup_spark_files``). Before 3.13 that makes each cached
``zipimporter`` re-read its archive's whole directory at once: a worker
holds a dozen importers over ``pyspark.zip``, py4j and the 5,359-entry
spark-core jar, about 100 ms per task before user code runs. From 3.13
``invalidate_caches`` only drops the archive's shared directory entry,
and the next lookup re-reads it once for every importer of that archive;
``backport_lazy_zip_cache`` gives older interpreters the same.
"""

from __future__ import annotations

import sys
import zipimport


def _files(self):
    cache = zipimport._zip_directory_cache
    try:
        return cache[self.archive]
    except KeyError:
        try:
            files = cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def _invalidate_caches(self):
    zipimport._zip_directory_cache.pop(self.archive, None)


def backport_lazy_zip_cache() -> None:
    # __init__ stores the directory in the shared cache before assigning
    # self._files, so the setter has nothing left to keep
    zipimport.zipimporter._files = property(_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        backport_lazy_zip_cache()
    # pyspark.daemon reads the worker module from sys.argv on import
    from pyspark.daemon import manager

    manager()
