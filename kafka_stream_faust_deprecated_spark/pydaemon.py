"""Python worker daemon for local sessions: pyspark's daemon with lazy
zip-cache invalidation.

Spark starts this module (``spark.python.daemon.module``, set by
``session.get_spark`` for local masters) in place of ``pyspark.daemon``;
every Python worker is forked from it, so every pandas UDF,
``mapInPandas``/``mapInArrow`` and ``applyInPandasWithState`` operator
runs with the patch below.

pyspark calls ``importlib.invalidate_caches()`` at the start of every
task (``worker_util.setup_spark_files``). On CPython 3.10-3.12 each
``zipimporter`` answers that by re-reading its archive's whole central
directory, and a worker holds one zipimporter per package it imported
from ``pyspark.zip`` plus those over the py4j zip and the spark-core jar
on its ``PYTHONPATH``: 135-160 ms of CPU per task on Python 3.11 (a
4-core VM). CPython 3.13 instead drops the cached directory and re-reads
it on the next lookup, once per archive. ``install_lazy_zip_invalidation``
gives 3.10-3.12 that behaviour; ``FileFinder`` invalidation (new ``.py``
files) is untouched, and an archive that changed is still re-read.
"""

from __future__ import annotations

import sys
import zipimport

#: Interpreters whose ``zipimporter.invalidate_caches`` re-reads eagerly:
#: it first exists in 3.10 and turns lazy in 3.13.
_EAGER_ZIP_INVALIDATION = (3, 10) <= sys.version_info[:2] < (3, 13)


def _get_files(self):
    """The archive's directory from the shared cache, read on a miss."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _set_files(self, files):
    # ``zipimporter.__init__`` assigns ``_files`` after it has filled the
    # shared cache, so there is nothing to keep here.
    pass


def _invalidate_caches(self):
    """Drop the cached directory; the next lookup re-reads the archive."""
    zipimport._zip_directory_cache.pop(self.archive, None)
    # An importer made before the patch holds its own copy; free it.
    vars(self).pop("_files", None)


def install_lazy_zip_invalidation() -> bool:
    """Make ``zipimporter`` read ``_files`` through the shared directory
    cache and invalidate by dropping the cache entry, as CPython 3.13
    does. Existing importers are covered too: the property on the class
    shadows their instance attribute. Returns whether it patched (a
    no-op outside 3.10-3.12)."""
    if not _EAGER_ZIP_INVALIDATION:
        return False
    zipimport.zipimporter._files = property(_get_files, _set_files)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


if __name__ == "__main__":
    install_lazy_zip_invalidation()

    from pyspark.daemon import manager

    manager()
