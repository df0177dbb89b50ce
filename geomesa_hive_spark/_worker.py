"""Spare each Python UDF task a re-read of the worker's zip archives.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:setup_spark_files``). On Python 3.10-3.12 that
makes every cached ``zipimporter`` re-read its archive's whole central
directory, and a Spark worker's ``sys.path`` holds ``pyspark.zip`` (one
importer per imported sub-package) and the spark-core jar. Measured with
a phase-timing worker module on Spark 4.1.2 / Python 3.11 (4 cores):
200-300 ms per task, paid by every ``ST_*`` stage even on an empty
partition. (Python 3.13's stock method only drops the cached directory
for the next import to re-read; the wrapper keeps it there as well while
the archive is unchanged.)

:func:`install` wraps ``zipimporter.invalidate_caches``: if the archive's
``(st_mtime_ns, st_size)`` is what this process saw when it last read it
and its directory is still in ``zipimport._zip_directory_cache``, the
importer takes that shared directory and nothing is read. Taking it,
rather than keeping its own, is what lets the sibling importers of one
archive see a rewrite that the first of them re-read. A changed or
deleted archive gets the stock method, so imports still see what is on
disk. The package installs it only inside a Spark Python worker (every
engine UDF imports the package when it is unpickled there); the driver
and other processes keep the stock method.
"""

import os
import zipimport

_stock = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size), stamped just before this process
# last read the archive
_seen = {}


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = st.st_mtime_ns, st.st_size
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _seen.get(self.archive) == stamp:
        self._files = files
        return
    _stock(self)
    _seen[self.archive] = stamp


_invalidate_caches.geomesa_reuses_zip_directory = True


def install():
    """Wrap ``zipimporter.invalidate_caches`` (idempotent: the stock
    method is taken once, when this module is imported)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
