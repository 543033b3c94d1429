"""Python-worker start-up: re-read a zip archive on the import path only
when it has changed.

A PySpark worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py:setup_spark_files``), so that files added with
``addPyFile`` become importable. Before Python 3.13,
``zipimport.zipimporter.invalidate_caches`` answers that call by re-reading
the archive's whole central directory, once per importer: a worker holds one
importer for ``pyspark.zip``, one more for each of its subpackages that it
imported, one for the py4j zip and two for the spark-core jar, and the
re-reads cost 130-370 ms per task on a 4-core host before ``read()`` or a
UDF runs.

:func:`_install` wraps that method so that an importer re-reads its archive
only when the archive's ``(st_mtime_ns, st_size)`` differs from the stamp
taken at its last read, or when the archive cannot be stat'ed. A rewritten
archive is still re-read, so ``addPyFile`` keeps its meaning. The package
``__init__`` imports this module first, so every worker that unpickles
package code (the ``kinesislike`` reader, UDFs, ``applyInPandasWithState``
functions) installs it. Python 3.13 made the method drop the cache
instead of re-reading it, so there it is left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STAMP_ATTR = "_graft_archive_stamp"


def _archive_stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` and stamp the importers
    already in ``sys.path_importer_cache``. Returns whether the wrapper is
    in place."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        # Stat before the read: an archive rewritten during the read keeps
        # the older stamp, so the next call reads it again.
        stamp = _archive_stamp(self.archive)
        if stamp is None or stamp != getattr(self, _STAMP_ATTR, None):
            reread(self)
            setattr(self, _STAMP_ATTR, stamp)

    cls.invalidate_caches = invalidate_caches
    # A worker imports this package while it unpickles a task, after that
    # task's ``invalidate_caches()`` has re-read every cached importer.
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            setattr(finder, _STAMP_ATTR, _archive_stamp(finder.archive))
    return True


INSTALLED = _install()
