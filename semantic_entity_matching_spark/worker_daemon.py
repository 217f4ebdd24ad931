"""Python worker daemon: PySpark's daemon with change-checked zip invalidation.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), which reaches every
``zipimporter`` in ``sys.path_importer_cache``.  On CPython 3.11
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory at once, and a worker holds about 16 of them (``pyspark.zip`` and
11 of its package dirs, the py4j zip and the spark-core jar, twice each):
0.13-0.25 s per task on 4 vCPUs, before the task reads a row.  CPython
3.13's zipimport instead only drops the archive's ``_zip_directory_cache``
entry and re-reads it lazily, on the next lookup (``zipimporter._get_files``).

This module replaces ``zipimporter.invalidate_caches`` with a wrapper that
re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)`` stamp
differs from the one taken just before its directory was last read, or when
``stat`` fails, and then runs ``pyspark.daemon.manager()``.  Forked workers
inherit the wrapper and the stamps.  Why it is safe:

- an archive with the same inode, size and mtime has the same directory, so
  skipping its re-read changes no import;
- a zip that ``SparkContext.addPyFile`` rewrites gets a new stamp and is
  re-read;
- a new ``sys.path`` entry gets a new ``zipimporter``, which reads (or takes
  from ``zipimport._zip_directory_cache``) its directory when created;
- importers of one archive share one directory dict in CPython's cache; an
  importer whose archive another importer has already re-read takes that
  dict instead of reading again;
- where invalidation is already lazy, the wrapper costs one ``stat`` per
  importer.

The wrapper is installed only in the daemon process, never on import, so
the driver's imports are untouched.  ``session.get_session`` selects this
module through ``spark.python.daemon.module`` for ``local`` masters only.

    python -m semantic_entity_matching_spark.worker_daemon   # as Spark runs it
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> stamp taken just before its directory was last read
_read_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    if stamp is not None and _read_stamps.get(self.archive) == stamp:
        # an importer that holds its own directory reference (3.11; 3.13
        # reads the shared cache) takes the archive's latest read
        if hasattr(self, "_files"):
            self._files = zipimport._zip_directory_cache.get(self.archive, self._files)
        return
    _reread(self)
    _read_stamps[self.archive] = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    # read every archive once here, stamped, so forked workers start with
    # the stamps and their first task re-reads nothing either
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
