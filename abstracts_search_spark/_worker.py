"""Per-process set-up of the Spark Python workers that import this package.

Every task a worker runs starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On Python 3.10-3.12 that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-parse its
archive's whole central directory in pure Python. A worker holds one
importer per archive and package prefix: pyspark.zip and 11 of its
subpackages (1,328 entries each), the spark-core jar and its ``org`` prefix
(5,359 entries each) and two for py4j -- about 26,700 entries parsed per
task, 140-240 ms of each task on a 4-core host. The archives do not change
between tasks (Spark refuses to re-add a file under a registered name).

:func:`guard_zip_imports` replaces ``zipimporter.invalidate_caches`` with a
version that re-reads an archive's directory only when the archive's
(inode, size, mtime) differs from the one this process last read. From
Python 3.13 the stdlib no longer re-reads eagerly, and nothing is replaced.
"""

import os
import sys
import zipimport

_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches

# archive path -> the stamp of the archive whose directory is cached
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that keeps the cached directory of
    an archive whose stamp is unchanged. The stamp is taken before the
    re-read, so an archive rewritten during it is re-read next time."""
    try:
        stamp = _stamp(self.archive)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _STDLIB_INVALIDATE(self)  # a failed read drops the archive's cache entry
    if stamp is not None:
        _stamps[self.archive] = stamp


def guard_zip_imports() -> None:
    """Install :func:`_invalidate_if_changed` in this process (idempotent).

    Every directory cached now counts as current: in a worker, the task that
    first imports the package re-read them all in its set-up moments ago."""
    installed = zipimport.zipimporter.invalidate_caches is _invalidate_if_changed
    if installed or sys.version_info >= (3, 13):
        return
    for path in list(zipimport._zip_directory_cache):
        try:
            _stamps[path] = _stamp(path)
        except OSError:
            pass
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def guard_worker_zip_imports() -> None:
    """:func:`guard_zip_imports` inside a Spark Python worker; a no-op in
    the process that holds the SparkSession, where no task context is set."""
    if "pyspark" not in sys.modules:  # every worker has imported it
        return
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        guard_zip_imports()
