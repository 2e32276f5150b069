"""Read a zip archive's directory only when the archive changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` before
every task (``pyspark.worker_util.setup_spark_files``). On CPython
before 3.13 that makes every ``zipimporter`` on ``sys.path_importer_cache``
re-read its archive's whole central directory — workers import pyspark
and py4j from zips, which hold about 14 importers between them (one per
package directory imported), so each task re-read the same two archives
about 16 times: 0.2-0.3 s of worker CPU per task, most of a small
task's cost.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version
that stats the archive first and re-reads it only when its
``(st_mtime_ns, st_size)`` differs from the last read. All importers of
one archive share the directory CPython keeps in
``zipimport._zip_directory_cache``, so an unchanged archive costs one
``stat`` per importer, and a changed one is read once and adopted by
every importer. CPython 3.13 made the method lazy (it only drops the
cached directory), so there the method is left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (stamp, directory) of its last read through
#: ``_invalidate_caches``
_reads: dict[str, tuple[tuple[int, int], dict]] = {}
#: CPython's method (also when this module is reloaded after install)
_original = getattr(
    zipimport.zipimporter.invalidate_caches, "__wrapped__",
    zipimport.zipimporter.invalidate_caches,
)


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """Reload the archive's directory if the archive changed since its
    last read; otherwise reuse the directory that read produced."""
    stamp = _stamp(self.archive)
    last = _reads.get(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)  # noqa: SLF001
    if last is not None and last[0] == stamp and last[1] is cached:
        self._files = cached
        return
    # stamp taken BEFORE the read: an archive rewritten during the read
    # stamps differently next time and is read again
    _original(self)
    if stamp is not None and self._files:
        _reads[self.archive] = (stamp, self._files)
    else:
        _reads.pop(self.archive, None)


_invalidate_caches.__wrapped__ = _original


def install(version: tuple = sys.version_info) -> bool:
    """Install the stat-checked ``invalidate_caches`` on CPython < 3.13.
    Returns whether it is installed; a second call changes nothing."""
    if tuple(version[:2]) >= (3, 13):
        return False
    if not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__"):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
