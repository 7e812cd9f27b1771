"""Skip re-reading unchanged zip directories on ``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``). Up to
CPython 3.12, every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` answers by eagerly re-reading its archive's
whole central directory, and a warm worker holds about 17 of them: the
sub-package paths inside ``pyspark.zip`` (1,328 entries), py4j, the
shipped package zip and a Spark jar. On a 4-vCPU host that is 17 reads
and 0.12-0.24 s before each task's function starts. CPython 3.13 made
the method lazy (it only drops the cache entry), so :func:`install`
does nothing there.

:func:`install` patches two names in :mod:`zipimport`:

- ``_read_directory`` remembers, per archive, the table it read and the
  archive's ``(st_mtime_ns, st_size, st_ino)`` taken just before the read;
- ``zipimporter.invalidate_caches`` reuses the remembered table while the
  archive's stat is unchanged, and otherwise calls the original method,
  which re-reads. Every importer of the archive then shares that new
  table, as CPython's own ``_zip_directory_cache`` does.

Import semantics are unchanged: a new archive is a new path and is read
as before, and a rewritten archive is re-read on the next invalidation.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stat stamp taken before the read, the table read)
_TABLES: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(archive: str) -> tuple[int, int, int]:
    st = os.stat(archive)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> bool:
    """Install the stat check (idempotent); return whether it is active.
    The tables read before this call carry no stamp, so each archive
    in ``sys.path_importer_cache`` is read once more here."""
    importer = zipimport.zipimporter
    if sys.version_info >= (3, 13) or not (
        hasattr(zipimport, "_read_directory") and hasattr(importer, "invalidate_caches")
    ):
        return False  # lazy (3.13+), or no per-importer invalidation (< 3.10)
    if importer.invalidate_caches.__module__ == __name__:
        return True
    read, invalidate = zipimport._read_directory, importer.invalidate_caches

    def _read_directory(archive):
        _TABLES.pop(archive, None)
        try:
            # stamped before the read, so a write during it shows next time
            stamp = _stamp(archive)
        except OSError:
            return read(archive)  # raises ZipImportError, as before
        files = read(archive)
        _TABLES[archive] = (stamp, files)
        return files

    def invalidate_caches(self):
        archive = self.archive
        seen = _TABLES.get(archive)
        if seen is not None:
            try:
                unchanged = _stamp(archive) == seen[0]
            except OSError:
                unchanged = False
            if unchanged:
                self._files = seen[1]
                zipimport._zip_directory_cache[archive] = seen[1]
                return
        invalidate(self)

    zipimport._read_directory = _read_directory
    importer.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, importer):
            finder.invalidate_caches()
    return True
