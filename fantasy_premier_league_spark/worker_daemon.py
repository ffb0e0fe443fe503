"""PySpark worker daemon that keeps zipimport directory caches.

Every Python task calls ``importlib.invalidate_caches()`` (pyspark
``worker_util.setup_spark_files``). On CPython 3.11 that makes each
zipimporter on ``sys.path`` re-read its archive's central directory:
~16 importers over ``pyspark.zip``'s 1328 entries, once per task, most
of a trivial pandas-UDF task's run time. Here an archive is re-read
only when its ``(st_size, st_mtime_ns)`` changed since the last read,
so a rewritten zip is still seen (CPython 3.12 made the re-read lazy).

``get_spark`` sets ``spark.python.daemon.module`` to this module; the
daemon patches zipimport, stamps the archives it has already read, and
runs ``pyspark.daemon.manager()``, so every forked worker inherits both.
Imports nothing else from the package.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: "dict[str, tuple[int, int] | None]" = {}


def _stamp(archive: str) -> "tuple[int, int] | None":
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """zipimporter.invalidate_caches, skipped for an unchanged archive."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _reread(self)
    _stamps[self.archive] = stamp


def keep_zip_caches() -> None:
    """Install the patch and stamp every archive read so far."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for archive in list(zipimport._zip_directory_cache):
        _stamps[archive] = _stamp(archive)


if __name__ == "__main__":
    # run as ``python -m``: patch from the module under its real name
    from fantasy_premier_league_spark import worker_daemon
    from pyspark.daemon import manager

    worker_daemon.keep_zip_caches()
    manager()
