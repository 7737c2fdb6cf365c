"""Keep ``importlib.invalidate_caches()`` from re-parsing unchanged zip archives.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11
``zipimport.zipimporter.invalidate_caches`` answers by re-reading and
re-parsing the archive's whole central directory, once per cached importer.
A worker that imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
(~1.3k entries) holds one importer per package directory inside it (~16),
so every task re-parses that directory ~16 times before it reads a row —
most of a small task's own CPU.

``install()`` replaces the method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` changed since the directory held in
``zipimport._zip_directory_cache`` was read; otherwise it points the
importer back at that cached directory. A rewritten archive is still
re-read, as before: this is the same staleness check CPython applies to its
own ``.pyc`` cache. Anything the wrapper does not recognise goes to the
original method.

The package installs it on import, so every Python worker that unpickles an
engine UDF has it from then on (workers are reused across tasks).
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before the directory
# now in zipimport._zip_directory_cache was read; process-wide, like that
# cache
_stamps: dict = {}


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; a second call is a no-op."""
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "_frontier_original", None) is not None:
        return
    cache = getattr(zipimport, "_zip_directory_cache", None)
    if not isinstance(cache, dict):
        return  # not the zipimport layout this wrapper knows

    def invalidate_caches(self):
        archive = getattr(self, "archive", None)
        try:
            st = os.stat(archive)
        except (OSError, TypeError, ValueError):
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = cache.get(archive)
        if files is not None and _stamps.get(archive) == stamp:
            self._files = files
            return None
        # stamp first, read second: a rewrite in between leaves a stale
        # stamp, so the next call re-reads again (never too little)
        result = original(self)
        if archive in cache:
            _stamps[archive] = stamp
        else:
            _stamps.pop(archive, None)
        return result

    invalidate_caches._frontier_original = original
    invalidate_caches.__doc__ = original.__doc__
    cls.invalidate_caches = invalidate_caches


def installed() -> bool:
    return hasattr(zipimport.zipimporter.invalidate_caches, "_frontier_original")
