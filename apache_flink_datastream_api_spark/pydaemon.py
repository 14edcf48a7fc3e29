"""Python-worker daemon for engine sessions: ``pyspark.daemon`` with zip
import caches that survive ``importlib.invalidate_caches()`` while their
archive is unchanged.

Every Python-worker task runs pyspark's ``worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. Before CPython 3.13
(gh-103200 made it lazy) that makes every cached ``zipimporter`` re-read its
archive's whole central directory. A worker holds 16 of them: 13 over
``pyspark.zip`` (1,328 entries), 2 over the ``spark-core`` jar (5,359
entries) and one over py4j, so the call costs 137-171 ms of every task on a
4-core host. ``keep_unchanged_zip_caches`` makes a zipimporter re-read its
archive only when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs
from when it was last read; a rewritten archive is re-read as before.

Run as a module, it patches, reads the archives already on the path once,
and then runs ``pyspark.daemon`` itself as ``__main__`` with the same argv,
so the workers it forks inherit the patch and the recorded keys.
``session.get_spark`` names it in ``spark.python.daemon.module`` for the
``local[...]`` JVMs it launches.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat key of the archive when its directory was last read
_read_at: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def keep_unchanged_zip_caches() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that have not
    changed since they were last read. A no-op on CPython 3.13+."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        # Taken before the read: a write racing the read leaves a stale key,
        # and the next call reads the archive again.
        key = _stat_key(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and cached is not None and _read_at.get(self.archive) == key:
            self._files = cached
            return
        reread(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _read_at[self.archive] = key

    invalidate_caches.__doc__ = reread.__doc__
    cls.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib
    import runpy

    keep_unchanged_zip_caches()
    # Archives on the path were read before the patch, at no recorded key:
    # read them once here so that forked workers start with every key.
    importlib.invalidate_caches()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
