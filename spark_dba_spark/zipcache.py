"""Stat-keyed ``zipimporter.invalidate_caches`` for the engine's processes.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task, reused worker or not (``pyspark.worker_util.
setup_spark_files``). The worker imports pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (1328 entries) and holds one
``zipimporter`` per imported pyspark package path, 16 of them. On CPython
3.11 each one answers ``invalidate_caches`` by re-reading its archive's
central directory at once, so a task parsed about 26.7k directory entries
before its function ran: 0.15-0.24 s per task on an idle 4-vCPU VM and up
to 0.57 s under load, against a few ms of user code in the engine's small
``mapInPandas`` tasks.

:func:`install` replaces the method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the one taken before the
last read, and otherwise re-binds the directory already in
``zipimport._zip_directory_cache``. An archive that is rewritten, such as
an ``addPyFile`` zip replaced under the same name, is still re-read: that
is what ``invalidate_caches`` exists for. The key is the one the path
finder for plain directories already trusts (``FileFinder`` compares the
directory's mtime), with the size added.

Archives already cached when the hook is installed are keyed by their stat
at that moment. In a worker the hook is installed while an engine function
is unpickled, and that task's own ``setup_spark_files`` has just re-read
every archive, so the first task of a worker pays the old cost and every
later task on it pays none.

``spark_dba_spark/__init__.py`` installs the hook, so it reaches every
process that runs engine code: the driver, and any worker that unpickles
an engine function. It adds no conf, env var or flag. CPython 3.10 to 3.12
re-read at once; on an interpreter whose ``zipimporter.invalidate_caches``
does not (CPython 3.13 only drops the cache entry and reads on the next
lookup) it installs nothing.
"""

from __future__ import annotations

import os
import zipimport


def _stat_key(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _rereads_eagerly(method) -> bool:
    """True when ``method`` (a ``zipimporter.invalidate_caches``) reads the
    archive's directory itself, as CPython 3.11's does."""
    code = getattr(method, "__code__", None)
    return code is not None and "_read_directory" in code.co_names


def install() -> bool:
    """Install the stat-keyed ``invalidate_caches`` once per process.
    Returns whether it is installed."""
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "stat_keyed", False):
        return True
    if not _rereads_eagerly(original):
        return False

    # archive path -> (st_mtime_ns, st_size) taken just before its
    # directory was last read, or at install for the archives already
    # cached (None when the stat failed: never trusted).
    read_at = {a: _stat_key(a) for a in list(zipimport._zip_directory_cache)}

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        original(self)
        read_at[self.archive] = key

    invalidate_caches.stat_keyed = True
    cls.invalidate_caches = invalidate_caches
    return True
