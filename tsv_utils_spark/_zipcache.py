"""Stat-checked zip-directory invalidation for Python workers.

Every pyspark task calls ``importlib.invalidate_caches()`` before it runs
any user code (``pyspark.worker_util.setup_spark_files``). On CPython
3.11 that makes every ``zipimporter`` in ``sys.path_importer_cache``
re-parse its archive's central directory: on a Spark worker that is
about 17 importers over ``pyspark.zip``, the py4j zip and the shipped
library zip, roughly 27k directory entries, 0.1-0.25 s of CPU per task
on a shared 4-core x86 host. CPython 3.12 refreshes the zip cache lazily
and needs none of this.

``install`` wraps ``zipimporter.invalidate_caches`` so that an archive
whose ``(st_mtime_ns, st_size, st_ino)`` is unchanged since it was last
read reuses ``zipimport._zip_directory_cache``; a changed or missing
archive still takes the stock re-read, so a rewritten or newly shipped
zip is still seen.
"""

from __future__ import annotations

import os
import sys


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` in this process (idempotent)."""
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    if hasattr(stock, "__wrapped__"):
        return
    read_at: dict[str, tuple] = {}  # archive -> stat key when last read

    def invalidate_caches(self):
        archive = self.archive
        key = _stat_key(archive)  # before the read: a racing write re-reads
        files = zipimport._zip_directory_cache.get(archive)
        if key is not None and files is not None \
                and read_at.get(archive) == key:
            self._files = files
            return
        stock(self)
        if key is not None and archive in zipimport._zip_directory_cache:
            read_at[archive] = key
        else:
            read_at.pop(archive, None)

    invalidate_caches.__wrapped__ = stock
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def install_on_worker() -> None:
    """``install`` inside a pyspark Python worker on CPython < 3.12 only;
    the driver and plain-Python use of the library stay untouched."""
    if sys.version_info >= (3, 12) or "pyspark" not in sys.modules:
        return
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        install()
