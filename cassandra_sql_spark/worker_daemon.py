"""Python worker daemon: pyspark.daemon with a stamp-checked zip refresh.

Every task a Python worker runs calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.13 that makes
each zipimporter re-read its archive's whole central directory, and a
worker holds 16-18 of them over pyspark.zip: 0.15-0.2 s of CPU per task
on a 4-core box, about half the time of a streaming micro-batch.
The replacement re-reads an archive only when its (inode, size, mtime_ns)
changed since its last read; otherwise the importer takes the shared
``_zip_directory_cache`` entry (the laziness CPython 3.13 adopted). A
changed or newly shipped archive is still re-read.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int] | None] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _stamps[self.archive] = stamp  # taken before the read: a later change re-reads
    _reread(self)


if __name__ == "__main__":
    import importlib

    # patch with the library module's function, not this __main__ copy's
    from cassandra_sql_spark import worker_daemon
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches
    importlib.invalidate_caches()  # stamp every archive once; forks inherit
    manager()
