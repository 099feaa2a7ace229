"""Python worker daemon of ``get_session`` sessions (``spark.python.daemon.module``).

Spark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``), so that a zip shipped by
``addPyFile`` becomes importable. Before CPython 3.13 that makes every
``zipimporter`` re-parse its archive's central directory at once: the 14
importers over ``pyspark.zip`` cost about 170 ms per task. Run as the daemon,
this module makes ``zipimporter.invalidate_caches`` re-read an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` changed, then starts Spark's own
daemon; workers fork from it with the patch installed and every archive read.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_at = {}  # archive -> stat key taken just before its directory was last read


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        self._files = files
        return
    _reread(self)
    _read_at[self.archive] = key


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()
    daemon.manager()
