"""The Python worker daemon of engine sessions (``spark.python.daemon.module``).

Every Python task runs ``importlib.invalidate_caches()`` (PySpark's
``setup_spark_files``). Before Python 3.12 that makes each ``zipimporter``
re-read its archive's central directory at once, and a warm worker holds
14-16 of them on ``pyspark.zip``, first on its path: 57-150 ms per task.
The daemon below re-reads an archive only when its (mtime, size) stamp
changed since the last read. It stamps the archives it has read before it
forks, so even a worker's first task reads none. From Python 3.12 on the
invalidation is lazy, and the daemon is plain ``pyspark.daemon``.
"""

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps = {}  # archive path -> (st_mtime_ns, st_size) at its last read


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that keeps an unchanged archive's
    directory; a changed, missing or never-stamped one is re-read."""
    stamp, cache = _stamp(self.archive), zipimport._zip_directory_cache
    if stamp is not None and _stamps.get(self.archive) == stamp and self.archive in cache:
        self._files = cache[self.archive]
        return
    _reread(self)
    if stamp is not None and self.archive in cache:
        _stamps[self.archive] = stamp


if __name__ == "__main__":
    # ``-m`` imported the package first, so workers fork with pandas, pyarrow
    # and pyspark.sql loaded.
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        for archive in list(zipimport._zip_directory_cache):
            _stamps[archive] = _stamp(archive)
    from pyspark import daemon

    daemon.manager()
