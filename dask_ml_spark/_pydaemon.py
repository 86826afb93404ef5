"""Python worker daemon: ``pyspark.daemon`` without the per-task zip re-read.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, once per importer: the pyspark/py4j zips and the spark-core jar
on the worker's path cost ~0.2 s of CPU per task. The guard below re-reads
an archive only when its stat changed since it was last read. ``FileFinder``
invalidation is untouched, so files shipped with ``addPyFile`` still import.
"""

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_keys = {}  # archive path -> stat key when its directory was last read


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self):
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or _read_keys.get(self.archive) != key:
        _reread(self)
        _read_keys[self.archive] = key
    else:
        self._files = files


if __name__ == "__main__":
    from pyspark import daemon  # imports the worker's modules from the archives

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        importlib.invalidate_caches()  # read each archive once, before the fork
    daemon.manager()
