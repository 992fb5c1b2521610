"""pyspark's Python worker daemon, minus the per-task archive re-reads.

``session.get_spark`` runs this module as ``spark.python.daemon.module``
and puts its directory, and only that directory, on the workers'
PYTHONPATH: the directory holds no package, so workers still cannot
import ``gmall_flink_spark`` and every function they run arrives by
value (``gmall_flink_spark/__init__.py``).

pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. On Python
3.11 that makes each ``zipimport.zipimporter`` re-read its archive's
whole central directory; a reused worker holds 16 of them (pyspark.zip,
the py4j zip and the spark-core jar), 76 ms per task on a 4-vCPU host.
Here an importer re-reads its archive only when the archive's (mtime,
size) has changed since the last read, so a zip that ``addPyFile``
ships or replaces is still picked up; directory finders are invalidated
as before.
"""

import os
import zipimport

import pyspark.daemon

_reread = zipimport.zipimporter.invalidate_caches
#: archive path -> (mtime_ns, size) when zipimport last read its directory
_read_at: dict = {}


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self):
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
        # another importer of this archive may have re-read it already
        self._files = files
        return
    _reread(self)
    _read_at[self.archive] = stamp


if __name__ == "__main__":
    # the archives imported so far were read moments ago, at import time
    for archive in zipimport._zip_directory_cache:
        _read_at[archive] = _stamp(archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    pyspark.daemon.manager()
