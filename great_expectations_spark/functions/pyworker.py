"""Python-worker start-up fix: skip redundant zip-directory re-reads.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``). Up to CPython 3.12
that makes every cached ``zipimporter`` re-read the whole central
directory of its archive -- for ``pyspark.zip`` that is ~16 importers
x 1,328 entries, about 130 ms of CPU per task (Python 3.11 on a 4-vCPU
VM), paid by every Python UDF task. CPython 3.13 made the call lazy.
``install`` backports the effect: an archive is re-read only when its
``(st_mtime_ns, st_size)`` changed since the last read, otherwise the
importer is re-pointed at the shared ``zipimport._zip_directory_cache``
entry. Changed archives and newly added ones
(``SparkContext.addPyFile``) are still read.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}  # archive path -> (st_mtime_ns, st_size) at its last read


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _invalidate_caches(self):
    # stamped before the read, so a write racing the read re-reads
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if (stamp is not None and files is not None
            and _stamps.get(self.archive) == stamp):
        self._files = files
        return
    _original(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:  # unreadable or gone: read again next time
        _stamps.pop(self.archive, None)


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def install() -> bool:
    """Install the guard (idempotent); a no-op on CPython >= 3.13.
    Returns whether the guard is installed afterwards."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return installed()


def install_in_worker() -> bool:
    """Install only inside a PySpark worker process (a task is running)."""
    from pyspark import TaskContext

    return TaskContext.get() is not None and install()
