"""Python-worker fix-ups that PySpark cannot be configured to make.

At the start of every task a reused PySpark worker calls
`importlib.invalidate_caches()`. Before Python 3.13,
`zipimport.zipimporter.invalidate_caches` answers that by re-reading the
archive's whole central directory, for every zip importer on `sys.path`
(pyspark.zip, py4j, the spark-core jar: 16 importers in a local-mode
worker). That is 0.26-0.31 CPU-s per task on 4 vCPU, before any UDF code
runs. Python 3.13 made the method lazy; `lazy_zip_caches` backports
that: an archive is re-read only when its (st_mtime_ns, st_size) changed
since it was last read.

`mpds_spark/__init__.py` installs it when the package is imported inside
a PySpark worker, which happens whenever the worker unpickles an engine
UDF: the worker's first task still pays the re-reads, its later tasks do
not. Never install it as `spark.python.daemon.module`: files shipped
with `--py-files` reach sys.path only per task, so a daemon module from
this package could not be imported at worker launch on a cluster.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches  # the eager original
# archive -> (st_mtime_ns, st_size) at its last read; process-wide, like
# zipimport's own directory cache that it guards
_STAMPS: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)  # taken before the read: a race re-reads
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is not None:
        _STAMPS[self.archive] = stamp


def lazy_zip_caches() -> None:
    """Make zip importers re-read an archive only when it changed.
    Idempotent; a no-op on Python >= 3.13."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
