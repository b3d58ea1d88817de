"""The Python worker daemon of the engine's sessions.

``session.build_session`` sets ``spark.python.daemon.module`` to this
module, so Spark starts it with ``python -m`` and forks every Python
worker from it. It is ``pyspark.daemon`` with one change to imports.

Before a task runs its function, ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``. Workers import pyspark from
``pyspark.zip``, and on CPython before 3.13 ``zipimporter.invalidate_caches``
re-reads the archive's whole central directory once per importer: tens
of milliseconds of CPU per task for an archive that did not change.
:func:`install` makes it re-read only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from its value before the
last read; an importer of an unchanged archive takes that read's
directory. (A rewrite that keeps the size and inode within one mtime
tick goes unseen, as it does for the stdlib's mtime-keyed directory
caches.) CPython 3.13 makes the invalidation lazy and is left as is.

The JVM runs this module in each executor, so the executors must be
able to import ``olap_project_spark``. Locally ``build_session`` puts
the package on the workers' ``PYTHONPATH``; a cluster's executors must
have the package installed.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives."""
    reread = zipimport.zipimporter.invalidate_caches
    reads: dict[str, tuple[tuple[int, int, int], dict]] = {}  # archive -> (stat, directory)

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        last = reads.get(self.archive)
        if key is not None and last is not None and last[0] == key:
            self._files = zipimport._zip_directory_cache[self.archive] = last[1]
            return
        reread(self)
        if key is not None and self._files:
            reads[self.archive] = (key, self._files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        install()
    from pyspark import daemon

    # one read per archive here; forked workers inherit it
    importlib.invalidate_caches()
    daemon.manager()
