"""Python worker daemon: ``pyspark.daemon`` with a cheaper per-task
import-cache reset.

Spark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark.worker_util.setup_spark_files``). On CPython
3.10-3.12 that makes every ``zipimport.zipimporter`` re-read its whole
archive directory. The workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (about 1,300 entries) through one
zipimporter per sub-package, so each task re-read the same directory
about 16 times: 0.2-0.4 s before any engine code ran. CPython 3.13 made
the re-read lazy, and there this module changes nothing.

Run as the daemon (``spark.python.daemon.module``, set by
:func:`gomapreduce_spark.session.get_spark`), it replaces
``zipimporter.invalidate_caches`` with :func:`invalidate_caches`, which
re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs
from what that importer last read, then runs ``pyspark.daemon``'s
manager. Workers fork from the daemon and inherit the replacement.
Importing this module changes nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive``'s directory only if the file changed
    since this importer last read it. The stamp is kept per instance,
    because each importer holds its own ``_files``."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self._read_stamp = None
        _reread(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    if getattr(self, "_read_stamp", None) != stamp:
        # stat before the read: a rewrite in between leaves the old
        # stamp, and the next call reads again
        _reread(self)
        self._read_stamp = stamp


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    import pyspark.daemon

    # stamp the importers pyspark's own imports created, so forked
    # workers start with them current instead of each re-reading once
    importlib.invalidate_caches()
    pyspark.daemon.manager()


if __name__ == "__main__":
    # run under the module's import name, so workers see
    # ``gomapreduce_spark.worker_daemon.invalidate_caches``, not ``__main__``'s
    from gomapreduce_spark.worker_daemon import main as _main

    _main()
