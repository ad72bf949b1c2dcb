"""Python worker daemon of the engine's Spark sessions.

`session.get_spark` starts Python workers through this module
(`spark.python.daemon.module`). It runs `pyspark.daemon.manager()`
unchanged, with one fix on Python < 3.12: PySpark's worker calls
`importlib.invalidate_caches()` at the start of every task, and there
`zipimporter.invalidate_caches` re-parses the whole archive directory. A
worker holds 16 zipimporters over pyspark.zip, py4j and the spark-core
jar, so every task paid 0.1-0.3 s of CPU before its own code ran. The guard
re-reads an archive only when its (mtime, size) changed, so an archive
rewritten in place is still picked up; Python 3.12 made the reload lazy
(CPython gh-103200).
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def guard_zip_reload() -> None:
    """Make `zipimporter.invalidate_caches` re-read only a changed archive.

    The stamp is taken before the read, so an archive that changes during
    the read is read again on the next call."""
    reload = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reload(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    from pyspark.daemon import manager
    if sys.version_info < (3, 12):
        guard_zip_reload()
        # stamp every archive the daemon imported from, once, before the
        # workers fork from it
        importlib.invalidate_caches()
    manager()
