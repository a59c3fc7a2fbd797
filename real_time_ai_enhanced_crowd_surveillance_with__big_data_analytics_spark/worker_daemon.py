"""Python worker daemon for the local master: ``pyspark.daemon`` with
lazy zipimport cache invalidation.

Before every task PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13
(gh-103200) that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read the whole central directory of its
archive: ``pyspark.zip`` (1,328 entries) once per pyspark subpackage
importer, on every task. Run as the daemon, this module
makes an importer re-read its archive only when the archive's
``(st_mtime_ns, st_size)`` changed, and all importers of one archive
share one read. A changed archive, or one ``os.stat`` cannot see, is
re-read as before. Forked workers inherit the patch.

``session.get_spark`` names this module in ``spark.python.daemon.module``
under the local master only: on a cluster, ``--py-files`` reaches the
workers after the daemon has started, so the daemon must not need the
package. Importing this module changes nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _stat_keyed(reread):
    """``zipimporter.invalidate_caches`` that calls ``reread`` only when
    the archive changed since the last read of it."""
    reads: dict[str, tuple[tuple[int, int], dict]] = {}  # archive -> (stat key, files)

    def invalidate_caches(self) -> None:
        key = _stat_key(self.archive)
        last = reads.get(self.archive)
        if key is not None and last is not None and last[0] == key:
            self._files = last[1]
            zipimport._zip_directory_cache[self.archive] = last[1]
            return
        reread(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            reads[self.archive] = (key, self._files)
        else:  # unreadable: forget it, so the next call reads again
            reads.pop(self.archive, None)

    return invalidate_caches


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process; CPython
    3.13 and later already invalidate lazily, and are left alone."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _stat_keyed(
        zipimport.zipimporter.invalidate_caches
    )


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
