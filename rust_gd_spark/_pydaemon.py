"""Python worker daemon for the engine's Spark sessions.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so Spark starts it with ``python -m`` in place of ``pyspark.daemon``; it
installs one patch and then runs the stock daemon loop, whose forked
workers inherit the patch.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.13 that makes
each ``zipimporter`` in ``sys.path_importer_cache`` — one per pyspark
subpackage the worker has imported, 14-16 of them — re-read the central
directory of ``pyspark.zip`` (3.5 MB): about 0.1 s per task, even with
reused workers, and most of the run time of a small task. The patch keys
each importer's re-read on the archive's ``(st_mtime_ns, st_size,
st_ino)``: an archive whose stat is unchanged since the importer last read
it is not read again, a changed or unreadable one is. Python 3.13 made
the invalidation lazy, so there the daemon runs unpatched.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import zipimport


def _change_keyed(read):
    @functools.wraps(read)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        # stat BEFORE the read: a write racing the read leaves an older
        # key behind, so the next call reads again
        if key is None or key != getattr(self, "_archive_key", None):
            read(self)
            self._archive_key = key

    return invalidate_caches


def patch_zipimport() -> bool:
    """Install the change-keyed ``zipimporter.invalidate_caches``; False
    (nothing installed) on Python >= 3.13."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    cls.invalidate_caches = _change_keyed(cls.invalidate_caches)
    return True


if __name__ == "__main__":
    from pyspark.daemon import manager

    if patch_zipimport():
        # read each importer the daemon holds once, so forked workers
        # start with their keys set
        importlib.invalidate_caches()
    manager()
