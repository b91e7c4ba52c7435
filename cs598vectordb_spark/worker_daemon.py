"""Python worker daemon for the engine's Spark sessions (spark.python.daemon.module).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. Before Python 3.12 that makes every ``zipimporter`` re-read its
whole archive directory, and a worker holds 16 importers over pyspark.zip,
one per package directory: 150-235 ms per task on a 4-vCPU host with four
workers busy. Here an importer re-reads only when the archive's stat stamp
changed since that importer last read it. Python 3.12 made the re-read lazy
(one shared re-read at the next lookup) and is left alone. Directory
finders are still invalidated, so files shipped with ``addPyFile`` are
found. Workers fork from this daemon, so the patch covers every task.

Keep this module and the package ``__init__`` import-light: every Python
worker process forks from here.
"""

import os
import sys
import zipimport

if sys.version_info < (3, 12):
    _read_archive = zipimport.zipimporter.invalidate_caches

    def _invalidate_if_changed(self):
        # per importer, not per archive: all of an archive's importers
        # hold their own copy of its directory
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_dir_stamp", None):
            _read_archive(self)
            self._dir_stamp = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
