"""PySpark worker daemon whose zip importers re-read only changed archives.

Every Python task starts with ``importlib.invalidate_caches()``, which on
CPython < 3.13 makes each zip importer re-parse its archive's whole
directory (``pyspark.zip``, the Spark jar) even when nothing changed.
Run as ``spark.python.daemon.module``, this module replaces that with a
``stat`` check and then starts ``pyspark.daemon``; forked workers inherit
the replacement.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self):
    """Re-read the archive directory unless its (inode, size, mtime) still
    match the signature this importer last read."""
    try:
        st = os.stat(self.archive)
    except OSError:  # gone or unreadable: re-read, which empties the importer
        sig = None
    else:
        sig = (st.st_ino, st.st_size, st.st_mtime_ns)
    if sig is None or sig != getattr(self, "_read_sig", None):
        _reread(self)
        self._read_sig = sig


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark import daemon

    daemon.manager()
