"""Spark Python worker daemon (``spark.python.daemon.module``).

Runs ``pyspark.daemon`` after one change: a zip importer re-reads its
archive's directory on ``invalidate_caches`` only when the archive's
(mtime_ns, size) changed. PySpark's worker calls
``importlib.invalidate_caches()`` for every task, and each cached
importer of ``pyspark.zip`` then re-parses all of its entries — most
of a short task's Python time.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_read_stamp", None) != stamp:
        _reread(self)
        self._read_stamp = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
