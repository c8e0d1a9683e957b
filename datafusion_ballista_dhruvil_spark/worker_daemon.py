"""Spark's Python worker daemon, with archive directories re-read only on change.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, and every ``zipimporter`` on the worker's path then re-reads
its whole archive directory: Spark puts the 15 MB ``spark-core`` jar and
``pyspark.zip`` on that path, one importer per package prefix, for about
170 ms of every task. ``session.create_session`` runs this module as the
daemon (``spark.python.daemon.module``); it wraps the importers'
``invalidate_caches`` so an archive whose ``os.stat`` (mtime, size, inode)
is the one this importer last read is not read again, then runs
``pyspark.daemon.manager``. Forked workers inherit the wrapper. A changed,
replaced or removed archive is re-read exactly as before.
"""

from __future__ import annotations

import os
import zipimport

_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _invalidate(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    daemon.manager()
