"""Python worker daemon of the engine's sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` on every task;
before Python 3.13 that makes each ``zipimporter`` (one per package
imported from ``pyspark.zip``) re-read the archive's whole directory,
120-240 ms of a one-row task on a 4-vCPU host.  Here an archive is
re-read only when its stat signature changed since its last read; the
workers this daemon forks inherit the patch.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (size, mtime_ns, inode) it had when its directory was read
_read_at: dict[str, tuple[int, int, int]] = {}


def _invalidate_caches(self) -> None:
    try:  # stat before reading: a rewrite in between shows on the next call
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate(self)
    sig = (st.st_size, st.st_mtime_ns, st.st_ino)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_at.get(self.archive) == sig:
        self._files = files
    else:
        _stock_invalidate(self)
        _read_at[self.archive] = sig


def main() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    from pyspark import daemon

    importlib.invalidate_caches()  # read each archive once, before forking
    daemon.manager()


if __name__ == "__main__":
    # run the importable copy, so the patch belongs to
    # ``nominatim_spark.pydaemon`` rather than ``__main__``
    from nominatim_spark.pydaemon import main as _main

    _main()
