"""Python worker daemon for sessions built by `build_session`.

Spark starts it in place of ``pyspark.daemon`` (the session sets
``spark.python.daemon.module``); it installs one guard and then runs
pyspark's own daemon loop, so every worker it forks inherits the guard.

Why: at the start of every task pyspark's worker calls
``importlib.invalidate_caches()`` (``setup_spark_files`` in
``pyspark/worker_util.py``).  Before Python 3.13 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole central directory in pure Python, and there is one importer per
package directory imported from an archive: 14 once pyspark's worker is
loaded, 12 of them over ``pyspark.zip`` (1,328 entries).  One such call
took 0.10 s in an idle process (4 cores, Python 3.11), 0.0001 s with
the guard; a 4-task ``mapInArrow`` job over 1,000 rows went from
0.62 s to 0.39 s (median of 7) and a 16-task one from 1.33 s to 0.57 s.

The guard re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` differs from the last read, so an archive seen for the first
time (``addPyFile``) or rewritten on disk is still read in full, once
for all the importers over it.
Python 3.13 made the re-read lazy upstream; there nothing is patched.

Run by Spark as ``python -m renkodf_spark.worker_daemon <worker module>``.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> bool:
    """Guard ``zipimporter.invalidate_caches`` so an unchanged archive is
    not re-read, and read every archive already imported from once more
    under the guard, so processes forked later start with its stamp.
    Returns whether the guard is installed (never on Python >= 3.13)."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    # archive path -> its stamp when its directory was last read
    read_stamps: dict[str, tuple[int, int, int]] = {}

    @functools.wraps(reread)
    def invalidate_caches(self):
        # the stamp is taken before the read: a write racing the read
        # leaves an older stamp, so the next call reads again
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and read_stamps.get(self.archive) == stamp:
            self._files = files  # another importer of the archive may have re-read it
            return
        read_stamps.pop(self.archive, None)
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            read_stamps[self.archive] = stamp

    cls.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()
    return True


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
