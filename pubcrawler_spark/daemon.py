"""PySpark daemon for local-mode workers that parses each zip on sys.path
once per change instead of once per task.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task. On CPython 3.11 that makes every ``zipimporter`` re-read its whole
archive directory (``pyspark.zip``, the Spark core jar, the py4j zip:
16 importers, ~7k entries), which is most of a Python task's fixed
start-up cost. Here the re-read happens only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from the last read, so a
rewritten archive is still picked up.

Run by Spark as ``python -m pubcrawler_spark.daemon <worker module>``
(``spark.python.daemon.module``, set by :func:`session.get_spark`). The
patch is applied only under ``__main__``; forked workers inherit it.
"""

from __future__ import annotations

import os
import zipimport


def cached_invalidate_caches(reread=zipimport.zipimporter.invalidate_caches):
    """A ``zipimporter.invalidate_caches`` replacement that calls
    ``reread`` only when the archive changed since its last read."""
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        cached = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and read_at.get(self.archive) == key and cached is not None:
            # importers of one archive share its directory dict; another
            # importer may already have re-read it after a change
            self._files = cached
            return
        reread(self)
        if key is not None:
            read_at[self.archive] = key

    return invalidate_caches


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = cached_invalidate_caches()

    from pyspark import daemon

    daemon.manager()
