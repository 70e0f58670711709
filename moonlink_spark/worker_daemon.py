"""Spark Python worker daemon that re-reads a zip archive's directory only
when the archive changed.

pyspark's ``setup_spark_files`` calls ``importlib.invalidate_caches()`` at
the start of every task. Before Python 3.13, ``zipimporter.invalidate_caches``
re-reads the whole zip directory of its archive, once per cached importer: a
reused worker holds one importer per pyspark.zip subpackage plus py4j's and
the jar's, so every task re-reads tens of thousands of directory entries.
Python 3.13 made that re-read lazy. On older versions this module keeps the
re-read but skips it while the archive's (mtime, size) stamp is the one the
importer last read, then hands over to ``pyspark.daemon.manager``.

Selected through ``spark.python.daemon.module`` (see ``session.get_spark``).
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its stamp moved since this importer last read it, or when the archive
    cannot be stat'ed. No-op on 3.13+."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        # per importer, not per archive: each importer holds its own
        # reference to the directory it last read
        stamp = _stamp(self.archive)
        if stamp is None or getattr(self, "_read_stamp", None) != stamp:
            reread(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
