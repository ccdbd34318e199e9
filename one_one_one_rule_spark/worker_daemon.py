"""PySpark worker daemon that skips zipimport re-reads of unchanged archives.

``session.get_spark`` points ``spark.python.daemon.module`` here. Spark
starts it as ``python -m one_one_one_rule_spark.worker_daemon <worker
module>``; it installs the guard and then runs ``pyspark.daemon``'s
manager, so every worker forked from it inherits the guard. See the
``session`` module docstring for the measured cause.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task. Where ``zipimport.zipimporter.invalidate_caches`` still re-reads
the archive's directory eagerly (CPython before 3.13), each zipimporter
on ``sys.path_importer_cache`` re-parses its archive in pure Python. The
guard keeps the directory while the archive's ``(st_mtime_ns, st_size,
st_ino)`` is the one it was last read at, and re-reads it otherwise.
"""

from __future__ import annotations

import importlib
import os
import zipimport

# archive path -> (stat stamp taken before the read, directory it read)
_read_at: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def installed() -> bool:
    """Whether this process's zipimporters skip unchanged archives."""
    return getattr(
        zipimport.zipimporter.invalidate_caches, "_skips_unchanged", False
    )


def install() -> bool:
    """Guard ``zipimporter.invalidate_caches`` where it re-reads eagerly.

    Returns whether the guard is installed. Idempotent.
    """
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):  # lazy form: invalidation is a dict pop
        return False
    if installed():
        return True
    eager = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            stamp = _stamp(self.archive)
        except OSError:
            _read_at.pop(self.archive, None)
            return eager(self)
        seen = _read_at.get(self.archive)
        if seen is not None and seen[0] == stamp:
            # the stamp was taken before the read, so a change made while
            # it ran shows as a new stamp and is read on the next call
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return None
        eager(self)
        if zipimport._zip_directory_cache.get(self.archive) is self._files:
            _read_at[self.archive] = (stamp, self._files)
        else:  # not a readable zip: eager dropped it, keep dropping it
            _read_at.pop(self.archive, None)
        return None

    invalidate_caches._skips_unchanged = True
    cls.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    install()
    from pyspark import daemon

    # read each archive once here, so forked workers start with every
    # archive stamped and never re-read an unchanged one
    importlib.invalidate_caches()
    daemon.manager()
