"""Python worker-daemon bootstrap: re-read a zip archive on the import
path only when it changed on disk.

Spark forks every Python worker (a pandas/Arrow UDF, ``mapInPandas``,
``foreachPartition``, any RDD lambda) from one daemon per executor,
started as ``python -m <spark.python.daemon.module> <worker module>``.
:func:`flash_cdc_spark.session.get_spark` names this module there; it
installs :func:`install` and then runs ``pyspark.daemon.manager()``
unchanged.

- **Cause:** each task's worker runs ``importlib.invalidate_caches()``
  (``pyspark.worker_util.setup_spark_files``) before it unpickles the
  task. On CPython 3.11 that calls ``zipimporter.invalidate_caches()``
  on every zipimporter in ``sys.path_importer_cache``, and each one
  re-reads its whole archive directory: ``pyspark.zip`` once for each
  of ~15 package prefixes, the 5,359-entry ``spark-core`` jar twice.
  That costs 215–290 ms per task (4-vCPU VM), ahead of any user code.
- **Stamp:** ``(st_mtime_ns, st_size, st_ino)`` of the archive file.
  The patched ``invalidate_caches`` stats the archive and re-reads it
  only when the stamp differs from the one taken before its last read;
  otherwise the importer takes the shared directory that is already in
  ``zipimport._zip_directory_cache``. An archive rewritten on disk
  (new mtime, size or inode) is still re-read, so imports see what the
  unpatched call would have shown them.
- **Where:** the stamps are taken in the daemon, before
  ``manager()`` forks a worker. Every task runs in a fresh fork of the
  daemon, so a memo filled inside a worker would be empty again for
  the next task.

Measured (4-vCPU VM, warm medians of 12–15 runs, the same probe loop
without and with the bootstrap, over several probe runs a side):
``importlib.invalidate_caches()`` inside a task 261 → 0.2 ms; a
one-row ``rdd.mapPartitions().count()`` 159–284 → 86–123 ms;
``DataFrame.foreachPartition`` over 80 rows 143–255 → 76–106 ms;
``mapInPandas(...).collect()`` over 80 rows 220–294 → 120–170 ms.
"""

from __future__ import annotations

import os
import sys
import zipimport

__all__ = ["install"]

# archive path -> stamp taken just before its directory was last read
_STAMPS: dict[str, tuple[int, int, int]] = {}

# marker on the patched method; this module runs as ``__main__`` in the
# daemon, so ``__module__`` does not identify it
MARKER = "_flash_stamped"


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` to skip the
    re-read of an unchanged archive, then read and stamp every archive
    on ``sys.path`` once. Calling it again changes nothing."""
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, MARKER, False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _STAMPS.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _STAMPS[self.archive] = stamp

    setattr(invalidate_caches, MARKER, True)
    cls.invalidate_caches = invalidate_caches

    for entry in sys.path:
        stamp = _stamp(entry)
        if stamp is None:
            continue
        # drop the directory read before the stamp, so the stamp is
        # never newer than the directory it vouches for
        zipimport._zip_directory_cache.pop(entry, None)
        try:
            cls(entry)  # reads the directory; raises for a non-archive
        except zipimport.ZipImportError:
            continue
        _STAMPS[entry] = stamp


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
