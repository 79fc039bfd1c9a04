"""Spark's Python daemon, minus the per-task re-read of unchanged zip archives.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``, which
ends with ``importlib.invalidate_caches()``. On CPython 3.11 that re-parses
the central directory of every zip archive on the worker's ``sys.path``
(``pyspark.zip``, the py4j zip and the spark-core jar, behind 16
zipimporters: 0.13-0.21 s per task on a 4-core box), although those archives
never change. This module runs the stock ``pyspark.daemon.manager()`` with the
``importlib`` name that ``worker_util`` sees replaced by a shim. The shim's
``invalidate_caches()`` is the stock call (CPython 3.11's
``PathFinder.invalidate_caches`` included), except that a zipimporter whose
archive has the same ``(st_mtime_ns, st_size)`` as at its last read is not
re-read; a rebuilt ``--py-files`` zip still is. The signatures are taken in
the daemon before it forks, so a new worker's first task skips the re-read
too. On a pyspark without ``worker_util.importlib`` it is the stock daemon.

``session.get_spark`` selects it (``spark.python.daemon.module``) for local
masters; see that module for what a cluster sets.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport
from importlib import _bootstrap_external
from importlib.machinery import PathFinder

# archive path -> (st_mtime_ns, st_size) when its directory was last read
_read_at: dict[str, tuple[int, int] | None] = {}


def _signature(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def record_archives() -> None:
    """Note the signature of every archive a cached zipimporter has read."""
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            _read_at[finder.archive] = _signature(finder.archive)


def invalidate_caches() -> None:
    """``importlib.invalidate_caches()`` that skips unchanged zip archives."""
    for finder in sys.meta_path:
        # sys.meta_path holds the PathFinder class itself, not an instance
        if finder is PathFinder:
            _invalidate_path_entries()
        elif hasattr(finder, "invalidate_caches"):
            finder.invalidate_caches()


def _invalidate_path_entries() -> None:
    reread = {}
    for name, finder in list(sys.path_importer_cache.items()):
        if finder is None or not os.path.isabs(name):
            del sys.path_importer_cache[name]
        elif isinstance(finder, zipimport.zipimporter):
            sig = _signature(finder.archive)
            # every importer of a changed archive re-reads in this call
            if _read_at.get(finder.archive, ()) != sig:
                finder.invalidate_caches()
                reread[finder.archive] = sig
        elif hasattr(finder, "invalidate_caches"):
            finder.invalidate_caches()
    _read_at.update(reread)
    _bootstrap_external._NamespacePath._epoch += 1


class _Importlib:
    """``importlib`` as ``pyspark.worker_util`` sees it, with the shim."""

    invalidate_caches = staticmethod(invalidate_caches)

    def __getattr__(self, name):
        return getattr(importlib, name)


def main() -> None:
    from pyspark import daemon, worker_util

    if getattr(worker_util, "importlib", None) is importlib:
        record_archives()
        worker_util.importlib = _Importlib()
    daemon.manager()


if __name__ == "__main__":
    # run the imported module, not this __main__ copy, so a task sees
    # remine_spark.pydaemon.invalidate_caches as the shim
    from remine_spark.pydaemon import main as _main

    _main()
