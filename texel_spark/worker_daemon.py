"""PySpark worker daemon that does not re-read zips on every task.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so Spark
starts it (``python -m texel_spark.worker_daemon pyspark.worker``) in place
of ``pyspark.daemon``; it installs the shim below and then runs the stock
daemon, whose forked workers inherit it.

Why: pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task.  On Python
3.11 that makes every cached ``zipimport.zipimporter`` re-parse its zip's
central directory, and a worker holds one per package directory it
imported from ``pyspark.zip`` (16 of them): 0.10-0.21 s of CPU per task on
a 4-core host.  The shim does what ``importlib.invalidate_caches`` does,
except that it skips zip importers.  That is safe because the zips on a
worker's path (``pyspark.zip``, py4j, ``--py-files``) do not change while a
session runs, and a zip shipped later with ``addPyFile`` is a new
``sys.path`` entry that gets a fresh importer.
"""

from __future__ import annotations

import os
import sys
import types
import zipimport
from importlib import _bootstrap_external
from importlib.machinery import PathFinder


def _invalidate_path_finder_caches() -> None:
    # PathFinder.invalidate_caches (importlib/_bootstrap_external.py,
    # Python 3.11) minus the zip importers; calling it instead would walk
    # them again
    for name, finder in list(sys.path_importer_cache.items()):
        # a relative entry may name another directory after a chdir
        if finder is None or not os.path.isabs(name):
            del sys.path_importer_cache[name]
        elif isinstance(finder, zipimport.zipimporter):
            continue
        elif hasattr(finder, "invalidate_caches"):
            finder.invalidate_caches()
    _bootstrap_external._NamespacePath._epoch += 1


def invalidate_caches() -> None:
    """``importlib.invalidate_caches`` that leaves zip importers alone."""
    for finder in sys.meta_path:
        if finder is PathFinder:
            _invalidate_path_finder_caches()
        elif hasattr(finder, "invalidate_caches"):
            finder.invalidate_caches()


def install() -> bool:
    """Point ``pyspark.worker_util``'s ``importlib`` at the shim.

    Returns False, changing nothing, when pyspark or Python no longer has
    the private names the shim relies on; the daemon then runs stock.
    """
    from pyspark import worker_util

    if not hasattr(worker_util, "importlib") or not hasattr(_bootstrap_external._NamespacePath, "_epoch"):
        return False
    worker_util.importlib = types.SimpleNamespace(invalidate_caches=invalidate_caches)
    return True


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
