"""Python worker daemon for sessions built by `session.get_spark`.

Spark forks every Python worker (pandas UDFs, `mapInPandas`,
`applyInPandasWithState`) from one daemon process, named by the static conf
`spark.python.daemon.module`. This module is pyspark's own daemon
(`pyspark.daemon.manager`) with one change: `importlib.invalidate_caches`,
which pyspark's worker calls at the start of every task
(`pyspark/worker_util.py::setup_spark_files`), leaves zip archive finders
alone.

Workers import pyspark from `$SPARK_HOME/python/lib/pyspark.zip` (1 328
entries), through one `zipimport.zipimporter` per package directory inside
it (18 of them once a pandas UDF has run). On CPython 3.11 each
`zipimporter.invalidate_caches` re-reads the archive's whole central
directory, so the stdlib call took a median 282 ms of wall time per task
(4-core host). Archives on `sys.path` do not change under a running worker,
so skipping them loses nothing. Directory finders are still invalidated, so
files pyspark adds to the worker's path (`addPyFile`, `--py-files`) stay
importable.

The driver process keeps the stdlib function: only `main`, which runs in the
daemon, swaps it in.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport
from importlib import _bootstrap_external
from importlib.machinery import PathFinder


def invalidate_caches() -> None:
    """`importlib.invalidate_caches` minus the re-read of zip archives."""
    for finder in sys.meta_path:
        if finder is PathFinder:
            _invalidate_path_entry_finders()
        elif hasattr(finder, "invalidate_caches"):
            finder.invalidate_caches()


def _invalidate_path_entry_finders() -> None:
    # PathFinder.invalidate_caches, except that zipimporters are kept as
    # they are.
    for name, finder in list(sys.path_importer_cache.items()):
        if finder is None or not os.path.isabs(name):
            del sys.path_importer_cache[name]
        elif not isinstance(finder, zipimport.zipimporter) and hasattr(finder, "invalidate_caches"):
            finder.invalidate_caches()
    _bootstrap_external._NamespacePath._epoch += 1  # noqa: SLF001


def main() -> None:
    """Run pyspark's daemon with `invalidate_caches` swapped in; the workers
    it forks inherit the swap."""
    importlib.invalidate_caches = invalidate_caches
    from pyspark import daemon  # noqa: PLC0415

    daemon.manager()


if __name__ == "__main__":
    # `python -m` runs this file as `__main__`; take `main` from the package
    # module so the workers' function reports this module's name.
    from flink_parent_spark.worker_daemon import main as _main

    _main()
