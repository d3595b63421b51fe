"""Pre-warmed PySpark worker daemon (``spark.python.daemon.module``).

The stock daemon forks a bare interpreter per worker; each worker then
imports numpy/pyarrow/pandas + the engine's kernel modules on its first
task (~0.5 s CPU and tens of MB of fresh pages per worker). Importing them
ONCE here, in the daemon process, lets every forked worker inherit the
already-initialized modules as shared copy-on-write pages — N workers pay
the import cost zero times instead of N times. This matters doubly on
hosts where fresh-page faults are a globally serialized resource (see
sits_spark.session).

Each task then starts with PySpark's import-cache reset
(``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``) so that files shipped by
``addPyFile``/``--py-files`` since the last task become importable. The
reset also re-reads the central directory of every zip importer in
``sys.path_importer_cache``: Spark's ``pyspark.zip`` (one importer per
imported sub-package), the ``py4j`` zip and the spark-core jar, ~0.2 s per
task on a reused worker, longer than the kernels of a small batch. Those
archives are on the daemon's start-up ``sys.path`` and do not change
while it lives, so the forked workers' reset skips their importers and
invalidates every other finder as before: the ``SparkFiles`` directory's
and any shipped zip's. The daemon refuses to start if the installed
pyspark no longer resets through the hook patched here.

The reference's analog is worker pools inheriting the loaded package
state through ``parallel::makeCluster`` forks (R/api_parallel.R).
"""

import fnmatch
import importlib
import os
import sys
import types
import zipimport

# heavyweight third-party imports first (largest CoW win)
import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyarrow.parquet  # noqa: F401

# engine kernel modules used inside mapInArrow/pandas UDFs
from sits_spark import batching, codec, engine_core, kernels  # noqa: F401

import pyspark.worker
from pyspark import worker_util
from pyspark.daemon import manager

_SPARK_ARCHIVES = ("pyspark.zip", "py4j-*.zip", "spark-core_*.jar")

# Spark's own archives on the start-up path; a zip added later (SparkFiles)
# or under another name is not in here and keeps its per-task reset
_FIXED_ARCHIVES = frozenset(
    p for p in sys.path
    if os.path.isfile(p)
    and any(fnmatch.fnmatch(os.path.basename(p), pat) for pat in _SPARK_ARCHIVES)
)


def _invalidate_caches() -> None:
    """``importlib.invalidate_caches()`` minus the importers of
    ``_FIXED_ARCHIVES``, which are set aside and put back unchanged."""
    cache = sys.path_importer_cache
    fixed = {
        path: finder for path, finder in cache.items()
        if isinstance(finder, zipimport.zipimporter)
        and finder.archive in _FIXED_ARCHIVES
    }
    for path in fixed:
        del cache[path]
    try:
        importlib.invalidate_caches()
    finally:
        cache.update(fixed)


_reset = worker_util.setup_spark_files
if not (
    worker_util.importlib is importlib
    and {"importlib", "invalidate_caches"} <= set(_reset.__code__.co_names)
    and pyspark.worker.setup_spark_files is _reset
):
    raise ImportError(
        "sits_spark.worker_daemon: this pyspark no longer resets the import "
        "caches through pyspark.worker_util.importlib.invalidate_caches in "
        "setup_spark_files; the fixed-archive reset must be re-hooked"
    )
worker_util.importlib = types.SimpleNamespace(invalidate_caches=_invalidate_caches)

if __name__ == "__main__":
    manager()
