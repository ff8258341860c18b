"""The Python worker daemon of the engine's sessions.

`session.get_spark` names this module in `spark.python.daemon.module`, so
Spark starts it as `python -m setsm_postprocessing_python_spark.pyworker
pyspark.worker`. It runs `pyspark.daemon.manager()`, which forks one
worker per Python task, with one change made before the first fork:
`zipimport.zipimporter.invalidate_caches` does nothing.

Why: before each task, `pyspark.worker_util.setup_spark_files` calls
`importlib.invalidate_caches()`. Under CPython 3.11 that calls
`invalidate_caches` on every zip importer in `sys.path_importer_cache`,
and each one re-parses its archive's whole central directory in pure
Python. Spark puts `pyspark.zip` (about 1,300 entries) and the py4j zip
first on every worker's path, and CPython keeps one importer per package
directory imported from them (16 per worker with PySpark 4.1), so every
task re-read them 16 times. That re-read was most of the Python CPU of a
small Arrow task, such as one of `q_tile_assign`'s point-in-polygon
batches. CPython 3.12 made the re-read lazy.

Why the no-op is safe: Spark never rewrites a zip on a worker's path while
the worker lives. A file added with `addPyFile` arrives as a new path
entry, which gets a new importer that reads its own directory.
"""

from __future__ import annotations

import zipimport


def _keep_directory(self: zipimport.zipimporter) -> None:
    """The archive has not changed; keep the directory already read."""


def manager() -> None:
    # pyspark.daemon imports its worker module (argv[1]) when imported
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _keep_directory
    daemon.manager()


if __name__ == "__main__":
    # `python -m` runs this file as __main__; run the copy imported under
    # its package name, so the patched method names its real module.
    from setsm_postprocessing_python_spark import pyworker

    pyworker.manager()
