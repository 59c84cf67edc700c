"""Python worker entry point of the engine's sessions: the
``spark.python.worker.module`` that ``session.get_spark`` registers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). On CPython
3.11 that makes every cached ``zipimporter`` re-read its archive's
directory. A reused worker holds about 16 of them, over
``pyspark.zip``, the py4j source zip and the spark-core jar. Those
archives ship with Spark and do not change while a worker lives, so
:func:`main` drops their importers from ``sys.path_importer_cache``
before each task; an import that needs one again builds it from
zipimport's directory cache without reading the archive. On a 4-vCPU
host this cut an 8-task ``mapInPandas`` job on two cores from 1.4-2.0 s
to about 0.75 s.

The daemon (``pyspark.daemon``) accepts a worker module only when its
name starts with ``pyspark``, hence a top-level module. Workers import
it as they import the package: from the working directory or
``PYTHONPATH``.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.worker import main as _worker_main


def _spark_archive(path: str) -> bool:
    """Whether ``path`` is one of the archives Spark puts on a Python
    worker's path: ``pyspark.zip``, the py4j source zip, the spark-core
    jar."""
    name = os.path.basename(path)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or (name.startswith("spark-core_") and name.endswith(".jar"))
    )


def main(infile, outfile) -> None:
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and _spark_archive(
            finder.archive
        ):
            del sys.path_importer_cache[key]
    _worker_main(infile, outfile)
