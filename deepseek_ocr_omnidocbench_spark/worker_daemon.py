"""Spark's Python daemon with a cheaper per-task set-up.

``session.get_spark`` sets it as ``spark.python.daemon.module`` (not
``spark.python.worker.module``: pyspark/daemon.py ignores a worker module
whose name does not start with ``pyspark``), so Spark starts
``python -m deepseek_ocr_omnidocbench_spark.worker_daemon`` and this
module forks the workers.

Each task's set-up (``pyspark.worker_util.setup_spark_files``) calls
``importlib.invalidate_caches()``, and every zipimporter cached in
``sys.path_importer_cache`` then re-reads its archive's directory: with
pyspark imported from pyspark.zip that is one read per imported
subpackage, 16 in an evaluation worker.  Before each task the workers
here drop the cached zipimporters of subpackages (non-empty ``prefix``).
The archive roots stay, so each archive is still re-read once per task,
and a dropped importer is rebuilt on demand from
``zipimport._zip_directory_cache``, which the root's re-read keeps
current.

Nothing else is imported here: a daemon copy of pandas or the kernels
would stay resident in one more process.
"""

from __future__ import annotations

import sys
import zipimport

import pyspark.daemon

_stock_worker_main = pyspark.daemon.worker_main


def prune_zip_importers() -> None:
    """Drop every cached zipimporter of a path inside an archive."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.prefix:
            del cache[path]


def worker_main(infile, outfile) -> None:
    prune_zip_importers()
    _stock_worker_main(infile, outfile)


if __name__ == "__main__":
    # pyspark.daemon.worker() calls the module-level worker_main per task
    pyspark.daemon.worker_main = worker_main
    pyspark.daemon.manager()
