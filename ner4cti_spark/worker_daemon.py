"""PySpark's Python worker daemon (`pyspark.daemon`), with the zip
importers dropped before it forks a worker and after every task, whatever
function the task ran. `session.get_spark` names this module in
`spark.python.daemon.module`. It imports only the standard library and
`pyspark.daemon`: every worker inherits what the daemon imports."""

import sys
import zipimport


def drop_zip_importers() -> None:
    """Delete every `zipimport.zipimporter` from `sys.path_importer_cache`;
    other finders and `zipimport._zip_directory_cache` stay.

    Each task's set-up ends in `importlib.invalidate_caches()`, which
    makes every cached zipimporter re-read its archive's central
    directory in pure Python: pyspark.zip with its sub-package prefixes
    and spark-core's jar, 17 importers and a median 0.27 s per task on a
    4-CPU host. Safe while no zip on a worker's path changes during the
    worker's life, which holds because Spark refuses to re-add a file
    under a name it already shipped: a later import through a zip
    rebuilds its importer from the unchanged `_zip_directory_cache`."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


if __name__ == "__main__":
    import pyspark.daemon as daemon

    run_task = daemon.worker_main

    def worker_main(infile, outfile):
        try:
            return run_task(infile, outfile)
        finally:
            drop_zip_importers()

    # every forked worker calls the module global `pyspark.daemon.worker_main`
    daemon.worker_main = worker_main
    drop_zip_importers()
    daemon.manager()
