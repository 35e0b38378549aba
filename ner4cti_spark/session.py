"""SparkSession factory tuned for this engine.

Local-mode testing stands in for a multi-executor cluster; every knob is
the one you would also set in `spark-submit` at 1000-executor scale:
AQE for runtime re-planning + skew-join splitting, shuffle partitions
sized to the parallelism, Arrow for every Python crossing.
"""

from __future__ import annotations

import functools
import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession


def corpus_cached(build):
    """Cache a builder's persisted result per corpus: one entry per
    decorated builder, keyed by (Spark app id, *args).

    A call with the entry's key returns the cached value (a DataFrame,
    or a dict of them). A call with another key builds and replaces the
    entry; the old value's frames are unpersisted when it belongs to the
    same app, and just dropped when it belongs to another (stopped) one.
    So repeated queries over one corpus share one persisted scan instead
    of registering a fresh cache entry per call, and switching corpora
    keeps the persistent-RDD count flat."""
    entry: list = []  # [key, value] once built

    @functools.wraps(build)
    def cached(spark: SparkSession, *args):
        key = (spark.sparkContext.applicationId, *args)
        if entry and entry[0] == key:
            return entry[1]
        value = build(spark, *args)
        if entry and entry[0][0] == key[0]:
            old = entry[1]
            for df in old.values() if isinstance(old, dict) else (old,):
                df.unpersist(blocking=False)
        entry[:] = [key, value]
        return value

    return cached


def ship_package(spark: SparkSession) -> str:
    """Ship this package to executors — the programmatic equivalent of
    `spark-submit --py-files ner4cti_spark.zip` (north_rule deploy mode).
    Without it, forked Python workers can only import the package when
    the driver's cwd happens to be the repo root."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(), "ner4cti_spark_pyfiles.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join("ner4cti_spark", os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    return zip_path


def drop_zip_importers() -> None:
    """Delete every `zipimport.zipimporter` from `sys.path_importer_cache`;
    other finders and `zipimport._zip_directory_cache` stay.

    Every engine function that runs in a Python worker calls this in a
    `finally` as it finishes. PySpark reuses a worker across tasks, but
    each task's set-up ends in `importlib.invalidate_caches()`, which
    makes every cached zipimporter re-read its archive's central
    directory in pure Python: pyspark.zip with its sub-package prefixes
    and spark-core's jar, 17 importers (19 with this package's zip) and
    a median 0.27 s per task on a 4-CPU host. Dropped at the end of one
    task, they are not there for the next task's set-up to re-read.

    Safe while no zip on a worker's path changes during the worker's
    life, which holds because Spark refuses to re-add a file under a name
    it already shipped: the cache is only a cache, and a later import
    through a zip rebuilds its importer from the unchanged directory in
    `_zip_directory_cache`."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


def get_spark(
    app_name: str = "ner4cti_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores=None → local[*]. shuffle_partitions defaults to max(cores, 32)
    locally; on a real cluster you would size it to ~2-3× total cores and
    let AQE coalesce down.
    """
    # One BLAS thread per Python worker: N workers × default-N-threaded
    # OpenBLAS oversubscribes the box N× and *slows down* with more
    # workers (SURVEY §7 "CPU thread pinning so tasks don't
    # oversubscribe"). Must be set before the JVM forks workers; the
    # executorEnv configs below carry the same pin to real clusters.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else 0
    master = f"local[{cores}]" if cores else "local[*]"
    n_shuffle = shuffle_partitions or max(cores or 32, 32)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("NER4CTI_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
