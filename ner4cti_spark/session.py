"""SparkSession factory tuned for this engine.

Local-mode testing stands in for a multi-executor cluster; every knob is
the one you would also set in `spark-submit` at 1000-executor scale:
AQE for runtime re-planning + skew-join splitting, shuffle partitions
sized to the parallelism, Arrow for every Python crossing.
"""

from __future__ import annotations

import functools
import os

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


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


def local_frame(spark: SparkSession, schema: str,
                rows: pd.DataFrame | None = None) -> DataFrame:
    """`rows` (none: zero rows) as a frame of DDL `schema`, shipped as one
    typed Arrow table: a JVM-local scan even when empty, where an empty
    pandas frame or a list becomes an `ExistingRDD` running Python tasks."""
    arrow_schema = to_arrow_schema(StructType.fromDDL(schema))
    table = (arrow_schema.empty_table() if rows is None
             else pa.Table.from_pandas(rows, schema=arrow_schema, preserve_index=False))
    return spark.createDataFrame(table)


def get_spark(
    app_name: str = "ner4cti_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local-mode SparkSession.

    cores=None → local[*]. shuffle_partitions defaults to max(cores, 32)
    locally; on a real cluster you would size it to ~2-3× total cores and
    let AQE coalesce down. Python workers are forks of `worker_daemon`,
    found through `spark.executorEnv.PYTHONPATH`: the directory or zip
    this package was imported from, which the workers of a local master
    share with the driver.
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
        .config("spark.python.daemon.module", "ner4cti_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH",
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
