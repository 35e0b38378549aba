"""Partitioned checkpoint tables + per-partition lineage + idempotent resume.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". Stage outputs are written partitioned by a repo bucket
(pmod(xxhash64(repo), N), the Iceberg `bucket(N, repo)` transform). The
manifest `_lineage/manifest.parquet` holds a row per completed (stage,
bucket): row count, repo and commit ranges, and an order-insensitive
content digest (bit_xor of the sha256s' leading 60 bits). The driver
commits it like Iceberg metadata: pyarrow writes a hidden temp file
beside it, fsync, `os.replace`. (Inside `_lineage/`, because Spark
ignores an explicitly named file whose name starts with `_`.)

A bucket is complete for a stage iff the manifest has its row (whose
`row_count` counts the table's rows in it; tag stage: sentence rows).
`write_checkpoint` (1) reads the manifest and, appending, refuses a `df`
whose schema is not the recorded files' (never a mix), (2) removes the
`bucket=` directories not recorded for the stage (overwrite: all), (3)
writes the data, (4) aggregates the new buckets' rows from the files
just written, (5) commits old ∪ new rows (overwrite: minus the stage's
old rows). A crash before step 5's `os.replace` leaves the old manifest,
(append) the recorded buckets' files intact, and unrecorded files, which
the next run's step 2 removes even when its input lacks their repos; a
crash after it leaves the new manifest. Overwrite stages rerun in full
every time, so their rows are never a resume key.

Resume: the TAG stage (model inference, the dominant cost) appends per
bucket; a rerun drops the recorded buckets before any model compute
(`filter_resumable`). Linking, canonicalization and materialize are
cheap global functions of the whole tag checkpoint, recomputed with
overwrite. Iceberg tables in production; parquet directories here.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import local_frame

N_BUCKETS = 64
MANIFEST = os.path.join("_lineage", "manifest.parquet")
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
MANIFEST_SCHEMA = pa.schema([
    ("stage", pa.string()), ("partition_key", pa.string()),
    ("repo_min", pa.string()), ("repo_max", pa.string()),
    ("commit_min", pa.string()), ("commit_max", pa.string()),
    ("row_count", pa.int64()), ("content_sha256_xor", pa.string()),
    ("completed_at", pa.timestamp("us", tz="UTC")),
])


def with_bucket(df: DataFrame, col: str = "repo", n_buckets: int = N_BUCKETS) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int"))


def lineage_rows(df: DataFrame, stage: str) -> DataFrame:
    """Aggregate per-bucket lineage from a bucketed DataFrame (must carry
    repo + commit + sha256 + bucket columns). min/max skip null commits."""
    return df.groupBy("bucket").agg(
        F.lit(stage).alias("stage"),
        F.min("repo").alias("repo_min"),
        F.max("repo").alias("repo_max"),
        F.min("commit").alias("commit_min"),
        F.max("commit").alias("commit_max"),
        F.count(F.lit(1)).alias("row_count"),
        F.format_string(
            "%015x",
            # DISTINCT: many rows share a source sha256 (one per sentence/
            # triple); xor over duplicates would cancel even-count hashes
            F.expr("bit_xor(DISTINCT cast(conv(substring(sha256, 1, 15), 16, 10) as bigint))"),
        ).alias("content_sha256_xor"),
    ).select(
        "stage", F.col("bucket").cast("string").alias("partition_key"),
        "repo_min", "repo_max", "commit_min", "commit_max", "row_count",
        "content_sha256_xor",
    )


def read_checkpoint(spark: SparkSession, out_dir: str, table: str,
                    schema: str) -> DataFrame:
    """A bucketed checkpoint table, without its bucket column. A zero-row
    partitioned write leaves the table directory with no `bucket=`
    subdirectory (only `_SUCCESS`), from which parquet cannot infer a
    schema: such a table reads as an empty `local_frame` of `schema`."""
    path = os.path.join(out_dir, table)
    if not _bucket_keys(path):
        return local_frame(spark, schema)
    return spark.read.parquet(path).drop("bucket")


def read_manifest(out_dir: str) -> pd.DataFrame:
    """The committed lineage rows; none before the first commit."""
    path = os.path.join(out_dir, MANIFEST)
    table = pq.read_table(path) if os.path.exists(path) else MANIFEST_SCHEMA.empty_table()
    return table.to_pandas()


def commit(out_dir: str, rows: pd.DataFrame) -> None:
    """Atomically replace the manifest with `rows`."""
    folder = os.path.join(out_dir, "_lineage")
    os.makedirs(folder, exist_ok=True)
    tmp = os.path.join(folder, ".manifest.parquet.tmp")
    with open(tmp, "wb") as f:
        pq.write_table(pa.Table.from_pandas(rows, schema=MANIFEST_SCHEMA, preserve_index=False), f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(out_dir, MANIFEST))
    fd = os.open(folder, os.O_RDONLY)  # make the rename durable
    os.fsync(fd)
    os.close(fd)


def _done(out_dir: str, stage: str) -> set[str]:
    manifest = read_manifest(out_dir)
    return set(manifest.loc[manifest["stage"] == stage, "partition_key"])


def completed_buckets(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    """The buckets recorded complete for `stage`, one `bucket int` row
    each. Built from an Arrow table, it plans as a JVM-local scan: no
    action on it starts a Python task."""
    keys = sorted(int(k) for k in _done(out_dir, stage))
    return spark.createDataFrame(pa.table({"bucket": pa.array(keys, pa.int32())}))


def filter_resumable(df: DataFrame, out_dir: str, stage: str) -> DataFrame:
    """Drop the rows of the repo buckets recorded complete for `stage`."""
    done = [int(k) for k in _done(out_dir, stage)]
    return with_bucket(df).filter(~F.col("bucket").isin(done)).drop("bucket") if done else df


def _bucket_keys(table_path: str) -> set[str]:
    if not os.path.isdir(table_path):
        return set()
    return {n[len("bucket="):] for n in os.listdir(table_path) if n.startswith("bucket=")}


def _clear(table_path: str, keep: set[str]) -> None:
    for key in _bucket_keys(table_path) - keep:
        shutil.rmtree(os.path.join(table_path, f"bucket={key}"))


def _check_append_schema(df: DataFrame, table_path: str, done: set[str]) -> None:
    """ValueError unless `df` has the schema Spark wrote into the footer
    of a recorded file (read on the driver: no Spark job)."""
    files = [f for k in sorted(done) for f in glob.glob(f"{table_path}/bucket={k}/*.parquet")]
    if not files:
        return
    footer = pq.read_schema(min(files)).metadata or {}
    have = footer.get(_SPARK_SCHEMA_KEY)
    want = df.schema.simpleString()
    if have is None or StructType.fromJson(json.loads(have)).simpleString() != want:
        raise ValueError(f"checkpoint table {table_path} holds rows of another schema than "
                         f"{want}; an append never mixes schemas: use a fresh out_dir")


def write_checkpoint(spark: SparkSession, df: DataFrame, out_dir: str, table: str,
                     stage: str, mode: str = "append") -> None:
    """Write bucketed parquet, then commit its lineage (steps in the
    module docstring). append keeps the buckets recorded for `stage` and
    adds `df`, which must hold none of them (`filter_resumable`) and
    their schema; overwrite replaces the table and the stage's rows."""
    rows = read_manifest(out_dir)
    done = _done(out_dir, stage) if mode == "append" else set()
    table_path = os.path.join(out_dir, table)
    _check_append_schema(df, table_path, done)
    if mode == "overwrite":
        rows = rows[rows["stage"] != stage]
    _clear(table_path, keep=done)
    with_bucket(df).write.mode(mode).partitionBy("bucket").parquet(table_path)
    new = [int(k) for k in _bucket_keys(table_path) - done]
    if new:
        written = spark.read.parquet(table_path).filter(F.col("bucket").isin(new))
        added = lineage_rows(written, stage).toPandas()
        added["completed_at"] = pd.Timestamp.now(tz="UTC")
        rows = pd.concat([rows, added], ignore_index=True)
    commit(out_dir, rows)
