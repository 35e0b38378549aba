"""Partitioned checkpoint tables + per-partition lineage + idempotent resume.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". Stage outputs are written partitioned by a repo bucket
(pmod(xxhash64(repo), N) — the Iceberg `bucket(N, repo)` transform
expressed portably); the `_lineage` table records, per completed
(stage, bucket): row counts, repo ranges, and an order-insensitive
content-sha256 digest (bit_xor of the leading 60 bits).

Resume model (matches where the cost lives at 10^12-file scale):
- the TAG stage (model inference — the dominant cost) checkpoints
  per-bucket; resume anti-joins input buckets against completed lineage
  rows and reprocesses only the missing ones. Bucket → content is
  deterministic, so reprocessing is idempotent.
- linking/canonicalization/materialize are GLOBAL stages over the
  vocabulary-sized mention surface table; they are cheap and recomputed
  (mode=overwrite) from the mentions checkpoint, because entity
  canonicalization is a function of the whole mention set — resuming it
  per-bucket would change canonical choices.

In production these are Iceberg tables (snapshot isolation,
rewrite-per-partition); here the same layout is parquet directories —
bucketing, lineage and anti-join resume logic are identical.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_BUCKETS = 64


def with_bucket(df: DataFrame, col: str = "repo", n_buckets: int = N_BUCKETS) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int"))


def lineage_rows(df: DataFrame, stage: str) -> DataFrame:
    """Aggregate per-bucket lineage from a bucketed DataFrame (must carry
    repo + sha256 + bucket columns)."""
    return df.groupBy("bucket").agg(
        F.lit(stage).alias("stage"),
        F.min("repo").alias("repo_min"),
        F.max("repo").alias("repo_max"),
        F.count(F.lit(1)).alias("row_count"),
        F.format_string(
            "%015x",
            # DISTINCT: many rows share a source sha256 (one per sentence/
            # triple); xor over duplicates would cancel even-count hashes
            F.expr("bit_xor(DISTINCT cast(conv(substring(sha256, 1, 15), 16, 10) as bigint))"),
        ).alias("content_sha256_xor"),
        F.current_timestamp().alias("completed_at"),
    ).select(
        "stage", F.col("bucket").cast("string").alias("partition_key"),
        "repo_min", "repo_max", "row_count", "content_sha256_xor", "completed_at",
    )


def read_checkpoint(spark: SparkSession, out_dir: str, table: str,
                    schema: str) -> DataFrame:
    """A bucketed checkpoint table, without its bucket column. A zero-row
    partitioned write leaves the table directory with no `bucket=`
    subdirectory (only `_SUCCESS`), from which parquet cannot infer a
    schema: such a table reads as an empty frame of `schema`."""
    path = os.path.join(out_dir, table)
    if not (os.path.isdir(path)
            and any(n.startswith("bucket=") for n in os.listdir(path))):
        return spark.createDataFrame([], schema)
    return spark.read.parquet(path).drop("bucket")


def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    path = _lineage_path(out_dir)
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def completed_buckets(spark: SparkSession, out_dir: str, stage: str) -> DataFrame | None:
    lin = read_lineage(spark, out_dir)
    if lin is None:
        return None
    return (
        lin.filter(F.col("stage") == stage)
        .select(F.col("partition_key").cast("int").alias("bucket"))
        .distinct()
    )


def filter_resumable(spark: SparkSession, bucketed_input: DataFrame, out_dir: str,
                     stage: str) -> DataFrame:
    """Drop buckets already recorded complete for `stage` (left_anti)."""
    done = completed_buckets(spark, out_dir, stage)
    if done is None:
        return bucketed_input
    return bucketed_input.join(F.broadcast(done), "bucket", "left_anti")


def _append_lineage(spark: SparkSession, out_dir: str, rows: DataFrame,
                    replace_stage: str | None = None) -> None:
    path = _lineage_path(out_dir)
    if replace_stage is not None and os.path.exists(path):
        existing = spark.read.parquet(path).filter(F.col("stage") != replace_stage)
        merged = existing.unionByName(rows)
        tmp = path + ".tmp"
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        final = spark.read.parquet(tmp).localCheckpoint(eager=True)
        shutil.rmtree(path)
        final.coalesce(1).write.mode("overwrite").parquet(path)
        shutil.rmtree(tmp)
    else:
        rows.write.mode("append").parquet(path)


def write_checkpoint(spark: SparkSession, df: DataFrame, out_dir: str, table: str,
                     stage: str, mode: str = "append") -> None:
    """Write bucketed parquet + lineage. Data first, lineage last: a crash
    between the two re-does the bucket on resume. To keep the re-do
    idempotent in append mode, the bucket's directory (possibly holding
    partial files from the crashed attempt) is cleared before rewriting —
    the parquet analog of Iceberg's overwrite-by-partition commit."""
    bucketed = df if "bucket" in df.columns else with_bucket(df)
    table_path = os.path.join(out_dir, table)
    if mode == "append" and os.path.exists(table_path):
        # checkpoint first so the distinct-buckets probe and the write share
        # one computation (cluster deployment: sparkContext.setCheckpointDir
        # + .checkpoint() instead of localCheckpoint)
        bucketed = bucketed.localCheckpoint(eager=False)
        todo = [r["bucket"] for r in bucketed.select("bucket").distinct().collect()]
        for b in todo:
            shutil.rmtree(os.path.join(table_path, f"bucket={b}"), ignore_errors=True)
    bucketed.write.mode(mode).partitionBy("bucket").parquet(table_path)
    _append_lineage(
        spark, out_dir, lineage_rows(bucketed, stage),
        replace_stage=stage if mode == "overwrite" else None,
    )
