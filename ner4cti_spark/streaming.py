"""Structured Streaming surface.

The reference is batch-only (SURVEY §2.10); the engine's incremental
path is Iceberg-checkpoint batch resume. This module provides the
streaming mapping for sources that ARE streams:

- stream_corpus_mentions: file-source corpus → sentencize → tag
  (foreachBatch reuses the exact batch operators — one code path) →
  flat mention rows → append parquet, at most default-parallelism files
  per micro-batch, Trigger.AvailableNow for catch-up-then-stop.
- windowed_event_counts: event-time tumbling-window aggregation with
  watermark for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.sentencize import sentencize, with_sha256
from .tagging import flatten_mentions, tag_sentences


def stream_corpus_mentions(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    weights_bc,
    neural_scale: float = 0.0,
) -> None:
    """Incrementally tag corpus parquet files as they land. foreachBatch
    applies the SAME batch operators (sentencize → tag_sentences →
    flatten_mentions, the flat view of the tag stage's sentence rows), so
    streaming and batch can never drift semantically. AvailableNow
    processes the backlog and stops — the streaming analog of the
    resumable batch job (source progress tracked in the stream checkpoint
    instead of the lineage table).

    Each micro-batch writes at most defaultParallelism files instead of
    one small file per read task, however large its backlog: a coalesce
    on the write path only. It merges tasks without a shuffle, and the
    tag stage still runs as many tasks at once as there are cores."""
    n_files = spark.sparkContext.defaultParallelism
    corpus_stream = (
        spark.readStream.schema(
            "repo string, path string, commit string, lang string, content string"
        ).parquet(source_dir)
    )

    def process(batch_df: DataFrame, _batch_id: int) -> None:
        mentions = flatten_mentions(tag_sentences(
            sentencize(with_sha256(batch_df)), weights_bc, neural_scale=neural_scale
        ))
        mentions.coalesce(n_files).write.mode("append").parquet(out_dir)

    (
        corpus_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling windows with a late-data watermark. Works on
    both a streaming and a batch DataFrame (same expression) — tests
    compare the two for equality."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stateful_user_totals(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "user_totals",
):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals maintained in GroupState across micro-batches
    (maxFilesPerTrigger=1 forces multiple batches so state carry-over is
    actually exercised). Update-mode memory sink; the final row per user
    equals the batch groupBy — tested.

    This is the engine's template for custom stateful ops the built-in
    aggregations can't express (e.g. per-entity mention accumulators with
    custom eviction)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(source_dir)
    )

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [user_id], "n_events": [n],
                            "sum_value": [round(total, 4)]})

    out = events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # final state per user = last emitted update
    from pyspark.sql import Window as W

    snap = spark.table(query_name)
    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        snap.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("user_id", "n_events", "sum_value")
    )
