"""Scalable global row numbering.

`row_number().over(Window.orderBy(...))` with no partitionBy funnels the
whole dataset through ONE task — correct at test scale, a wall at 100 TB.
This operator computes identical ids in two scalable phases:

1. range-repartition on the sort key (samples ranges, so partitions are
   globally ordered), then per-partition local row_number via
   mapInPandas-free SQL (spark_partition_id + window within partition);
2. broadcast the per-partition row counts and add the exclusive prefix
   sum as an offset.

Result is bit-identical to the single-partition window (same total
order), verified against the DuckDB oracle by the vocab_rank query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def global_row_number(
    df: DataFrame,
    order: list[Column],
    out_col: str = "rn",
    num_partitions: int | None = None,
    small_threshold: int = 100_000,
) -> DataFrame:
    """Append 1-based global row number under the given total order.
    `order` must be a deterministic total order (include a tiebreak).

    Size-adaptive: at or below `small_threshold` rows a plain global
    window is cheaper (the two-phase plan's extra shuffle + counts
    collect is pure overhead on small inputs); above it, the two-phase
    range-partitioned plan avoids the single-task window.

    The input is materialized ONCE (localCheckpoint) before the size
    probe: `df` is typically an aggregation over corpus-scale data
    (e.g. the vocabulary frequency table), and without the checkpoint
    the probe count AND every downstream consumer of the ranked output
    re-ran that full upstream aggregation — token_lookup_fallback paid
    the corpus scan+agg three times (probe + both broadcast builds of
    the ranked vocab). The checkpoint stores only the ranked table's
    input (vocabulary-sized here), and the probe's count is then a
    cache read. Lifecycle: the checkpointed RDD is sized to the ranked
    table (vocabulary-scale here) and is reclaimed by the
    ContextCleaner once the returned DataFrame is garbage-collected —
    callers need no explicit unpersist (unlike the `corpus_cached`
    builders, whose corpus-keyed entries outlive any one query and
    therefore need explicit eviction).

    localCheckpoint cannot be replayed: its lineage is cut, so a lost
    executor fails the job instead of recomputing. Accepted because the
    input is vocabulary-sized and the job short — a rare rerun costs less
    than re-running the corpus aggregation per consumer, and a reliable
    checkpoint would need a shared checkpoint directory."""
    df = df.localCheckpoint(eager=True)
    probe = df.limit(small_threshold + 1).count()
    if probe <= small_threshold:
        w = W.orderBy(*order)
        return df.withColumn(out_col, F.row_number().over(w).cast("long"))
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *order)
    pid = F.spark_partition_id().alias("_pid")
    local_w = W.partitionBy("_pid").orderBy(*order)
    local = (
        ranged.withColumn("_pid", pid)
        .withColumn("_local_rn", F.row_number().over(local_w))
        .persist()
    )
    counts = (
        local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt")).collect()
    )
    offsets = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["_cnt"]
    offset_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    return (
        local.withColumn(out_col, (F.col("_local_rn") + offset_map[F.col("_pid")]).cast("long"))
        .drop("_pid", "_local_rn")
    )
