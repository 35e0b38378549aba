"""PageRank over the entity co-occurrence graph — DataFrame power
iteration (the GraphFrames-free analog, like components.py).

Each iteration is one join + one aggregation; ranks and the (static)
out-degree edge table stay partitioned on the same key, so iterations
reuse the exchange. Dangling mass is redistributed uniformly, matching
the standard formulation; deterministic for a fixed iteration count.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .components import DRIVER_THRESHOLD


def pagerank(edges: DataFrame, damping: float = 0.85, n_iter: int = 15,
             n_partitions: int = 8,
             driver_threshold: int = DRIVER_THRESHOLD) -> DataFrame:
    """edges(src long, dst long) directed → (node long, rank double),
    ranks summing to ~1. Undirected graphs: pass both directions.

    Physical strategy is size-adaptive, same discipline as
    components.connected_components: the graphs this engine ranks are
    vocabulary-sized (entity co-occurrence over distinct canonical
    surfaces), orders of magnitude below corpus scale. Up to
    `driver_threshold` edges one probe job collects the edge list and
    the power iteration runs as numpy vector ops in milliseconds —
    n_iter distributed rounds of join+agg+checkpoint latency buy
    nothing there (measured r6: 5.7s → ~0.5s on the 1000-node oracle
    graph, ~8 serialized jobs per iteration eliminated). Above the
    threshold the distributed join+aggregation loop runs unchanged.
    Both paths compute the identical recurrence
    rank = (1-d)/n + d*(inflow + dangling/n); consumers round at 1e-6
    (oracle query) / 1e-8 (entity ranks), which absorbs float
    summation-order differences exactly as it already must between
    Spark's nondeterministic shuffle-merge order and the DuckDB oracle.
    """
    # size probe through Arrow: up to threshold+1 edges arrive as two
    # int64 columns, not as that many driver-side Row objects
    pdf = edges.select("src", "dst").limit(driver_threshold + 1).toPandas()
    if len(pdf) <= driver_threshold:
        return _driver_pagerank(edges.sparkSession, pdf["src"].to_numpy(np.int64),
                                pdf["dst"].to_numpy(np.int64), damping, n_iter)
    return _distributed_pagerank(edges, damping, n_iter, n_partitions)


def _driver_pagerank(spark, src: np.ndarray, dst: np.ndarray, damping: float,
                     n_iter: int) -> DataFrame:
    """numpy power iteration on a collected edge list — identical
    recurrence to _distributed_pagerank, vectorized."""
    if not len(src):
        return local_frame(spark, "node long, rank double")
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(nodes)
    si, di = inv[: len(src)], inv[len(src) :]
    deg = np.bincount(si, minlength=n).astype(np.float64)
    w = 1.0 / deg[si]
    ranks = np.full(n, 1.0 / n, dtype=np.float64)
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        inflow = np.zeros(n, dtype=np.float64)
        np.add.at(inflow, di, ranks[si] * w)
        dangling = 1.0 - inflow.sum()
        ranks = base + damping * (inflow + dangling / n)
    # one Arrow batch, not a row-by-row pickle through the JVM gateway
    import pandas as pd

    pdf = pd.DataFrame({"node": nodes.astype("int64"), "rank": ranks})
    return local_frame(spark, "node long, rank double", pdf)


def _distributed_pagerank(edges: DataFrame, damping: float, n_iter: int,
                          n_partitions: int) -> DataFrame:
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(n_partitions, "node")
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    contrib_edges = (
        edges.join(out_deg, "src")
        .select("src", "dst", (1.0 / F.col("deg")).alias("w"))
        .repartition(n_partitions, "src")
        .localCheckpoint(eager=True)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        contrib = (
            contrib_edges.join(ranks, contrib_edges.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("rank") * F.col("w")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        ).persist()
        # dangling mass = rank held by nodes with no outgoing edges. Ranks
        # sum to exactly 1 each iteration (n·base + d·(inflow+dangling) =
        # (1−d) + d·1), so dangling = 1 − Σ inflow — computed INSIDE the
        # plan as a broadcast 1-row aggregate instead of a per-iteration
        # driver collect (the old left-anti + collect serialized 15 small
        # blocking jobs into the pipeline tail).
        total_in = F.broadcast(
            contrib.agg(F.coalesce(F.sum("inflow"), F.lit(0.0)).alias("_total_in"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(total_in)
            .select(
                "node",
                (
                    F.lit(base)
                    + damping * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + (1.0 - F.col("_total_in")) / n
                    )
                ).alias("rank"),
            )
            .repartition(n_partitions, "node")
            .localCheckpoint(eager=True)
        )
        contrib.unpersist(blocking=False)
    return ranks


def entity_pagerank(triples: DataFrame, **kw) -> DataFrame:
    """Rank canonical entities by co-occurrence centrality: the
    co_occurs_with triples as an undirected graph, node ids hashed."""
    cooc = triples.filter(F.col("pred") == "co_occurs_with").select(
        F.xxhash64("subj").alias("src"), F.xxhash64("obj").alias("dst"),
        F.col("subj").alias("s_name"), F.col("obj").alias("o_name"),
    )
    edges = (
        cooc.select("src", "dst")
        .union(cooc.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    names = (
        cooc.select(F.col("src").alias("node"), F.col("s_name").alias("entity"))
        .union(cooc.select(F.col("dst").alias("node"), F.col("o_name").alias("entity")))
        .distinct()
    )
    ranks = pagerank(edges, **kw)
    return (
        ranks.join(names, "node")
        .select("entity", (F.floor(F.col("rank") * 1e8 + 0.5) / 1e8).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("entity"))
    )
