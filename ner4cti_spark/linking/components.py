"""Connected components as a DataFrame fixpoint (no GraphFrames here).

Alternating min-label propagation: each node's label becomes the min of
its own and its neighbors' labels, iterated to fixpoint. Alias clusters
have tiny diameter (≤ ~4), so convergence is a handful of rounds; each
round is one shuffle (groupBy node). `localCheckpoint` truncates the
iterative lineage so plans stay bounded — the same loop runs unchanged
on a real cluster (checkpoint dir instead of local).

SURVEY §4.2: "GraphFrames if available; else a small iterative DataFrame
label-propagation loop (join+min-agg until fixpoint)".

Below the size gates everything runs on the driver over one array
union-find core (`union_find`): `connected_components` for collected
edge lists, and `canonicalize_local` for the pipeline's collected
surface vocabulary.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


DRIVER_THRESHOLD = 2_000_000

# alias table: one row per distinct (etype, surface) of the linked vocabulary
ENTITY_SCHEMA = "entity_id long, canonical string, etype string, alias string"


def connected_components(edges: DataFrame, max_iter: int = 20,
                         n_partitions: int = 8,
                         driver_threshold: int = DRIVER_THRESHOLD) -> DataFrame:
    """edges(src long, dst long) undirected → (node long, component long),
    component = min reachable node id. Deterministic.

    Physical strategy is size-adaptive, like AQE picking a broadcast
    join: alias graphs are vocabulary-sized (distinct linked surfaces),
    orders of magnitude below corpus scale, so up to `driver_threshold`
    edges they are collected and solved with driver union-find in
    milliseconds — ~10 distributed rounds of shuffle latency buy nothing
    there. Above the threshold the distributed min-label fixpoint with
    pointer jumping runs (O(log diameter) rounds)."""
    # single probe job, collected through Arrow: up to threshold+1 edges
    # arrive as two int64 columns, not as that many driver-side Row
    # objects; only if the graph exceeds the threshold does the
    # distributed fixpoint run (and the collected prefix is discarded)
    pdf = edges.select("src", "dst").limit(driver_threshold + 1).toPandas()
    if len(pdf) <= driver_threshold:
        return _driver_union_find(edges.sparkSession, pdf["src"].to_numpy(np.int64),
                                  pdf["dst"].to_numpy(np.int64))
    return _distributed_cc(edges, max_iter, n_partitions)


def union_find(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Union-find on an undirected edge list → (nodes, component): the
    sorted distinct endpoints and, aligned with them, the min node id
    reachable from each. A self-edge (a, a) adds the isolated node a."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(src.tolist(), dst.tolist()):
        a, b = find(a), find(b)
        if a != b:
            if a < b:
                parent[b] = a
            else:
                parent[a] = b
    nodes = np.unique(np.concatenate([src, dst]))
    comp = np.array([find(n) for n in nodes.tolist()], dtype=np.int64)
    return nodes, comp


def _driver_union_find(spark, src: np.ndarray, dst: np.ndarray) -> DataFrame:
    """Union-find on a collected edge list — the same (node, component =
    min reachable node id) output as _distributed_cc."""
    nodes, comp = union_find(src, dst)
    # one Arrow batch, not a row-by-row pickle through the JVM gateway
    pdf = pd.DataFrame({"node": nodes, "component": comp})
    return local_frame(spark, "node long, component long", pdf)


def _distributed_cc(edges: DataFrame, max_iter: int, n_partitions: int) -> DataFrame:
    """edges(src long, dst long) undirected → (node long, component long)
    where component = min node id reachable. Deterministic.

    Min-label propagation accelerated with pointer jumping
    (component ← component-of-component each round), so convergence is
    O(log diameter) rounds instead of O(diameter). The graph here is
    vocabulary-sized (distinct surfaces), so every round is pinned to a
    small fixed partition count — per-round latency, not data volume,
    is the cost driver, and running it at corpus-wide parallelism only
    adds scheduling overhead."""
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition(n_partitions, "src")
        .localCheckpoint(eager=True)
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = nodes.withColumn("component", F.col("node"))
    labels = labels.coalesce(n_partitions).localCheckpoint(eager=True)
    for _ in range(max_iter):
        # 1) neighbor min: smallest label among each node's neighbors
        nbr = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("component"))
        )
        merged = (
            labels.select("node", "component")
            .union(nbr)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # 2) pointer jump: follow component → its component (path halving)
        jump = merged.select(
            F.col("node").alias("jnode"), F.col("component").alias("jcomp")
        )
        new_labels = (
            merged.join(jump, merged.component == jump.jnode, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("jcomp", F.col("component"))
                ).alias("component"),
            )
            .coalesce(n_partitions)
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def canonicalize(surfaces: DataFrame, pairs: DataFrame) -> DataFrame:
    """surfaces(etype, surface, freq) + linked pairs → alias table
    (entity_id, canonical, etype, alias).

    `surfaces` is the distinct surface vocabulary (pre-aggregated once by
    the caller and cached — every downstream action here would otherwise
    re-shuffle the corpus-scale mention table). The canonical surface of
    a component is its most frequent alias (freq desc, surface asc
    tiebreak). Singleton surfaces form their own entity.
    `canonicalize_local` is the driver twin of this function."""
    from pyspark.sql import Window as W

    from ..linking.minhash_lsh import normalize_surface

    surf = surfaces.select("etype", "surface", "freq")
    # node id = xxhash64(etype, NORMALIZED surface): deterministic,
    # shuffle-free to assign (no global row_number funnel), AND it folds
    # exact-normalization linking into the id itself — 'APT 28'/'APT-28'/
    # 'apt28' share a node with no edge generation at all. Only fuzzy
    # LSH pairs need explicit edges.
    ids = surf.withColumn("node", F.xxhash64("etype", normalize_surface(F.col("surface"))))
    a = ids.select("etype", F.col("surface").alias("surface_a"), F.col("node").alias("src"))
    b = ids.select("etype", F.col("surface").alias("surface_b"), F.col("node").alias("dst"))
    edges = (
        pairs.join(a, ["etype", "surface_a"]).join(b, ["etype", "surface_b"])
        .select("src", "dst")
        .persist()
    )
    comp = connected_components(edges)
    edges.unpersist(blocking=False)
    labeled = (
        ids.join(comp, ids.node == comp.node, "left")
        .select(
            "etype", "surface", "freq", ids.node.alias("node"),
            F.coalesce(comp.component, ids.node).alias("component"),
        )
    )
    pick = W.partitionBy("component").orderBy(F.desc("freq"), F.asc("surface"))
    canon = labeled.withColumn("canonical", F.first("surface").over(pick))
    return canon.select(
        F.col("component").alias("entity_id"), "canonical", "etype",
        F.col("surface").alias("alias"),
    )


def canonicalize_local(vocab: pd.DataFrame, src: np.ndarray,
                       dst: np.ndarray) -> pd.DataFrame:
    """Driver twin of `canonicalize`: vocab(etype, surface, freq, node),
    one row per distinct (etype, surface) with node = xxhash64(etype,
    normalized surface) as Spark computed it, plus node-id edges →
    pandas alias table (entity_id, canonical, etype, alias). Same
    contract: entity_id = min node id in the component, canonical =
    its (freq desc, surface asc) first alias."""
    node = vocab["node"].to_numpy(np.int64)
    # every vocabulary node joins the graph as a self-edge, so singletons
    # come back as their own component
    nodes, comp = union_find(np.concatenate([src, node]), np.concatenate([dst, node]))
    labeled = pd.DataFrame({
        "entity_id": comp[np.searchsorted(nodes, node)],
        "etype": vocab["etype"].to_numpy(object),
        "alias": vocab["surface"].to_numpy(object),
        "freq": vocab["freq"].to_numpy(np.int64),
    })
    canon = (
        labeled.sort_values(["entity_id", "freq", "alias"], ascending=[True, False, True])
        .drop_duplicates("entity_id")
        .set_index("entity_id")["alias"]
    )
    labeled["canonical"] = labeled["entity_id"].map(canon)
    return labeled[["entity_id", "canonical", "etype", "alias"]]
