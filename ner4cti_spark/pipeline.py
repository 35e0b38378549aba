"""End-to-end KG construction pipeline.

scan → sha256 → sentencize → salted repartition → tag (mapInPandas,
broadcast weights; one row per sentence with its mentions as arrays) →
[checkpoint of those rows + lineage (resumable)] → MinHash-LSH linking →
connected-component canonicalization → triples (one mapInPandas over the
sentence rows) → [partitioned write + lineage].

One DataFrame DAG per stage, the same in memory and checkpointed (the
checkpoint holds the sentence rows that memory caches). The only
corpus-scale shuffles are the salted repartition before tagging and the
final triple dedup: the tag stage already emits each sentence's mentions
together, so co-occurrence needs no regroup, and the alias table reaches
the triple emission as a broadcast dict: no mention↔alias join.
Linking and canonicalization operate on the distinct surface vocabulary
(orders of magnitude smaller than the corpus), aggregated from the flat
`mentions` view of the sentence rows. `link_entities` is eager
and size-adaptive: up to components.DRIVER_THRESHOLD surfaces and
DRIVER_FUZZY_SURFACES fuzzy-etype surfaces it runs as one Spark job (an
Arrow collect of the vocabulary) plus driver MinHash, union-find and
canonical pick; above that gate it runs the distributed
`candidate_pairs_sql` + `canonicalize` path.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import graph, lineage
from .kernel.weights import FAST, KernelProfile, build_weights
from .linking.components import (
    DRIVER_THRESHOLD, ENTITY_SCHEMA, canonicalize, canonicalize_local,
)
from .linking.minhash_lsh import (
    FUZZY_ETYPES, candidate_pairs_local, candidate_pairs_sql, normalize_surface,
)
from .operators.sentencize import sentencize, with_sha256
from .session import local_frame
from .tagging import SENTENCE_SCHEMA, flatten_mentions, salted_repartition, tag_sentences


@dataclass
class PipelineConfig:
    neural_scale: float = 0.0
    decode: str = "viterbi"
    link_threshold: float = 0.5
    num_partitions: int = 0          # 0 → default parallelism
    sent_cache: bool = True          # executor-local exact-sentence dedup
    profile: KernelProfile = FAST


def broadcast_weights(spark: SparkSession, cfg: PipelineConfig):
    return spark.sparkContext.broadcast(build_weights(cfg.profile))


def extract_mentions(spark: SparkSession, corpus: DataFrame, cfg: PipelineConfig,
                     weights_bc=None) -> DataFrame:
    """Sentencize + tag → one row per mention (`MENTION_SCHEMA`)."""
    return flatten_mentions(extract_sentences(spark, corpus, cfg, weights_bc))


def extract_sentences(spark: SparkSession, corpus: DataFrame, cfg: PipelineConfig,
                      weights_bc=None) -> DataFrame:
    """Sentencize + tag → one row per sentence with mentions
    (`tagging.SENTENCE_SCHEMA`)."""
    bc = weights_bc or broadcast_weights(spark, cfg)
    sents = sentencize(with_sha256(corpus))
    # 1× defaultParallelism, not 2× (r6): the tag kernel is a
    # mapInPandas whose per-task cost amortizes over batch size — at
    # 2× the salted repartition halves every Arrow batch for no skew
    # benefit (hot-repo spreading comes from the SALT, not the
    # multiplier), measured 8.5 → 7.3s on the sf0.1 pipeline. Scale
    # posture unchanged: the count tracks cluster parallelism, and
    # deployments that want finer tasks for straggler smoothing set
    # cfg.num_partitions explicitly.
    n_part = cfg.num_partitions or spark.sparkContext.defaultParallelism
    sents = salted_repartition(sents, n_part)
    return tag_sentences(
        sents, bc, neural_scale=cfg.neural_scale, decode=cfg.decode,
        sent_cache=cfg.sent_cache,
    )


DRIVER_FUZZY_SURFACES = 100_000
"""Driver linking path cap on distinct fuzzy-etype surfaces (named
entities, the only ones MinHash touches).

Measured on 4 CPUs (local[4], warm JVM), `_link(...)` + count
over synthetic vocabularies of distinct 3-word names built from 16
syllables — a collision-heavy alphabet, so band buckets are large and
candidate pairs grow faster than the vocabulary:

    fuzzy surfaces    driver path    SQL path (driver_threshold=0)
            19,978         3.2 s       17.3 s
            49,890         9.3 s       45.8 s
            99,561        27.3 s      153.6 s

No crossover up to 100k on 4 CPUs: the serial driver path stays ~5×
faster. The cap sits at the largest measured size. Beyond it the
driver's cost is unmeasured and superlinear, while the SQL path's is
parallel: at 100k it ties the driver with ~5.6× these 4 CPUs.
"""


def link_entities(mentions: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Edges = exact-normalized equality (all etypes) ∪ knowledge hints ∪
    MinHash-LSH fuzzy pairs (named etypes only — indicators/CVEs are
    identities) → alias table (entity_id, canonical, etype, alias).

    Eager: the stage runs when called — one Spark job below the driver
    gate (see `_link`, which also returns the table's row count)."""
    return _link(mentions, cfg)[0]


def _link(mentions: DataFrame, cfg: PipelineConfig,
          driver_threshold: int = DRIVER_THRESHOLD
          ) -> tuple[DataFrame, int, pd.DataFrame | None]:
    """→ (alias table, its row count, its pandas copy on the driver or
    None).

    The surface vocabulary is aggregated from the corpus-scale mention
    table and collected through Arrow in ONE job, limited to
    driver_threshold + 1 rows: Spark computes each surface's node id
    xxhash64(etype, normalize_surface(surface)) and its normalized form,
    and the same for its canonical hint, so entity ids are the SQL
    path's bit for bit. If the vocabulary fits (≤ driver_threshold rows,
    ≤ DRIVER_FUZZY_SURFACES fuzzy-etype surfaces), the driver adds hint
    bridge nodes and hint edges, runs MinHash-LSH with exact-Jaccard
    re-scoring (`candidate_pairs_local`), union-find and the canonical
    pick (`canonicalize_local`), and ships the alias table back as one
    Arrow frame, keeping the pandas table for the triple emission's
    alias dict. Nothing is persisted.

    Above the gate the distributed path runs: the aggregation is
    persisted, `candidate_pairs_sql` + `canonicalize` build the alias
    table, which is persisted and counted, and the aggregation is
    unpersisted before returning. `driver_threshold=0` forces that path
    for any non-empty vocabulary."""
    has_hints = "canonical_hint" in mentions.columns
    hint_col = F.col("canonical_hint") if has_hints else F.lit(None).cast("string")
    agg = mentions.groupBy("etype", "surface").agg(
        F.count(F.lit(1)).alias("freq"),
        F.max(hint_col).alias("hint"),  # hints are phrase-deterministic
    )
    probe = agg.select(
        "etype", "surface", "freq", "hint",
        F.xxhash64("etype", normalize_surface(F.col("surface"))).alias("node"),
        normalize_surface(F.col("surface")).alias("norm"),
        F.xxhash64("etype", normalize_surface(F.col("hint"))).alias("hint_node"),
        normalize_surface(F.col("hint")).alias("hint_norm"),
    ).limit(driver_threshold + 1).toPandas()
    if len(probe) <= driver_threshold:
        linked = _link_local(probe, cfg.link_threshold)
        if linked is not None:
            entities = local_frame(mentions.sparkSession, ENTITY_SCHEMA, linked)
            return entities, len(linked), linked
    return (*_link_sql(agg.persist(), cfg.link_threshold), None)


def _link_local(probe: pd.DataFrame, link_threshold: float) -> pd.DataFrame | None:
    """Collected vocabulary → pandas alias table, or None when its
    fuzzy-etype surfaces exceed DRIVER_FUZZY_SURFACES."""
    hinted = probe[probe["hint"].notna()]
    # node set = mention surfaces ∪ hint targets (a hint may name a
    # canonical form that never appears verbatim in the corpus — it then
    # acts purely as a bridge node with freq 0, so canonical selection
    # still prefers an actually-observed surface)
    bridges = pd.DataFrame({
        "etype": hinted["etype"], "surface": hinted["hint"], "freq": 0,
        "node": hinted["hint_node"], "norm": hinted["hint_norm"],
    })
    vocab = (
        pd.concat([probe[["etype", "surface", "freq", "node", "norm"]], bridges])
        .sort_values("freq", kind="stable")
        .drop_duplicates(["etype", "surface"], keep="last")
    )
    fuzzy = vocab[vocab["etype"].isin(FUZZY_ETYPES)].drop_duplicates(["etype", "norm"])
    if len(fuzzy) > DRIVER_FUZZY_SURFACES:
        return None
    # edges: knowledge prior (surface ↔ its gazetteer/lexicon canonical,
    # e.g. 'Sofacy' ↔ 'APT28') ∪ MinHash-LSH fuzzy pairs; exact-normalized
    # equality is folded into the node ids
    keys = list(zip(fuzzy["etype"], fuzzy["norm"]))
    pairs = np.array(candidate_pairs_local(keys, sim_threshold=link_threshold),
                     dtype=np.int64).reshape(-1, 2)
    fnode = fuzzy["node"].to_numpy(np.int64)
    src = np.concatenate([hinted["node"].to_numpy(np.int64), fnode[pairs[:, 0]]])
    dst = np.concatenate([hinted["hint_node"].to_numpy(np.int64), fnode[pairs[:, 1]]])
    return canonicalize_local(vocab, src, dst)


def _link_sql(agg: DataFrame, link_threshold: float) -> tuple[DataFrame, int]:
    """The distributed linking path over the persisted surface
    aggregation (etype, surface, freq, hint), which it unpersists."""
    hint_nodes = (
        agg.filter(F.col("hint").isNotNull())
        .select("etype", F.col("hint").alias("surface"), F.lit(0).alias("freq"))
        .distinct()
    )
    surfaces = (
        agg.select("etype", "surface", "freq")
        .unionByName(hint_nodes)
        .groupBy("etype", "surface")
        .agg(F.max("freq").alias("freq"))
    )
    hint_pairs = (
        agg.filter(F.col("hint").isNotNull() & (F.col("hint") != F.col("surface")))
        .select(
            "etype",
            F.least("surface", "hint").alias("surface_a"),
            F.greatest("surface", "hint").alias("surface_b"),
            F.lit(1.0).alias("jaccard"),
        )
        .distinct()
    )
    fuzzy = candidate_pairs_sql(surfaces, sim_threshold=link_threshold)
    pairs = hint_pairs.unionByName(fuzzy).dropDuplicates(["etype", "surface_a", "surface_b"])
    entities = canonicalize(surfaces, pairs).persist()
    n_aliases = entities.count()
    agg.unpersist(blocking=False)
    return entities, n_aliases


def run_pipeline(spark: SparkSession, corpus: DataFrame,
                 cfg: PipelineConfig | None = None,
                 out_dir: str | None = None,
                 weights_bc=None) -> dict[str, DataFrame]:
    """Returns {'sentences', 'mentions', 'entities', 'triples'} DataFrames.

    `sentences` are the tag stage's rows (one per sentence with mentions),
    `mentions` their flat view, and `triples` come from them. Without
    out_dir the sentence rows come back cached and `triples` are lazy.
    With out_dir the tag stage appends its sentence rows per bucket to the
    `mentions` table (resume-aware) and `sentences` reads it back;
    linking/canonicalize/materialize are global functions of the whole
    checkpoint, recomputed with overwrite semantics — see lineage.py
    module docstring for why the split lands there. Entities are
    persisted only above the linking gate. Unpersisting the returned
    frames frees everything the run persisted. The alias-dict broadcast
    is destroyed once the triples are written; in memory it lives as long
    as the lazy triples' plan."""
    cfg = cfg or PipelineConfig()
    if out_dir is not None:
        todo = lineage.filter_resumable(corpus, out_dir, stage="tag")
        lineage.write_checkpoint(
            spark, extract_sentences(spark, todo, cfg, weights_bc=weights_bc), out_dir,
            table="mentions", stage="tag", mode="append",
        )
        sentences = lineage.read_checkpoint(spark, out_dir, "mentions", SENTENCE_SCHEMA)
    else:
        sentences = extract_sentences(spark, corpus, cfg, weights_bc=weights_bc).cache()
    mentions = flatten_mentions(sentences)
    # eager: the alias-table row count — the exact quantity the
    # broadcast-vs-shuffle choice needs — comes back with it
    entities, n_alias_rows, aliases = _link(mentions, cfg)
    triples, aliases_bc = graph.sentence_triples(
        sentences, entities, alias_count=n_alias_rows, aliases=aliases
    )
    if out_dir is not None:
        lineage.write_checkpoint(
            spark, triples, out_dir, table="triples", stage="materialize", mode="overwrite"
        )
        if aliases_bc is not None:
            aliases_bc.destroy()
        triples = lineage.read_checkpoint(spark, out_dir, "triples", graph.TRIPLE_SCHEMA)
    return {"sentences": sentences, "mentions": mentions, "entities": entities,
            "triples": triples}
