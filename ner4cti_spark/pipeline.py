"""End-to-end KG construction pipeline.

scan → sha256 → sentencize → salted repartition → tag (mapInPandas,
broadcast weights) → MinHash-LSH linking → connected-component
canonicalization → triples → partitioned write + lineage (resumable).

One DataFrame DAG per stage; the only corpus-scale shuffles are the
salted repartition before tagging and the per-sentence groupBy for
co-occurrence. Linking and canonicalization operate on the distinct
surface vocabulary (orders of magnitude smaller than the corpus) and
re-attach via broadcast joins.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from . import graph, lineage
from .kernel.weights import FAST, KernelProfile, build_weights
from .linking.components import canonicalize
from .linking.minhash_lsh import candidate_pairs_sql
from .operators.sentencize import sentencize, with_sha256
from .tagging import salted_repartition, tag_mentions


@dataclass
class PipelineConfig:
    neural_scale: float = 0.0
    decode: str = "viterbi"
    link_threshold: float = 0.5
    num_partitions: int = 0          # 0 → default parallelism
    salt_buckets: int = 64
    sent_cache: bool = True          # executor-local exact-sentence dedup
    profile: KernelProfile = FAST


def broadcast_weights(spark: SparkSession, cfg: PipelineConfig):
    return spark.sparkContext.broadcast(build_weights(cfg.profile))


def extract_mentions(spark: SparkSession, corpus: DataFrame, cfg: PipelineConfig,
                     weights_bc=None, out_dir: str | None = None) -> DataFrame:
    """Sentencize + tag. With out_dir: resume-aware — buckets already in
    the tag-stage lineage are skipped BEFORE any model compute runs."""
    bc = weights_bc or broadcast_weights(spark, cfg)
    sents = sentencize(with_sha256(corpus))
    if out_dir is not None:
        sents = lineage.filter_resumable(
            spark, lineage.with_bucket(sents), out_dir, stage="tag"
        )
    # 1× defaultParallelism, not 2× (r6): the tag kernel is a
    # mapInPandas whose per-task cost amortizes over batch size — at
    # 2× the salted repartition halves every Arrow batch for no skew
    # benefit (hot-repo spreading comes from the SALT, not the
    # multiplier), measured 8.5 → 7.3s on the sf0.1 pipeline. Scale
    # posture unchanged: the count tracks cluster parallelism, and
    # deployments that want finer tasks for straggler smoothing set
    # cfg.num_partitions explicitly.
    n_part = cfg.num_partitions or spark.sparkContext.defaultParallelism
    sents = salted_repartition(sents, n_part, cfg.salt_buckets)
    mentions = tag_mentions(
        sents.drop("bucket"), bc, neural_scale=cfg.neural_scale, decode=cfg.decode,
        sent_cache=cfg.sent_cache,
    )
    return mentions


def link_entities(mentions: DataFrame, cfg: PipelineConfig,
                  stats: dict | None = None) -> DataFrame:
    """Edges = exact-normalized equality (all etypes) ∪ MinHash-LSH fuzzy
    pairs (named etypes only — indicators/CVEs are identities).

    The distinct-surface vocabulary is aggregated from the corpus-scale
    mention table exactly ONCE and cached; every linking stage reads the
    cache (orders of magnitude smaller than the corpus). No blocking
    action runs here — the caller's first action on the result (e.g.
    entities.cache().count()) materializes the whole chain in one job,
    and that count is exactly the alias-table row count (distinct mention
    surfaces plus any hint bridge nodes — canonical forms never observed
    verbatim), which is the right number for link_mentions' broadcast
    decision. The old separate agg.count() probe serialized an extra
    corpus-scale job into the pipeline tail."""
    from pyspark.sql import functions as F

    has_hints = "canonical_hint" in mentions.columns
    hint_col = F.col("canonical_hint") if has_hints else F.lit(None).cast("string")
    agg = mentions.groupBy("etype", "surface").agg(
        F.count(F.lit(1)).alias("freq"),
        F.max(hint_col).alias("hint"),  # hints are phrase-deterministic
    ).persist()
    if stats is not None:
        stats["surface_agg"] = agg
    # node set = mention surfaces ∪ hint targets (a hint may name a
    # canonical form that never appears verbatim in the corpus — it then
    # acts purely as a bridge node with freq 0, so canonical selection
    # still prefers an actually-observed surface)
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
    # edges: knowledge prior (surface ↔ its gazetteer/lexicon canonical,
    # e.g. 'Sofacy' ↔ 'APT28') ∪ MinHash-LSH fuzzy pairs; exact-normalized
    # equality is folded into canonicalize's node ids
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
    fuzzy = candidate_pairs_sql(surfaces, sim_threshold=cfg.link_threshold)
    pairs = hint_pairs.unionByName(fuzzy).dropDuplicates(["etype", "surface_a", "surface_b"])
    return canonicalize(surfaces, pairs, stats=stats)


def run_pipeline(spark: SparkSession, corpus: DataFrame,
                 cfg: PipelineConfig | None = None,
                 out_dir: str | None = None,
                 weights_bc=None) -> dict[str, DataFrame]:
    """Returns {'mentions', 'entities', 'triples'} DataFrames.

    With out_dir: the tag stage checkpoints per-bucket (resume-aware,
    append); linking/canonicalize/materialize are global functions of the
    full mentions checkpoint and are recomputed with overwrite semantics
    — see lineage.py module docstring for why the split lands there."""
    import os

    from .tagging import MENTION_SCHEMA

    cfg = cfg or PipelineConfig()
    if out_dir is not None:
        new_mentions = extract_mentions(spark, corpus, cfg, weights_bc=weights_bc,
                                        out_dir=out_dir)
        lineage.write_checkpoint(
            spark, new_mentions, out_dir, table="mentions", stage="tag", mode="append"
        )
        mentions_path = f"{out_dir}/mentions"
        if os.path.exists(mentions_path):
            mentions = spark.read.parquet(mentions_path).drop("bucket")
        else:  # empty corpus: partitioned write of zero rows creates no dir
            mentions = spark.createDataFrame([], MENTION_SCHEMA)
    else:
        mentions = extract_mentions(spark, corpus, cfg, weights_bc=weights_bc).cache()
    stats: dict = {}
    entities = link_entities(mentions, cfg, stats=stats).cache()
    # alias-table row count (distinct surfaces + hint bridge nodes) — the
    # exact quantity link_mentions' broadcast-vs-shuffle choice needs —
    # comes from canonicalize's CC probe job (piggybacked 1-row count),
    # so NO separate entities.count() job serializes into the tail; the
    # caller's first action on triples materializes the (cached) linking
    # chain, reading the still-persisted surface aggregation.
    n_alias_rows = stats.get("n_surfaces")
    if n_alias_rows is None:  # defensive: canonicalize probe skipped
        n_alias_rows = entities.count()
    linked = graph.link_mentions(mentions, entities, alias_count=n_alias_rows)
    triples = graph.build_triples(linked, entities)
    if out_dir is not None:
        lineage.write_checkpoint(
            spark, triples, out_dir, table="triples", stage="materialize", mode="overwrite"
        )
        triples = spark.read.parquet(f"{out_dir}/triples").drop("bucket")
        if "surface_agg" in stats:  # triples are materialized: safe to free
            stats["surface_agg"].unpersist(blocking=False)
    out = {"mentions": mentions, "entities": entities, "triples": triples}
    if out_dir is None and "surface_agg" in stats:
        # lazy path: the persisted surface aggregation must survive until
        # the caller's first action populates the entities cache; hand the
        # handle back so callers that unpersist their outputs free it too
        out["_surface_agg"] = stats["surface_agg"]
    return out
