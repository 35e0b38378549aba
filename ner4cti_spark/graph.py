"""Triple materialization: mentions + entities → (subj, pred, obj).

Predicates per FIXTURES.md §6: mentions / same_as / co_occurs_with /
has_type / found_in_repo. All joins here are broadcast joins — the alias
table is vocabulary-sized (distinct surfaces), never corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TRIPLE_SCHEMA = (
    "subj string, pred string, obj string, repo string, commit string, sha256 string"
)


def doc_uri() -> "F.Column":
    return F.concat_ws("@", F.col("repo"), F.col("path"), F.col("commit"))


def link_mentions(mentions: DataFrame, entities: DataFrame,
                  broadcast_threshold: int = 5_000_000,
                  alias_count: int | None = None) -> DataFrame:
    """Attach canonical entity to each mention via the alias table.

    Size-adaptive join strategy: the alias table is vocabulary-sized for
    named entities but grows with the corpus for indicators (hashes, IPs
    are near-unique). Below the threshold it broadcasts (no shuffle of
    the corpus-scale mention table); above, the hint is dropped and
    Catalyst/AQE pick a shuffle join — at that size the broadcast would
    not fit executors anyway."""
    alias_tbl = entities.select(
        "etype", F.col("alias").alias("surface"), "canonical", "entity_id"
    )
    # entities has exactly one row per distinct surface, so callers that
    # already counted the surface vocabulary can pass it and skip a job
    n = alias_count if alias_count is not None else alias_tbl.limit(
        broadcast_threshold + 1).count()
    if n <= broadcast_threshold:
        alias_tbl = F.broadcast(alias_tbl)
    return mentions.join(alias_tbl, ["etype", "surface"], "left").withColumn(
        "canonical", F.coalesce("canonical", "surface")
    )


def build_triples(linked: DataFrame, entities: DataFrame) -> DataFrame:
    """Union of predicate families, all distinct, with provenance.

    The three per-mention families (mentions / has_type / found_in_repo)
    are emitted from ONE scan of the corpus-scale linked table via an
    array-of-structs explode — three separate projections unioned would
    make Spark recompute the mention↔alias join once per family (the
    join output is not materialized), tripling the dominant read at
    corpus scale. Only the per-sentence co-occurrence aggregation needs
    a second pass (different shape: groupBy sentence).

    Determinism contract: the (subj, pred, obj) SET is deterministic
    (asserted by test_parallelism_invariance); the provenance columns
    on a deduplicated triple come from an arbitrary witness mention
    (dropDuplicates keeps the first row per key in partition order), so
    repo/commit/sha256 may differ between runs for triples with
    multiple witnesses."""
    m = linked
    fam = F.array(
        F.struct(
            doc_uri().alias("subj"),
            F.lit("mentions").alias("pred"),
            F.col("canonical").alias("obj"),
        ),
        F.struct(
            F.col("canonical").alias("subj"),
            F.lit("has_type").alias("pred"),
            F.col("etype").alias("obj"),
        ),
        F.struct(
            F.col("canonical").alias("subj"),
            F.lit("found_in_repo").alias("pred"),
            F.col("repo").alias("obj"),
        ),
    )
    per_mention_t = (
        m.select(F.explode(fam).alias("t"), "repo", "commit", "sha256")
        .select(
            F.col("t.subj").alias("subj"),
            F.col("t.pred").alias("pred"),
            F.col("t.obj").alias("obj"),
            "repo", "commit", "sha256",
        )
    )
    same_as_t = (
        entities.filter(F.col("alias") != F.col("canonical"))
        .select(
            F.col("alias").alias("subj"),
            F.lit("same_as").alias("pred"),
            F.col("canonical").alias("obj"),
            F.lit(None).cast("string").alias("repo"),
            F.lit(None).cast("string").alias("commit"),
            F.lit(None).cast("string").alias("sha256"),
        )
    )
    # co-occurrence within a sentence: self-join on sentence key over the
    # (small) per-sentence distinct canonical sets via collect_set — avoids
    # a corpus-scale self-join; sentences have few mentions each.
    per_sent = (
        m.groupBy("repo", "path", "commit", "sha256", "sent_id")
        .agg(F.sort_array(F.collect_set("canonical")).alias("ents"))
        .filter(F.size("ents") >= 2)
    )
    cooc_t = (
        per_sent.select(
            "repo", "commit", "sha256",
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ents"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ents"), i + F.lit(2), F.size("ents")),
                            lambda y: F.struct(x.alias("subj"), y.alias("obj")),
                        ),
                    )
                )
            ).alias("pair"),
        )
        .select(
            F.col("pair.subj").alias("subj"),
            F.lit("co_occurs_with").alias("pred"),
            F.col("pair.obj").alias("obj"),
            "repo", "commit", "sha256",
        )
    )
    cols = ["subj", "pred", "obj", "repo", "commit", "sha256"]
    out = (
        per_mention_t.select(cols)
        .unionByName(same_as_t.select(cols))
        .unionByName(cooc_t.select(cols))
        .dropDuplicates(["subj", "pred", "obj"])
    )
    return out
