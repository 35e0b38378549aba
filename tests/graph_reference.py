"""Spark SQL reference for the triple emission.

`reference_triples` is the triple construction the engine used before
sentence-nested mentions: a left join of every flat mention to the alias
table, then the per-mention families from one array-of-structs explode,
co-occurrence from a groupBy on the sentence key, same_as from the alias
table, and one dropDuplicates. The engine's emission
(`graph.emit_triples`, behind `graph.sentence_triples` and
`graph.build_triples`) works per sentence row in Python; tests require
the same (subj, pred, obj) set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def reference_triples(mentions: DataFrame, entities: DataFrame) -> DataFrame:
    """Flat mentions (`tagging.MENTION_SCHEMA`) + alias table → triples."""
    alias_tbl = entities.select("etype", F.col("alias").alias("surface"), "canonical")
    m = mentions.join(alias_tbl, ["etype", "surface"], "left").withColumn(
        "canonical", F.coalesce("canonical", "surface")
    )
    fam = F.array(
        F.struct(
            F.concat_ws("@", F.col("repo"), F.col("path"), F.col("commit")).alias("subj"),
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
    per_mention_t = m.select(F.explode(fam).alias("t"), "repo", "commit", "sha256").select(
        F.col("t.subj").alias("subj"),
        F.col("t.pred").alias("pred"),
        F.col("t.obj").alias("obj"),
        "repo", "commit", "sha256",
    )
    same_as_t = entities.filter(F.col("alias") != F.col("canonical")).select(
        F.col("alias").alias("subj"),
        F.lit("same_as").alias("pred"),
        F.col("canonical").alias("obj"),
        F.lit(None).cast("string").alias("repo"),
        F.lit(None).cast("string").alias("commit"),
        F.lit(None).cast("string").alias("sha256"),
    )
    per_sent = (
        m.groupBy("repo", "path", "commit", "sha256", "sent_id")
        .agg(F.sort_array(F.collect_set("canonical")).alias("ents"))
        .filter(F.size("ents") >= 2)
    )
    cooc_t = per_sent.select(
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
    ).select(
        F.col("pair.subj").alias("subj"),
        F.lit("co_occurs_with").alias("pred"),
        F.col("pair.obj").alias("obj"),
        "repo", "commit", "sha256",
    )
    cols = ["subj", "pred", "obj", "repo", "commit", "sha256"]
    return (
        per_mention_t.select(cols)
        .unionByName(same_as_t.select(cols))
        .unionByName(cooc_t.select(cols))
        .dropDuplicates(["subj", "pred", "obj"])
    )
