"""Triple materialization: sentence-nested mentions + alias table →
(subj, pred, obj) with provenance.

Predicates per FIXTURES.md §6: mentions / same_as / co_occurs_with /
has_type / found_in_repo.

`sentence_triples` is the pipeline's path. The tag stage emits one row
per sentence, its mentions as arrays (`tagging.SENTENCE_SCHEMA`), so
every sentence's entity set is already in one row: ONE mapInPandas
(`emit_triples`) looks each mention's canonical up in the alias table,
broadcast as a dict, and emits the mentions / has_type / found_in_repo
triples and the sentence's co-occurrence pairs in one pass,
deduplicating per task. There is no mention↔alias join and no regroup
by sentence. same_as comes from the alias table; one global
dropDuplicates closes the union.

Flat callers (`link_mentions` → `build_triples`) regroup by sentence
once (`nest_mentions`) and run the same emission. Above the broadcast
threshold `sentence_triples` takes that route, with a shuffle join;
below it both pipeline modes read sentence rows and never regroup.
"""

from __future__ import annotations

from collections.abc import Iterator
from itertools import repeat

import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tagging import SENTENCE_KEY, flatten_mentions, nest_mentions

TRIPLE_SCHEMA = (
    "subj string, pred string, obj string, repo string, commit string, sha256 string"
)

BROADCAST_THRESHOLD = 5_000_000

DEDUP_BOUND = 100_000
"""Distinct triples one emission task holds before it flushes them: the
memory bound of the per-task dedup. Duplicates across flushes and tasks
are left to the final dropDuplicates. Read on the driver when a triples
frame is built, and shipped with its emission function."""

# the columns the emission reads from a sentence row
_EMIT_COLUMNS = ("repo", "path", "commit", "sha256", "surface", "etype")


def link_mentions(mentions: DataFrame, entities: DataFrame,
                  broadcast_threshold: int = BROADCAST_THRESHOLD,
                  alias_count: int | None = None) -> DataFrame:
    """Attach canonical entity to each flat mention via the alias table.

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


def alias_map(entities: DataFrame, aliases: pd.DataFrame | None = None
              ) -> dict[tuple[str, str], str]:
    """(etype, alias) → canonical, for every alias that is not its own
    canonical; any other surface is its own canonical (the left join's
    coalesce). `aliases` is the alias table when it is already on the
    driver; otherwise `entities` is collected through Arrow."""
    if aliases is None:
        aliases = (
            entities.filter(F.col("alias") != F.col("canonical"))
            .select("etype", "alias", "canonical").toPandas()
        )
    else:
        aliases = aliases[aliases["alias"] != aliases["canonical"]]
    return dict(zip(zip(aliases["etype"], aliases["alias"]), aliases["canonical"]))


def emit_triples(batches: Iterator[pd.DataFrame], aliases: dict[tuple[str, str], str],
                 dedup_bound: int = DEDUP_BOUND) -> Iterator[pd.DataFrame]:
    """Sentence rows → triple frames (`TRIPLE_SCHEMA`), distinct within a
    flush. A row carries the sentence key columns and the parallel arrays
    `surface` and `etype`, plus `canonical` when the canonicals are
    already attached; otherwise each is `aliases.get((etype, surface),
    surface)`.

    Per mention: doc —mentions→ canonical, canonical —has_type→ etype,
    canonical —found_in_repo→ repo. Per sentence: each pair of its
    distinct canonicals in sorted order —co_occurs_with→. The document
    URI joins repo, path and commit with '@', skipping nulls (Spark's
    concat_ws). A triple's provenance is its first witness in the task."""
    seen: dict[tuple, tuple] = {}
    for pdf in batches:
        canon_col = pdf["canonical"] if "canonical" in pdf.columns else repeat(None)
        for repo, path, commit, sha, surfaces, etypes, canons in zip(
            pdf["repo"], pdf["path"], pdf["commit"], pdf["sha256"],
            pdf["surface"], pdf["etype"], canon_col,
        ):
            prov = (repo, commit, sha)
            uri = "@".join([p for p in (repo, path, commit) if p is not None])
            if canons is None:
                canons = [aliases.get((e, s), s) for s, e in zip(surfaces, etypes)]
            for c, e in zip(canons, etypes):
                seen.setdefault((uri, "mentions", c), prov)
                seen.setdefault((c, "has_type", e), prov)
                seen.setdefault((c, "found_in_repo", repo), prov)
            ents = sorted({c for c in canons if c is not None})
            for i, a in enumerate(ents):
                for b in ents[i + 1:]:
                    seen.setdefault((a, "co_occurs_with", b), prov)
            if len(seen) >= dedup_bound:
                yield _triple_frame(seen)
                seen = {}
    if seen:
        yield _triple_frame(seen)


def _triple_frame(seen: dict[tuple, tuple]) -> pd.DataFrame:
    subj, pred, obj = zip(*seen)
    repo, commit, sha = zip(*seen.values())
    return pd.DataFrame({"subj": subj, "pred": pred, "obj": obj,
                         "repo": repo, "commit": commit, "sha256": sha})


def _close(emitted: DataFrame, entities: DataFrame) -> DataFrame:
    """emitted families ∪ same_as, distinct on (subj, pred, obj).

    Determinism contract: the (subj, pred, obj) SET is deterministic
    (asserted by test_parallelism_invariance); the provenance columns
    on a deduplicated triple come from an arbitrary witness mention, so
    repo/commit/sha256 may differ between runs for triples with
    multiple witnesses."""
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
    return emitted.unionByName(same_as_t).dropDuplicates(["subj", "pred", "obj"])


def build_triples(linked: DataFrame, entities: DataFrame) -> DataFrame:
    """Union of predicate families, all distinct, with provenance, from a
    flat linked table (`link_mentions`' output): regrouped by sentence
    once, then the same emission as `sentence_triples`."""
    rows = nest_mentions(linked.select(*SENTENCE_KEY, "score", "surface", "etype", "canonical"))
    bound = DEDUP_BOUND
    emitted = rows.select(*_EMIT_COLUMNS, "canonical").mapInPandas(
        lambda it: emit_triples(it, {}, bound), TRIPLE_SCHEMA
    )
    return _close(emitted, entities)


def sentence_triples(sentences: DataFrame, entities: DataFrame,
                     alias_count: int | None = None,
                     aliases: pd.DataFrame | None = None,
                     broadcast_threshold: int = BROADCAST_THRESHOLD
                     ) -> tuple[DataFrame, Broadcast | None]:
    """Sentence rows (`tagging.SENTENCE_SCHEMA`) + alias table → (triples,
    the alias-dict broadcast or None).

    Up to `broadcast_threshold` alias rows the non-identity aliases go
    to the executors as one broadcast dict (`alias_map`; `aliases` is the
    driver copy of the table, when there is one) and one mapInPandas
    emits every family. The caller owns the broadcast: the triples are
    lazy, so it may be destroyed only once they are materialized. Above
    the threshold the rows are flattened, joined to the alias table with
    a shuffle join and regrouped (`link_mentions` → `build_triples`)."""
    n = alias_count if alias_count is not None else entities.limit(
        broadcast_threshold + 1).count()
    if n > broadcast_threshold:
        linked = link_mentions(flatten_mentions(sentences), entities,
                               broadcast_threshold, alias_count=n)
        return build_triples(linked, entities), None
    bc = sentences.sparkSession.sparkContext.broadcast(alias_map(entities, aliases))
    bound = DEDUP_BOUND
    emitted = sentences.select(*_EMIT_COLUMNS).mapInPandas(
        lambda it: emit_triples(it, bc.value, bound), TRIPLE_SCHEMA
    )
    return _close(emitted, entities), bc
