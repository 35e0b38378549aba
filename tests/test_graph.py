"""Triple emission: the one-pass sentence emission against the SQL
reference (tests/graph_reference.py), and every route into it — the
broadcast-dict pass, the shuffle-join + regroup branch, the flat layer
calls and the checkpointed resume — against the in-memory triple set."""

from __future__ import annotations

import shutil
from unittest import mock

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from graph_reference import reference_triples
from ner4cti_spark import graph, lineage
from ner4cti_spark.corpus import generate_corpus
from ner4cti_spark.linking.components import ENTITY_SCHEMA
from ner4cti_spark.pipeline import (
    PipelineConfig, broadcast_weights, extract_mentions, link_entities, run_pipeline,
)
from ner4cti_spark.tagging import MENTION_SCHEMA, SENTENCE_SCHEMA, nest_mentions


def spo(df) -> set[tuple]:
    return {tuple(r) for r in df.select("subj", "pred", "obj").collect()}


# ---------------- property: emission == SQL reference ----------------

_SURFACES = ["APT28", "APT 28", "Sofacy", "Mimikatz", "mimikatz", "evil.com"]
_ETYPES = ["actor", "tool"]
_CANONICALS = ["APT28", "Mimikatz", "Fancy Bear"]

_sentence = st.fixed_dictionaries({
    "repo": st.sampled_from(["r1", "r2"]),
    "path": st.one_of(st.none(), st.sampled_from(["a.py", "b.md"])),
    "commit": st.one_of(st.none(), st.sampled_from(["c1", "c2"])),
    "sha256": st.sampled_from(["s1", "s2"]),
    "sent_id": st.integers(0, 2),
    # repeated surfaces and one-mention sentences come up often
    "spans": st.lists(st.tuples(st.sampled_from(_SURFACES), st.sampled_from(_ETYPES)),
                      min_size=1, max_size=5),
})


@st.composite
def _world(draw, k: int):
    """One small corpus and its alias table, every repo/sha256/surface/
    canonical prefixed with `k`, so worlds never share a sentence key or
    an alias and their union is one valid corpus whose triple set is the
    disjoint union of theirs."""
    sents = draw(st.lists(_sentence, min_size=1, max_size=6,
                          unique_by=lambda s: (s["repo"], s["path"], s["commit"],
                                               s["sha256"], s["sent_id"])))
    keys = sorted({sp for s in sents for sp in s["spans"]})
    # each (surface, etype) is its own canonical, maps to one of a few
    # canonicals (so two aliases of one canonical share sentences), or is
    # missing from the alias table (the left join keeps the surface)
    choice = draw(st.lists(st.sampled_from([None, "self", *_CANONICALS]),
                           min_size=len(keys), max_size=len(keys)))
    entities = [(0, f"{k}:{surface if c == 'self' else c}", etype, f"{k}:{surface}")
                for (surface, etype), c in zip(keys, choice) if c is not None]
    sents = [{**s, "repo": f"{k}:{s['repo']}", "sha256": f"{k}:{s['sha256']}",
              "spans": [(f"{k}:{sf}", et) for sf, et in s["spans"]]} for s in sents]
    return sents, entities


@st.composite
def _corpus(draw):
    n = draw(st.integers(1, 12))
    worlds = [draw(_world(k)) for k in range(n)]
    sents = [s for w, _ in worlds for s in w]
    entities = [(i, *e[1:]) for i, e in enumerate(e for _, es in worlds for e in es)]
    return sents, entities, draw(st.sampled_from([1, 2, graph.DEDUP_BOUND])), draw(st.randoms())


def _flat_rows(sents) -> list[tuple]:
    return [(s["repo"], s["path"], s["commit"], s["sha256"], s["sent_id"], b, b + 1,
             surface, etype, 0.5, None)
            for s in sents for b, (surface, etype) in enumerate(s["spans"])]


def _nested_rows(sents) -> list[tuple]:
    return [(s["repo"], s["path"], s["commit"], s["sha256"], s["sent_id"], 0.5,
             list(range(len(s["spans"]))), [b + 1 for b in range(len(s["spans"]))],
             [sp[0] for sp in s["spans"]], [sp[1] for sp in s["spans"]],
             [None] * len(s["spans"]))
            for s in sents]


@given(_corpus())
@settings(max_examples=6, deadline=None)
def test_emission_matches_sql_reference(spark, corpus):
    """The broadcast-dict pass over sentence rows and the flat route
    (link_mentions → build_triples) both give the reference's set: null
    path/commit, repeated surfaces, two aliases of one canonical in a
    sentence, one-mention sentences, dedup bounds down to 1, one-row
    Arrow batches, and flat rows of one sentence spread over partitions
    in shuffled order. Each example unions up to 12 independent small
    worlds, so a few Spark runs cover many of them."""
    sents, entity_rows, bound, rnd = corpus
    flat_rows = _flat_rows(sents)
    rnd.shuffle(flat_rows)
    flat = spark.createDataFrame(flat_rows, MENTION_SCHEMA).repartition(3)
    entities = spark.createDataFrame(entity_rows, ENTITY_SCHEMA)
    nested = spark.createDataFrame(_nested_rows(sents), SENTENCE_SCHEMA)
    want = spo(reference_triples(flat, entities))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        with mock.patch.object(graph, "DEDUP_BOUND", bound):
            triples, bc = graph.sentence_triples(nested, entities)
            linked = graph.link_mentions(flat, entities)
            flat_triples = graph.build_triples(linked, entities)
        assert spo(triples) == want
        assert spo(flat_triples) == want
        bc.destroy()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_emit_triples_flushes_at_the_bound():
    """Every flush holds at most `dedup_bound` distinct triples plus one
    sentence's, and the union of flushes is the unbounded emission."""
    batch = pd.DataFrame({
        "repo": ["r", "r"], "path": [None, "p"], "commit": ["c", None], "sha256": ["s", "s"],
        "surface": [["A", "B", "A"], ["C"]], "etype": [["x", "x", "x"], ["y"]],
    })
    aliases = {("x", "B"): "A"}
    whole = pd.concat(graph.emit_triples(iter([batch]), aliases))
    assert set(whole["subj"] + "|" + whole["pred"] + "|" + whole["obj"]) == {
        "r@c|mentions|A", "A|has_type|x", "A|found_in_repo|r",
        "r@p|mentions|C", "C|has_type|y", "C|found_in_repo|r",
    }
    parts = list(graph.emit_triples(iter([batch.iloc[:1], batch.iloc[1:]]), aliases, 1))
    assert [len(p) for p in parts] == [3, 3]


# ---------------- every route gives the in-memory triple set ----------------

@pytest.fixture(scope="module")
def in_memory(spark):
    corpus = generate_corpus(spark, n_docs=60).cache()
    cfg = PipelineConfig()
    out = run_pipeline(spark, corpus, cfg)
    assert out["sentences"].is_cached
    yield corpus, cfg, out, spo(out["triples"])
    for df in out.values():
        df.unpersist()


def test_in_memory_matches_sql_reference(in_memory):
    _, _, out, want = in_memory
    assert spo(reference_triples(out["mentions"], out["entities"])) == want


def test_nest_mentions_rebuilds_the_tag_stage_rows(in_memory):
    """`build_triples` regroups flat (linked) mentions by sentence; that
    must give back the tag stage's sentence rows."""
    _, _, out, _ = in_memory
    regrouped = nest_mentions(out["mentions"])
    assert regrouped.schema.simpleString() == out["sentences"].schema.simpleString()
    assert regrouped.exceptAll(out["sentences"]).count() == 0
    assert out["sentences"].exceptAll(regrouped).count() == 0


def test_tag_sentences_batch_without_mentions(spark):
    """An Arrow batch whose sentences have no mention emits no rows."""
    from ner4cti_spark.tagging import tag_sentences

    sents = spark.createDataFrame(
        [("r", "p", "c", "s", 0, ["nothing", "to", "see"]), ("r", "p", "c", "s", 1, ["here"])],
        "repo string, path string, commit string, sha256 string, sent_id long, "
        "tokens array<string>",
    )
    bc = broadcast_weights(spark, PipelineConfig())
    assert tag_sentences(sents, bc).count() == 0
    bc.destroy()


def test_shuffle_join_branch_matches_in_memory(in_memory):
    """broadcast_threshold=0 forces the flatten → shuffle join → regroup
    branch, which hands back no broadcast."""
    _, _, out, want = in_memory
    triples, bc = graph.sentence_triples(out["sentences"], out["entities"],
                                         broadcast_threshold=0)
    assert bc is None
    assert spo(triples) == want


def test_dedup_bound_one_matches_in_memory(in_memory):
    _, _, out, want = in_memory
    with mock.patch.object(graph, "DEDUP_BOUND", 1):
        triples, bc = graph.sentence_triples(out["sentences"], out["entities"])
    assert spo(triples) == want
    bc.destroy()


def test_flat_layer_calls_match_in_memory(spark, in_memory):
    """The layer-by-layer call order (extract_mentions → link_entities →
    link_mentions(alias_count=) → build_triples) of the benchmark probe."""
    corpus, cfg, _, want = in_memory
    bc = broadcast_weights(spark, cfg)
    mentions = extract_mentions(spark, corpus, cfg, weights_bc=bc).cache()
    entities = link_entities(mentions, cfg).cache()
    linked = graph.link_mentions(mentions, entities, alias_count=entities.count())
    assert spo(graph.build_triples(linked, entities)) == want
    mentions.unpersist()
    entities.unpersist()
    bc.destroy()


def test_checkpointed_resume_matches_in_memory(spark, in_memory, tmp_path):
    """A checkpointed run, and a resume after losing some tag buckets,
    both materialize the in-memory triple set."""
    corpus, cfg, _, want = in_memory
    out_dir = str(tmp_path / "kg")
    run_pipeline(spark, corpus, cfg, out_dir=out_dir)
    assert spo(spark.read.parquet(f"{out_dir}/triples")) == want

    lin = lineage.read_manifest(out_dir)
    victims = list(lin.loc[lin["stage"] == "tag", "partition_key"])[:3]
    for pk in victims:
        shutil.rmtree(f"{out_dir}/mentions/bucket={pk}")
    lineage.commit(out_dir, lin[~((lin["stage"] == "tag") & lin["partition_key"].isin(victims))])

    out = run_pipeline(spark, corpus, cfg, out_dir=out_dir)
    assert spo(out["triples"]) == want
