"""Linking variants: driver-vs-SQL linking parity, greedy decode, skew
salting."""

from __future__ import annotations

from hypothesis import Phase, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def test_greedy_decode_pipeline_path(spark):
    """decode='greedy' (W7, utils.py:10-20) runs the full pipeline and
    finds the planted entities (greedy == viterbi when lexicon margins
    dominate)."""
    from ner4cti_spark.corpus import generate_corpus
    from ner4cti_spark.pipeline import PipelineConfig, run_pipeline

    corpus = generate_corpus(spark, n_docs=40).cache()
    tv = run_pipeline(spark, corpus, PipelineConfig(decode="viterbi"))["triples"]
    tg = run_pipeline(spark, corpus, PipelineConfig(decode="greedy"))["triples"]
    a = tv.select("subj", "pred", "obj")
    b = tg.select("subj", "pred", "obj")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_salted_repartition_spreads_hot_repo(spark):
    """The hot repo (repo-0000 holds ~half the files by construction)
    must not pin a single partition: with salting, the largest partition
    stays within a small factor of the mean."""
    from ner4cti_spark.corpus import generate_corpus
    from ner4cti_spark.operators.sentencize import sentencize, with_sha256
    from ner4cti_spark.tagging import salted_repartition

    sents = sentencize(with_sha256(generate_corpus(spark, n_docs=400)))
    n_part = 16
    salted = salted_repartition(sents, n_part)
    sizes = (
        salted.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    counts = [r["count"] for r in sizes]
    total = sum(counts)
    mean = total / n_part
    assert max(counts) < 2.5 * mean, counts
    # un-salted single-column partitioning for contrast: hot repo pins one
    unsalted = sents.repartition(n_part, F.col("repo"))
    u_sizes = [
        r["count"]
        for r in unsalted.withColumn("pid", F.spark_partition_id()).groupBy("pid").count().collect()
    ]
    assert max(u_sizes) > max(counts), (u_sizes, counts)


# ---------------- driver linking path vs the SQL path ----------------

# near-duplicates, separator-only and empty-after-normalization strings,
# Unicode whitespace (Java's \s in normalize_surface does not match it,
# Python's would: 'Trick\u00a0Bot' links to 'TrickBots' only under a
# Python normalization) and case, plus two pairs found offline:
# 'Ysbjy'/'Sbjy' share a band bucket at Jaccard exactly 0.5, and
# 'Ueqmx'/'Cueqmx' (Jaccard 0.57) share no full band, so the SQL path
# must NOT link them
_SURFACES = [
    "TrickBot", "Trickbot", "Trick-Bot", "trick bot", "TrickBots", "APT 28",
    "APT-28", "apt28", "APT\u00a028", "APT\u200328", "ABC", "A\u00a0B\u00a0C",
    "\u0130", "i\u0307", "I", "--", " . ", "", "Emotet", "Emotett", "Cobalt Strike",
    "CobaltStrike", "Sofacy", "Ysbjy", "Sbjy", "Ueqmx", "Cueqmx", "Trick\u00a0Bot",
]
# hints name observed surfaces and canonicals never observed verbatim
_HINTS = ["APT28", "TrickBot", "Wizard Spider", "Cobalt Strike", "Fancy Bear"]
_ETYPES = ["threat-actor", "malware", "tool", "attack-pattern", "cve", "indicator"]


@st.composite
def _surface(draw):
    s = draw(st.sampled_from(_SURFACES))
    if s and draw(st.booleans()):  # one-character edit: a fresh near-duplicate
        i = draw(st.integers(0, len(s) - 1))
        c = draw(st.sampled_from("abkoT-_. \u00a0\u0130"))
        s = s[:i] + c + s[i + draw(st.integers(0, 1)):]
    return s


_vocab = st.lists(
    st.tuples(
        st.sampled_from(_ETYPES), _surface(),
        st.one_of(st.none(), st.sampled_from(_HINTS)), st.integers(1, 3),
    ),
    min_size=1, max_size=30,
)


def _mentions(spark, vocab):
    rows = [(e, s, h) for e, s, h, n in vocab for _ in range(n)]
    return spark.createDataFrame(rows, "etype string, surface string, canonical_hint string")


def _alias_table(entities):
    return {tuple(r) for r in entities.select(
        "entity_id", "canonical", "etype", "alias").collect()}


@given(vocab=_vocab)
@example(vocab=[("malware", "TrickBot", None, 3), ("malware", "Trickbot", None, 1),
                ("tool", "TrickBot", None, 1), ("malware", "Trick-Bot", "TrickBot", 2)])
@example(vocab=[("threat-actor", "APT 28", None, 1), ("threat-actor", "APT\u00a028", None, 2),
                ("threat-actor", "ABC", None, 1), ("threat-actor", "A\u00a0B\u00a0C", None, 1),
                ("threat-actor", "Sofacy", "APT28", 1), ("threat-actor", "--", None, 1),
                ("threat-actor", " . ", None, 1), ("tool", "\u0130", None, 1),
                ("malware", "Trick\u00a0Bot", None, 1), ("malware", "TrickBots", None, 1)])
@example(vocab=[("malware", "Ysbjy", None, 1), ("malware", "Sbjy", None, 1),
                ("malware", "Ueqmx", None, 1), ("malware", "Cueqmx", None, 1),
                ("cve", "Ysbjy", None, 1), ("indicator", "Sbjy", "Wizard Spider", 1)])
# no shrink phase: every example costs two Spark linking runs, and the
# assertion already prints the differing alias rows
@settings(max_examples=8, deadline=None,
          phases=[Phase.explicit, Phase.reuse, Phase.generate])
def test_driver_and_sql_linking_agree(spark, vocab):
    """The driver linking path (one Arrow collect, hashlib MinHash,
    union-find, pandas canonical pick) and the distributed path it
    replaces below the gate (driver_threshold=0) give set-identical
    alias tables, entity_id included."""
    from ner4cti_spark.pipeline import PipelineConfig, _link

    mentions = _mentions(spark, vocab)
    cfg = PipelineConfig()
    local, n_local, _ = _link(mentions, cfg)
    sql, n_sql, _ = _link(mentions, cfg, driver_threshold=0)
    try:
        a, b = _alias_table(local), _alias_table(sql)
    finally:
        sql.unpersist()
    assert a == b, (sorted(a - b), sorted(b - a))
    assert n_local == n_sql == len(a)


def test_driver_link_singletons_have_hashed_ids(spark):
    """No fuzzy surface and no hint: every surface is its own entity,
    entity_id = xxhash64(etype, normalized surface) as Spark computes it."""
    from ner4cti_spark.linking.minhash_lsh import normalize_surface
    from ner4cti_spark.pipeline import PipelineConfig, _link

    mentions = _mentions(spark, [
        ("cve", "CVE-2014-1111", None, 2), ("cve", "CVE-2014-1112", None, 1),
        ("indicator", "10.0.0.1", None, 1), ("indicator", "10.0.0.2", None, 3),
    ])
    entities, n, _ = _link(mentions, PipelineConfig())
    got = {(r["etype"], r["alias"]): (r["entity_id"], r["canonical"])
           for r in entities.collect()}
    want = {
        (r["etype"], r["surface"]): (r["id"], r["surface"])
        for r in mentions.select(
            "etype", "surface",
            F.xxhash64("etype", normalize_surface(F.col("surface"))).alias("id"),
        ).distinct().collect()
    }
    assert n == 4 and got == want


def test_driver_link_merges_hint_chain(spark):
    """Hints a→b and b→c put a, b and the never-observed c in one
    entity; c is a freq-0 bridge node, so an observed surface is the
    canonical."""
    from ner4cti_spark.pipeline import PipelineConfig, _link

    mentions = _mentions(spark, [
        ("threat-actor", "Zirconium", "Nobelium", 1),
        ("threat-actor", "Nobelium", "Yttrium", 2),
    ])
    rows = _link(mentions, PipelineConfig())[0].collect()
    assert {r["alias"] for r in rows} == {"Zirconium", "Nobelium", "Yttrium"}
    assert len({r["entity_id"] for r in rows}) == 1
    assert {r["canonical"] for r in rows} == {"Nobelium"}


def test_driver_link_exact_normalized_aliases_share_a_node(spark):
    """'APT 28'/'APT-28'/'apt28' normalize alike: one node id, so one
    entity, with no MinHash pair between them."""
    from ner4cti_spark.linking.minhash_lsh import candidate_pairs_local
    from ner4cti_spark.pipeline import PipelineConfig, _link

    mentions = _mentions(spark, [
        ("threat-actor", "APT 28", None, 1), ("threat-actor", "APT-28", None, 3),
        ("threat-actor", "apt28", None, 1),
    ])
    rows = _link(mentions, PipelineConfig())[0].collect()
    assert len({r["entity_id"] for r in rows}) == 1 and len(rows) == 3
    assert {r["canonical"] for r in rows} == {"APT-28"}
    assert candidate_pairs_local([("threat-actor", "apt28")]) == []
