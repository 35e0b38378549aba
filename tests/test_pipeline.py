"""End-to-end pipeline tests: P/R vs planted gold, invariants, linking,
connected components, resume idempotence (SURVEY §5.2.2/5.2.4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ner4cti_spark.corpus import expected_mentions, generate_corpus
from ner4cti_spark.linking.components import connected_components
from ner4cti_spark.operators.sentencize import sentencize, with_sha256
from ner4cti_spark.pipeline import PipelineConfig, run_pipeline

N_DOCS = 120


@pytest.fixture(scope="module")
def corpus(spark):
    return generate_corpus(spark, n_docs=N_DOCS).cache()


@pytest.fixture(scope="module")
def result(spark, corpus):
    out = run_pipeline(spark, corpus)
    out["mentions"] = out["mentions"].cache()
    out["triples"] = out["triples"].cache()
    return out


def test_corpus_deterministic(spark, corpus):
    again = generate_corpus(spark, n_docs=N_DOCS)
    a = corpus.select(F.sha2(F.concat_ws("|", "repo", "path", "content"), 256).alias("h"))
    b = again.select(F.sha2(F.concat_ws("|", "repo", "path", "content"), 256).alias("h"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_sha256_invariant_preserved(spark, corpus, result):
    """input_hint per-row invariant: every mention carries the sha256 of
    its source content row, byte-identical to recomputation."""
    src = with_sha256(corpus).select("repo", "path", "sha256").distinct()
    carried = result["mentions"].select("repo", "path", "sha256").distinct()
    assert carried.join(src, ["repo", "path", "sha256"], "left_anti").count() == 0


def test_mention_pr_vs_gold(spark, result):
    """P/R ≥ 0.95 against planted gold mentions (north_rule gate). The
    gold frame is built on the driver as one Arrow table: its plan has no
    `ExistingRDD`, a scan of pickled rows whose actions run Python tasks."""
    gold = expected_mentions(spark, n_docs=N_DOCS)
    plan = gold._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    gold_keys = gold.select(
        "sha256", F.col("sent_id"), F.col("surface"), F.col("etype")
    ).distinct()
    pred_keys = result["mentions"].select("sha256", "sent_id", "surface", "etype").distinct()
    tp = pred_keys.join(gold_keys, ["sha256", "sent_id", "surface", "etype"]).count()
    n_pred, n_gold = pred_keys.count(), gold_keys.count()
    precision = tp / max(n_pred, 1)
    recall = tp / max(n_gold, 1)
    assert precision >= 0.95, f"precision {precision:.3f} (tp={tp}, pred={n_pred})"
    assert recall >= 0.95, f"recall {recall:.3f} (tp={tp}, gold={n_gold})"


def test_sentencize_counts(spark, corpus):
    sents = sentencize(corpus)
    # every non-blank line becomes exactly one sentence row
    expected = corpus.select(
        F.size(F.filter(F.split("content", "\n"), lambda l: F.length(F.trim(l)) > 0)).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    assert sents.count() == expected


def test_sentencize_splits_on_any_ascii_whitespace_once(spark):
    """Tokens are the non-empty pieces of each line split on ASCII
    whitespace, so tab-led, tab-only, form-feed, vertical-tab and CRLF
    lines tokenize as Python's per-line `.split()` does, and the
    executed plan splits each line on `\\s+` exactly once."""
    import re

    from test_plans import executed_nodes

    contents = [
        "\tAPT28 used Mimikatz\n\t\t\nalpha\fbeta\r\ngamma\x0bdelta \t\r\n  \n\nlast\tline\rend",
        "\x0c\x0b\n x \t",
        "",
    ]
    corpus = spark.createDataFrame(
        [("r", f"p{i}", "c", "py", c) for i, c in enumerate(contents)],
        "repo string, path string, commit string, lang string, content string")
    sents = sentencize(corpus)
    got = sorted((r.path, r.sent_id, list(r.tokens)) for r in sents.collect())
    want = sorted((f"p{i}", n, line.split())
                  for i, c in enumerate(contents)
                  for n, line in enumerate(re.split(r"\r\n|\r|\n", c)) if line.split())
    assert got == want

    def whitespace_splits(expr) -> int:
        own = (expr.getClass().getSimpleName() == "StringSplit"
               and expr.regex().toString() == r"\s+")
        kids = expr.children()
        return own + sum(whitespace_splits(kids.apply(i)) for i in range(kids.size()))

    exprs = [n.expressions() for n in executed_nodes(sents)]
    assert sum(whitespace_splits(e.apply(i)) for e in exprs for i in range(e.size())) == 1


def test_linking_merges_known_aliases(result):
    ents = result["entities"]
    pairs = [
        ("APT28", "APT 28"),
        ("Cozy Bear", "CozyBear"),
        ("spear phishing", "spearphishing"),
        # knowledge-prior links: lexically dissimilar aliases merged via
        # the gazetteer canonical hint carried on mentions
        ("Sofacy", "APT28"),
        ("Fancy Bear", "APT28"),
        ("Lazarus", "HIDDEN COBRA"),
    ]
    for a, b in pairs:
        ids = (
            ents.filter(F.col("alias").isin(a, b))
            .select("entity_id").distinct().count()
        )
        present = ents.filter(F.col("alias").isin(a, b)).count()
        if present == 2:  # both aliases appeared in this corpus
            assert ids == 1, f"{a} / {b} not merged"


def test_linking_keeps_distinct_indicators_apart(result):
    """Distinct CVEs / domains must NOT merge (identity semantics)."""
    ents = result["entities"].filter(F.col("etype").isin("cve", "indicator"))
    merged = (
        ents.groupBy("entity_id")
        .agg(F.count_distinct(
            F.regexp_replace(F.lower("alias"), r"[\s\-_\.]+", "")).alias("n"))
        .filter("n > 1").count()
    )
    assert merged == 0


def test_triples_predicates(result):
    preds = {r["pred"] for r in result["triples"].select("pred").distinct().collect()}
    assert preds == {"mentions", "has_type", "found_in_repo", "same_as", "co_occurs_with"}


def test_connected_components_chain_and_clique(spark):
    from ner4cti_spark.linking.components import _distributed_cc

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 21), (21, 22), (20, 22)],
        "src long, dst long",
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    # both physical strategies must agree (size-adaptive dispatch picks
    # driver union-find here; the distributed fixpoint runs at scale, or
    # here when the threshold is 0)
    for impl in (connected_components,
                 lambda e: connected_components(e, driver_threshold=0),
                 lambda e: _distributed_cc(e, max_iter=20, n_partitions=4)):
        comp = {r["node"]: r["component"] for r in impl(edges).collect()}
        assert comp == expected, impl


def test_parallelism_invariance(spark, corpus):
    """Output triple set is identical at different partitioning (the
    sandbox proxy for multi-executor determinism)."""
    cfg_a = PipelineConfig(num_partitions=4)
    cfg_b = PipelineConfig(num_partitions=17)
    ta = run_pipeline(spark, corpus, cfg_a)["triples"].select("subj", "pred", "obj")
    tb = run_pipeline(spark, corpus, cfg_b)["triples"].select("subj", "pred", "obj")
    assert ta.exceptAll(tb).count() == 0 and tb.exceptAll(ta).count() == 0


def _columns(df):
    return [(f.name, f.dataType) for f in df.schema]


def test_empty_corpus_in_memory_and_checkpointed(spark, tmp_path):
    """A zero-row corpus gives zero mentions, entities and triples with
    the documented schemas, both in memory and with a checkpoint dir (a
    zero-row partitioned write leaves only _SUCCESS in the table dir).
    In memory, the empty alias table is a JVM-local scan: neither it nor
    the triples plan an ExistingRDD, whose actions would run Python
    tasks."""
    from ner4cti_spark.graph import TRIPLE_SCHEMA
    from ner4cti_spark.linking.components import ENTITY_SCHEMA
    from ner4cti_spark.tagging import MENTION_SCHEMA

    empty = generate_corpus(spark, n_docs=10).limit(0)
    want = {name: _columns(spark.createDataFrame([], schema)) for name, schema in (
        ("mentions", MENTION_SCHEMA), ("entities", ENTITY_SCHEMA),
        ("triples", TRIPLE_SCHEMA))}
    for out_dir in (None, str(tmp_path / "kg")):
        out = run_pipeline(spark, empty, out_dir=out_dir)
        for name, cols in want.items():
            assert _columns(out[name]) == cols, (out_dir, name)
            assert out[name].count() == 0, (out_dir, name)
        if out_dir is None:
            for name in ("entities", "triples"):
                plan = out[name]._jdf.queryExecution().executedPlan().toString()
                assert "ExistingRDD" not in plan, (name, plan)


def test_run_pipeline_leaves_no_persisted_rdd(spark):
    """Unpersisting run_pipeline's outputs frees everything it persisted,
    and the SQL linking path (forced with driver_threshold=0) keeps only
    its returned alias table persisted. Compared as persistent-RDD ids,
    not counts: the context cleaner may drop RDDs of earlier tests
    meanwhile. The corpus is one no other test caches, because
    unpersisting a frame frees every cached frame of equal plan."""
    from ner4cti_spark.pipeline import _link

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persistent_ids()
    out = run_pipeline(spark, generate_corpus(spark, n_docs=17))
    out["triples"].count()
    sql_entities, _, _ = _link(out["mentions"], PipelineConfig(), driver_threshold=0)
    assert persistent_ids() - before, "the SQL path persists its alias table"
    sql_entities.unpersist()
    for df in out.values():
        df.unpersist()
    assert persistent_ids() - before == set()
