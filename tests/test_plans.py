"""Physical-plan assertions: the plans we'd want at 100 TB, not just
plans that pass. Checks Catalyst actually gives us predicate pushdown,
column pruning, broadcast joins, and map-side partial aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def executed_nodes(df) -> list:
    """Run `df`, then list the nodes of its executed physical plan —
    stepping through the adaptive wrapper, query stages and cached
    relations, whose subplans are not among their children."""
    df.collect()
    out = []

    def walk(node) -> None:
        out.append(node)
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif name.endswith("QueryStageExec"):
            kids = [node.plan()]
        elif name == "InMemoryTableScanExec":
            kids = [node.relation().cachedPlan()]
        else:
            ch = node.children()
            kids = [ch.apply(i) for i in range(ch.size())]
        for k in kids:
            walk(k)

    walk(df._jdf.queryExecution().executedPlan())
    return out


def executed_shuffles(df) -> int:
    """Number of ShuffleExchangeExec nodes in `df`'s executed plan."""
    return sum(n.getClass().getSimpleName() == "ShuffleExchangeExec"
               for n in executed_nodes(df))


def shuffle_keys(node) -> frozenset[str]:
    """Names of the columns a ShuffleExchangeExec's partitioning reads."""
    exprs = node.outputPartitioning().expressions()
    names = set()
    for i in range(exprs.size()):
        refs = exprs.apply(i).references().toSeq()
        names |= {refs.apply(j).name() for j in range(refs.size())}
    return frozenset(names)


def test_filter_pushdown_and_column_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200], plan
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema, plan


def test_enrichment_join_broadcasts_dims(spark):
    from ner4cti_spark.entry_queries import q_enrichment_join

    plan = plan_of(q_enrichment_join(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_vocab_agg_has_partial_aggregation(spark):
    from ner4cti_spark.entry_queries import q_vocab_word_freq

    plan = plan_of(q_vocab_word_freq(spark, SF))
    # partial (map-side) + final hash aggregate pair around the exchange
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange" in plan, plan


def test_pipeline_triples_have_no_sentence_shuffle_or_mention_join(spark):
    """The in-memory pipeline's triples read the cached sentence rows,
    whose mentions the tag stage already emitted together, and look
    canonicals up in a broadcast dict: the executed plan has no join at
    all and exactly two Exchanges — the salted repartition before
    tagging and the final triple dedup — none keyed on the sentence."""
    from ner4cti_spark.corpus import generate_corpus
    from ner4cti_spark.pipeline import PipelineConfig, run_pipeline
    from ner4cti_spark.tagging import SENTENCE_KEY

    out = run_pipeline(spark, generate_corpus(spark, n_docs=30), PipelineConfig(num_partitions=4))
    nodes = executed_nodes(out["triples"])
    names = [n.getClass().getSimpleName() for n in nodes]
    assert "InMemoryTableScanExec" in names, names
    assert not [n for n in names if "Join" in n], names
    keys = sorted(sorted(shuffle_keys(n)) for n in nodes
                  if n.getClass().getSimpleName() == "ShuffleExchangeExec")
    assert not [k for k in keys if set(SENTENCE_KEY) <= set(k)], keys
    assert keys == [["obj", "pred", "subj"], ["path", "repo", "sent_id"]], keys
    for df in out.values():
        df.unpersist()


def test_checkpointed_sentences_have_no_shuffle(spark, tmp_path):
    """With out_dir the tag stage checkpoints its sentence rows as they
    are, so the run's `sentences` read them back without regrouping flat
    mentions by sentence: the executed plan has no shuffle at all."""
    from ner4cti_spark.corpus import generate_corpus
    from ner4cti_spark.pipeline import PipelineConfig, run_pipeline

    out = run_pipeline(spark, generate_corpus(spark, n_docs=30),
                       PipelineConfig(num_partitions=4), out_dir=str(tmp_path / "kg"))
    assert out["sentences"].count() > 0
    assert executed_shuffles(out["sentences"]) == 0
    for df in out.values():
        df.unpersist()


def test_whole_stage_codegen_in_relational_path(spark):
    from ner4cti_spark.entry_queries import q_pricing_summary

    # AQE wraps the plan pre-execution and reports 0 codegen subtrees
    # until runtime re-planning; disable it just for this probe
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = q_pricing_summary(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in plan and "Found 0" not in plan, plan[:400]


def test_no_cartesian_product_in_pipeline(spark):
    from ner4cti_spark import graph
    from ner4cti_spark.corpus import generate_corpus
    from ner4cti_spark.pipeline import PipelineConfig, extract_mentions, link_entities

    corpus = generate_corpus(spark, n_docs=30)
    cfg = PipelineConfig(num_partitions=4)
    mentions = extract_mentions(spark, corpus, cfg)
    ents = link_entities(mentions, cfg)
    triples = graph.build_triples(graph.link_mentions(mentions, ents), ents)
    plan = plan_of(triples)
    assert "CartesianProduct" not in plan, plan


def test_pos_skipgram_pairs_has_no_join_exchange(spark):
    """r6: POS skip-gram pair generation is array-local per document —
    the plan must contain NO join (the old exploded-token self-join put
    a corpus-scale shuffle in front of the ≤324-cell aggregation) and
    exactly one Exchange: the tiny pair-count groupBy."""
    from ner4cti_spark.entry_queries import q_pos_skipgram_pairs

    df = q_pos_skipgram_pairs(spark, SF)
    plan = plan_of(df)
    assert "Join" not in plan, plan
    assert executed_shuffles(df) == 1, plan
    # map-side partial + final aggregate around that single exchange
    assert plan.count("HashAggregate") >= 2, plan


def test_pos_pair_counts_matches_join_form(spark):
    """The array-local pair generation must count exactly what the
    reference's window (j-i in [-w, w-1], j != i, per sentence) counts —
    checked against a brute-force python enumeration."""
    import numpy as np

    from ner4cti_spark.kernel import pos
    from ner4cti_spark.training import pos_pair_counts

    sents = spark.createDataFrame(
        [
            ("d1", 0, ["The", "attacker", "used", "Mimikatz", "to", "dump", "credentials"]),
            ("d1", 1, ["APT28", "targeted", "governments"]),
            ("d2", 0, ["one"]),
            ("d2", 1, []),
        ],
        "doc_id string, sent_id long, tokens array<string>",
    )
    w = 3
    counts = pos_pair_counts(spark, sents, window=w)
    expected = np.zeros_like(counts)
    for toks in (
        ["The", "attacker", "used", "Mimikatz", "to", "dump", "credentials"],
        ["APT28", "targeted", "governments"],
        ["one"],
        [],
    ):
        ps = [pos.upos(t) for t in toks]
        for i in range(len(ps)):
            for j in range(max(0, i - w), min(i + w, len(ps))):
                if j != i:
                    expected[pos.UPOS2ID[ps[i]], pos.UPOS2ID[ps[j]]] += 1
    assert np.array_equal(counts, expected)


def test_aqe_splits_skewed_join(spark):
    """Hot-key skew (north_rule: 'skew handled explicitly'): AQE splits
    the skewed partition at runtime — the executed plan marks the join
    skew=true instead of one straggler task dragging the stage."""
    from pyspark.sql import functions as F

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        # key 0 holds ~90% of 300k fact rows
        fact = spark.range(300_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(2_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = fact.join(dim, "k")
        # execute THIS DataFrame (count() builds a different QueryExecution
        # whose finalization doesn't touch j's plan)
        assert len(j.collect()) > 0
        final_plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:1500]
        assert "AQEShuffleRead" in final_plan
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
