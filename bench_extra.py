"""Round-6 optimization harness (bench.py is FROZEN for measurement —
this file exists so optimization work can time and introspect queries
without touching the driver's contract).

Modes:
  python bench_extra.py time  [sf_dir] [query ...]   noop-sink timings, min of N
  python bench_extra.py plan  [sf_dir] [query ...]   .explain('formatted') to stdout
  python bench_extra.py stage [sf_dir]               cti_pipeline sub-stage timings

Timing methodology per the optimization guide §1.4: each query is
materialized through the noop sink (every column of every row computed,
nothing written), labeled via setJobDescription, min over N trials.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_TRIALS = int(os.environ.get("BENCH_EXTRA_TRIALS", "2"))


def _queries():
    from ner4cti_spark import dataprep_queries as D
    from ner4cti_spark import entry_queries as Q

    return {
        "vocab_rank": Q.q_vocab_rank,
        "token_lookup_fallback": Q.q_token_lookup_fallback,
        "sessionize_events": Q.q_sessionize_events,
        "pricing_summary": Q.q_pricing_summary,
        "top_revenue_orders": Q.q_top_revenue_orders,
        "span_extract": Q.q_span_extract_sql,
        "pos_skipgram_pairs": Q.q_pos_skipgram_pairs,
        "skipgram_pairs": Q.q_skipgram_pairs,
        "dedup_minhash": D.q_dedup_minhash,
        "ngram_jaccard": D.q_ngram_jaccard,
        "dedup_simhash": D.q_dedup_simhash,
        "simhash_neardup": D.q_simhash_neardup,
        "embedding_topk": D.q_embedding_topk,
        "embedding_neardup_planted": D.q_embedding_neardup_planted,
        "embedding_ivf": D.q_embedding_ivf,
        "quality_score": D.q_quality_score,
        "connected_components": D.q_connected_components,
        "graph_pagerank": D.q_graph_pagerank,
    }


def _spark():
    from ner4cti_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return get_spark(app_name="bench_extra", cores=cpus,
                     shuffle_partitions=max(cpus, 32))


def mode_time(sf_dir: str, names: list[str]) -> None:
    spark = _spark()
    qs = _queries()
    out = {}
    for name in names or qs:
        q = qs[name]
        samples = []
        for t in range(N_TRIALS):
            spark.sparkContext.setJobDescription(f"{name} trial {t}")
            t0 = time.time()
            q(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"summary": {k: v["min"] for k, v in out.items()}}))


def mode_plan(sf_dir: str, names: list[str]) -> None:
    spark = _spark()
    qs = _queries()
    for name in names or qs:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        print(f"===== {name} =====\n{buf.getvalue()}")


def mode_stage(sf_dir: str) -> None:
    from ner4cti_spark.corpus import generate_corpus
    from ner4cti_spark.pipeline import PipelineConfig, broadcast_weights, run_pipeline

    spark = _spark()
    import re

    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    sf = float(m.group(1)) if m else 0.1
    n_docs = max(200, int(40000 * sf))
    cfg = PipelineConfig()
    weights_bc = broadcast_weights(spark, cfg)
    # warm run (cold-start excluded, same as bench.py)
    warm = generate_corpus(spark, n_docs=200).localCheckpoint(eager=True)
    run_pipeline(spark, warm, cfg, weights_bc=weights_bc)["triples"].count()
    corpus = generate_corpus(spark, n_docs=n_docs).localCheckpoint(eager=True)
    for trial in range(N_TRIALS):
        from ner4cti_spark.pipeline import _link, extract_sentences
        from ner4cti_spark.tagging import flatten_mentions
        from ner4cti_spark import graph

        # the stages run_pipeline runs in memory: cached sentence rows,
        # linking over their flat view, one-pass triple emission
        t0 = time.time()
        spark.sparkContext.setJobDescription("stage: tag")
        sentences = extract_sentences(spark, corpus, cfg, weights_bc=weights_bc).cache()
        mentions = flatten_mentions(sentences)
        n_m = mentions.count()
        t1 = time.time()
        spark.sparkContext.setJobDescription("stage: link")
        entities, n_alias, aliases = _link(mentions, cfg)  # eager
        t2 = time.time()
        spark.sparkContext.setJobDescription("stage: triples")
        triples, aliases_bc = graph.sentence_triples(
            sentences, entities, alias_count=n_alias, aliases=aliases
        )
        n_t = triples.count()
        t3 = time.time()
        if aliases_bc is not None:
            aliases_bc.destroy()
        print(json.dumps({
            "trial": trial, "tag_s": round(t1 - t0, 3),
            "link_s": round(t2 - t1, 3), "triples_s": round(t3 - t2, 3),
            "total_s": round(t3 - t0, 3),
            "n_mentions": n_m, "n_triples": n_t,
        }), flush=True)
        sentences.unpersist(blocking=False)
        entities.unpersist(blocking=False)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:]
    if mode == "time":
        mode_time(sf_dir, names)
    elif mode == "plan":
        mode_plan(sf_dir, names)
    elif mode == "stage":
        mode_stage(sf_dir)
    else:
        raise SystemExit(f"unknown mode {mode}")
