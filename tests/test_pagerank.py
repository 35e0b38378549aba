"""DataFrame PageRank vs a numpy power-iteration oracle."""

from __future__ import annotations

import numpy as np
import pytest

from ner4cti_spark.linking.components import DRIVER_THRESHOLD
from ner4cti_spark.linking.pagerank import pagerank


def numpy_pagerank(edge_list, damping=0.85, n_iter=15):
    nodes = sorted({a for a, _ in edge_list} | {b for _, b in edge_list})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = {}
    for a, _ in edge_list:
        out_deg[a] = out_deg.get(a, 0) + 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        new = np.full(n, (1 - damping) / n)
        dangling = sum(r[idx[v]] for v in nodes if v not in out_deg)
        new += damping * dangling / n
        for a, b in edge_list:
            new[idx[b]] += damping * r[idx[a]] / out_deg[a]
        r = new
    return {v: r[idx[v]] for v in nodes}


# default: numpy driver path; 0: every edge list takes the distributed loop
@pytest.mark.parametrize("driver_threshold", [DRIVER_THRESHOLD, 0],
                         ids=["driver", "distributed"])
def test_pagerank_matches_numpy_oracle(spark, driver_threshold):
    edge_list = [
        (1, 2), (2, 3), (3, 1),        # cycle
        (4, 1), (4, 2),                # feeder
        (5, 4),                        # chain into feeder
        (3, 6),                        # 6 is dangling (no out-edges)
    ]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(
        edges, n_iter=15, driver_threshold=driver_threshold).collect()}
    want = numpy_pagerank(edge_list, n_iter=15)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_entity_pagerank_on_pipeline_triples(spark):
    from ner4cti_spark.corpus import generate_corpus
    from ner4cti_spark.linking.pagerank import entity_pagerank
    from ner4cti_spark.pipeline import run_pipeline

    out = run_pipeline(spark, generate_corpus(spark, n_docs=60))
    pr = entity_pagerank(out["triples"], n_iter=8).collect()
    assert len(pr) > 10
    # ranks are a probability distribution over co-occurring entities
    assert abs(sum(r["rank"] for r in pr) - 1.0) < 1e-3
    # frequently-planted actors should outrank one-off indicators
    top = [r["entity"] for r in pr[:15]]
    assert any(e in top for e in ("APT28", "WannaCry", "Mimikatz", "Lazarus Group",
                                  "Emotet", "Cobalt Strike", "TrickBot", "Sandworm Team"))
