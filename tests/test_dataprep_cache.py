"""Shingle-scan cache hygiene: repeated dedup queries must reuse ONE
persisted (doc_id, shs) scan per corpus instead of registering a fresh
cache entry per call (the round-2 leak: a long session running many
dedup queries accumulated persisted RDDs until LRU eviction)."""

from __future__ import annotations

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not (os.path.exists(SF_DIR) and os.path.exists(SF_DIR_01)),
    reason="driver-generated testdata fixtures absent",
)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_dedup_queries_share_one_cached_scan(spark):
    from ner4cti_spark import dataprep_queries as D

    # first round populates the module-level cache
    D.q_dedup_minhash(spark, SF_DIR).count()
    D.q_ngram_jaccard(spark, SF_DIR).count()
    before = _n_persistent(spark)
    # second round must not register any new persisted RDD
    D.q_dedup_minhash(spark, SF_DIR).count()
    D.q_ngram_jaccard(spark, SF_DIR).count()
    assert _n_persistent(spark) <= before


def test_simhash_neardup_shares_one_cached_signature(spark):
    from ner4cti_spark import dataprep_queries as D

    D.q_simhash_neardup(spark, SF_DIR).count()
    before = _n_persistent(spark)
    D.q_simhash_neardup(spark, SF_DIR).count()
    assert _n_persistent(spark) <= before


def test_shingle_cache_evicts_on_corpus_switch(spark):
    from ner4cti_spark import dataprep_queries as D

    D._doc_shingle_arrays(spark, SF_DIR).count()
    base = _n_persistent(spark)
    # switching corpora unpersists the old entry: count stays flat
    D._doc_shingle_arrays(spark, SF_DIR_01).count()
    assert _n_persistent(spark) <= base
    # switch back — still flat
    D._doc_shingle_arrays(spark, SF_DIR).count()
    assert _n_persistent(spark) <= base


def test_embedding_ivf_unpersists_fit_cache(spark):
    """The Lloyd fit and the search read one persisted vector scan,
    kept per corpus (corpus_cached) rather than released after the
    fit — repeated embedding_ivf calls reuse it and keep the
    persistent-RDD count flat."""
    from ner4cti_spark import dataprep_queries as D

    D.q_embedding_ivf(spark, SF_DIR).count()
    before = _n_persistent(spark)
    D.q_embedding_ivf(spark, SF_DIR).count()
    assert _n_persistent(spark) <= before



def _persistent_ids(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _build(name, spark, sf_dir):
    """Call one corpus_cached builder and materialize what it persists."""
    from ner4cti_spark import dataprep_queries as D

    if name == "cti":
        import __spark_entry__ as entry

        value = entry._pipeline_out(spark)
        value["sentences"].count()
        return value
    builder = {"shingles": D._doc_shingle_arrays, "simhash": D._simhash_sigs,
               "ivf": D._ivf_embeddings}[name]
    value = builder(spark, sf_dir)
    value.count()
    return value


def _frames(value) -> list:
    return list(value.values()) if isinstance(value, dict) else [value]


def _is_persisted(value) -> bool:
    level = (value["sentences"] if isinstance(value, dict) else value).storageLevel
    return level.useMemory or level.useDisk


@pytest.mark.parametrize("name", ["shingles", "simhash", "ivf", "cti"])
def test_corpus_cached_builder_hits_switches_and_rebuilds_per_app(spark, monkeypatch, name):
    """Every corpus_cached builder: a repeat call returns the same object
    and persists nothing new; a corpus switch unpersists the old entry,
    keeping the persistent-RDD count flat (the pipeline is keyed by app
    alone, so it has no corpus switch); a changed Spark app id rebuilds
    and leaves the old entry persisted."""
    value = _build(name, spark, SF_DIR_01)
    ids = _persistent_ids(spark)
    assert _build(name, spark, SF_DIR_01) is value
    assert _persistent_ids(spark) <= ids
    if name != "cti":
        old, value = value, _build(name, spark, SF_DIR)
        assert len(_persistent_ids(spark)) <= len(ids)
        assert not _is_persisted(old)
        assert _build(name, spark, SF_DIR) is value
        ids = _persistent_ids(spark)

    monkeypatch.setattr(type(spark.sparkContext), "applicationId",
                        property(lambda self: "another-app"))
    other = None
    try:
        other = _build(name, spark, SF_DIR_01)
        assert other is not value
        assert _is_persisted(value)
        assert len(_persistent_ids(spark)) > len(ids)
    finally:
        # the cache has dropped the old entry without unpersisting it,
        # and the new one belongs to no live app id: free both here
        for df in _frames(value) + (_frames(other) if other is not None else []):
            df.unpersist(blocking=True)
