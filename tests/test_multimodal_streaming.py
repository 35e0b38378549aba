"""Multimodal feature and event-time window query tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ner4cti_spark.entry_queries import q_windowed_event_counts
from ner4cti_spark.operators import multimodal as mm


def test_media_synthesis_and_features(spark):
    media = mm.synthesize_media(spark, n=60).cache()
    assert media.count() == 60
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}
    feats = mm.extract_features(media).cache()
    row = feats.filter("media_id = 5").collect()[0]
    assert len(row["features"]) == mm.FEATURE_DIM
    # deterministic across runs
    again = mm.extract_features(mm.synthesize_media(spark, n=60)).filter("media_id = 5").collect()[0]
    assert row["features"] == again["features"]
    assert row["n_bytes"] == again["n_bytes"]


def test_real_decode_is_explicit_stub(spark):
    media = mm.synthesize_media(spark, n=4)
    with pytest.raises(Exception) as ei:
        mm.extract_features(media, decode="real").collect()
    assert "NotImplementedError" in str(ei.value) or "real codec path" in str(ei.value)


def test_windowed_event_counts_batch_semantics(spark):
    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet")
    agg = q_windowed_event_counts(spark, sf).cache()
    # windows tile event time: totals preserved
    assert agg.agg(F.sum("n")).collect()[0][0] == ev.count()
    # every start aligned to 10-minute boundaries
    start = F.to_timestamp("window_start")
    misaligned = agg.filter((F.minute(start) % 10 != 0) | (F.second(start) != 0))
    assert misaligned.count() == 0
