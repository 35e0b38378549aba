"""Multimodal plumbing + Structured Streaming tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ner4cti_spark.operators import multimodal as mm
from ner4cti_spark import streaming as st


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


def test_resize_and_frame_plans(spark):
    media = mm.synthesize_media(spark, n=60).cache()
    plan = mm.resize_plan(media, max_side=128).collect()
    assert plan
    for r in plan:
        assert max(r["target_width"], r["target_height"]) <= 128
        assert r["target_width"] <= r["width"] and r["target_height"] <= r["height"]
    frames = mm.frame_sample_plan(media, every_n=2)
    per_vid = frames.groupBy("media_id").count()
    assert per_vid.filter("count > 1").count() > 0


def test_streaming_mentions_match_batch(spark, tmp_path):
    from ner4cti_spark.corpus import generate_corpus
    from ner4cti_spark.operators.sentencize import sentencize, with_sha256
    from ner4cti_spark.pipeline import PipelineConfig, broadcast_weights
    from ner4cti_spark.tagging import flatten_mentions, tag_sentences

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    corpus = generate_corpus(spark, n_docs=40)
    corpus.write.parquet(src)

    bc = broadcast_weights(spark, PipelineConfig())
    st.stream_corpus_mentions(spark, src, out, ckpt, bc)
    streamed = spark.read.parquet(out).select("sha256", "sent_id", "surface", "etype")
    batch = flatten_mentions(tag_sentences(sentencize(with_sha256(corpus)), bc)).select(
        "sha256", "sent_id", "surface", "etype"
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0

    # restart with same checkpoint: no new input → no duplicates
    st.stream_corpus_mentions(spark, src, out, ckpt, bc)
    assert spark.read.parquet(out).count() == streamed.count()


def test_streaming_sink_writes_bounded_files_per_batch(spark, tmp_path):
    """A micro-batch whose backlog reads as more tasks than the default
    parallelism writes at most default-parallelism mention files."""
    from ner4cti_spark.corpus import generate_corpus
    from ner4cti_spark.pipeline import PipelineConfig, broadcast_weights

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    generate_corpus(spark, n_docs=40).repartition(32).write.parquet(src)
    bound = spark.sparkContext.defaultParallelism
    # one read task per small file (the default packs them into about
    # `bound` tasks)
    spark.conf.set("spark.sql.files.minPartitionNum", "32")
    try:
        assert spark.read.parquet(src).rdd.getNumPartitions() > bound
        bc = broadcast_weights(spark, PipelineConfig())
        st.stream_corpus_mentions(spark, src, out, str(tmp_path / "ckpt"), bc)
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")
    files = [f for f in os.listdir(out) if f.startswith("part-")]
    assert 1 <= len(files) <= bound, files
    assert spark.read.parquet(out).count() > 0


def test_windowed_event_counts_batch_semantics(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    agg = st.windowed_event_counts(ev).cache()
    # windows tile event time: totals preserved
    assert agg.agg(F.sum("n")).collect()[0][0] == ev.count()
    # every start aligned to 10-minute boundaries
    misaligned = agg.filter((F.minute("window_start") % 10 != 0) | (F.second("window_start") != 0))
    assert misaligned.count() == 0


def test_stateful_user_totals_across_microbatches(spark, tmp_path):
    """applyInPandasWithState carries state across micro-batches and the
    final per-user totals equal the batch aggregation."""
    src = str(tmp_path / "ev_src")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # two files → two micro-batches with maxFilesPerTrigger=1
    ev.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    got = st.stateful_user_totals(spark, src, str(tmp_path / "ckpt2"), "ut_test")
    expected = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    diff1 = got.exceptAll(expected).count()
    diff2 = expected.exceptAll(got).count()
    assert diff1 == 0 and diff2 == 0
