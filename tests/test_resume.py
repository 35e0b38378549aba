"""Lineage + idempotent resume (north_rule; FIXTURES.md §7)."""

from __future__ import annotations

import os
import shutil
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ner4cti_spark import lineage
from ner4cti_spark.corpus import generate_corpus
from ner4cti_spark.pipeline import PipelineConfig, run_pipeline


def _triple_hash(spark, out_dir):
    df = spark.read.parquet(f"{out_dir}/triples")
    return (
        df.select(F.sha2(F.concat_ws("|", "subj", "pred", "obj"), 256).alias("h"))
        .agg(F.expr("bit_xor(cast(conv(substring(h,1,15),16,10) as bigint))").alias("x"))
        .collect()[0]["x"],
        df.select("subj", "pred", "obj").distinct().count(),
    )


def mention_files(out_dir) -> dict[str, set[str]]:
    """`bucket=` directory → its file names, of the mentions checkpoint."""
    base = f"{out_dir}/mentions"
    return {d: set(os.listdir(f"{base}/{d}")) for d in os.listdir(base)
            if d.startswith("bucket=")}


def test_resume_is_idempotent(spark, tmp_path):
    out_dir = str(tmp_path / "kg")
    # 24 repos: more tag buckets than victims below, so some survive
    corpus = generate_corpus(spark, n_docs=60, n_repos=24).cache()
    cfg = PipelineConfig()

    run_pipeline(spark, corpus, cfg, out_dir=out_dir)
    h1, n1 = _triple_hash(spark, out_dir)
    lin1 = spark.read.parquet(f"{out_dir}/_lineage")
    assert lin1.count() > 0
    assert set(lin1.columns) >= {
        "stage", "partition_key", "repo_min", "repo_max", "commit_min", "commit_max",
        "row_count", "content_sha256_xor", "completed_at",
    }

    # rerun on completed output → everything skipped, nothing duplicated
    files1 = mention_files(out_dir)
    run_pipeline(spark, corpus, cfg, out_dir=out_dir)
    h2, n2 = _triple_hash(spark, out_dir)
    assert (h1, n1) == (h2, n2)
    assert mention_files(out_dir) == files1

    # destroy part of the TAG checkpoint + its lineage rows → rerun must
    # reprocess exactly those buckets and reproduce identical triples
    lin = lineage.read_manifest(out_dir)
    victims = sorted(set(lin.loc[lin["stage"] == "tag", "partition_key"]))[:8]
    for pk in victims:
        shutil.rmtree(f"{out_dir}/mentions/bucket={pk}", ignore_errors=True)
    lineage.commit(out_dir, lin[~((lin["stage"] == "tag") & lin["partition_key"].isin(victims))])
    survivors = {d: f for d, f in files1.items() if d[len("bucket="):] not in victims}
    assert survivors

    run_pipeline(spark, corpus, cfg, out_dir=out_dir)
    h3, n3 = _triple_hash(spark, out_dir)
    assert (h1, n1) == (h3, n3), "resume did not reproduce identical triples"
    # the resume rewrote no surviving bucket
    files3 = mention_files(out_dir)
    assert {d: files3.get(d) for d in survivors} == survivors
    # and the rebuilt lineage again covers the victim buckets
    lin3 = spark.read.parquet(f"{out_dir}/_lineage").filter("stage='tag'")
    have = {r["partition_key"] for r in lin3.select("partition_key").collect()}
    assert set(victims) <= have


def test_lineage_digest_matches_python_recomputation(spark, tmp_path):
    """content_sha256_xor = xor of DISTINCT leading-60-bit sha256 values
    per bucket, and the repo/commit ranges skip null commits (a same_as
    triple has none) — verified against a driver-side recomputation."""
    from pyspark.sql import functions as F

    from ner4cti_spark.corpus import generate_corpus
    from ner4cti_spark.lineage import lineage_rows, with_bucket
    from ner4cti_spark.operators.sentencize import sentencize, with_sha256

    base = with_bucket(sentencize(with_sha256(generate_corpus(spark, n_docs=30))))
    sents = base.unionByName(
        base.limit(3).withColumn("commit", F.lit(None).cast("string"))).cache()
    lin = {r["partition_key"]: r for r in lineage_rows(sents, "tag").collect()}
    rows = sents.select("bucket", "repo", "commit", "sha256").collect()
    sents.unpersist()
    assert any(r["commit"] is None for r in rows)
    by_bucket: dict[int, set] = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], set()).add(r["sha256"])
    for b, hashes in by_bucket.items():
        x = 0
        for h in hashes:
            x ^= int(h[:15], 16)
        assert lin[str(b)]["content_sha256_xor"] == f"{x:015x}", b
        assert lin[str(b)]["row_count"] == sum(1 for r in rows if r["bucket"] == b)
        repos = [r["repo"] for r in rows if r["bucket"] == b]
        commits = [r["commit"] for r in rows if r["bucket"] == b and r["commit"] is not None]
        assert (lin[str(b)]["repo_min"], lin[str(b)]["repo_max"]) == (min(repos), max(repos))
        assert (lin[str(b)]["commit_min"], lin[str(b)]["commit_max"]) == (min(commits),
                                                                          max(commits))


# ---------------- crash injection at each commit point ----------------


class Crash(Exception):
    pass


def crash_on_call(owner, name: str, call: int, after: bool):
    """Patch owner.name so that its `call`-th call raises Crash, before
    running (after=False) or after running (after=True)."""
    real = getattr(owner, name)
    calls = 0

    def fake(*args, **kwargs):
        nonlocal calls
        calls += 1
        if calls != call:
            return real(*args, **kwargs)
        if after:
            real(*args, **kwargs)
        raise Crash(f"{name} call {call}")

    return mock.patch.object(owner, name, fake)


def spo(df) -> set[tuple]:
    return {tuple(r) for r in df.select("subj", "pred", "obj").collect()}


def first_half(df):
    return (lineage.with_bucket(df)
            .filter(F.col("bucket") < lineage.N_BUCKETS // 2).drop("bucket"))


@pytest.fixture(scope="module")
def half_done(spark, tmp_path_factory):
    """(corpus, cfg, its in-memory triple set, a checkpoint directory
    holding a completed run over the first half of its repo buckets)."""
    corpus = generate_corpus(spark, n_docs=60, n_repos=24).cache()
    cfg = PipelineConfig()
    out = run_pipeline(spark, corpus, cfg)
    want = spo(out["triples"])
    for df in out.values():
        df.unpersist()
    base = str(tmp_path_factory.mktemp("half") / "kg")
    run_pipeline(spark, first_half(corpus), cfg, out_dir=base)
    yield corpus, cfg, want, base
    corpus.unpersist()


# each case: the run over the whole corpus crashes at one commit point of
# write_checkpoint (call 1 is the tag stage's, call 2 the materialize's)
CRASH_POINTS = {
    "after_bucket_clear": (lineage, "_clear", 1, True),
    "after_data_write": (lineage, "commit", 1, False),
    "inside_commit_before_replace": (lineage.os, "replace", 1, False),
    "at_materialize_commit": (lineage, "commit", 2, False),
}


@pytest.mark.parametrize("point", list(CRASH_POINTS))
def test_resume_after_crash_at_each_commit_point(spark, half_done, tmp_path, point):
    corpus, cfg, want, base = half_done
    out_dir = str(tmp_path / "kg")
    shutil.copytree(base, out_dir)
    with crash_on_call(*CRASH_POINTS[point]), pytest.raises(Crash):
        run_pipeline(spark, corpus, cfg, out_dir=out_dir)
    if point == "inside_commit_before_replace":
        assert os.path.exists(f"{out_dir}/_lineage/.manifest.parquet.tmp")
    lin = lineage.read_manifest(out_dir)
    complete = {f"bucket={k}" for k in lin.loc[lin["stage"] == "tag", "partition_key"]}
    before = {d: f for d, f in mention_files(out_dir).items() if d in complete}
    assert complete and set(before) == complete

    out = run_pipeline(spark, corpus, cfg, out_dir=out_dir)
    assert spo(out["triples"]) == want
    after = mention_files(out_dir)
    assert {d: after.get(d) for d in before} == before, "a complete bucket was re-tagged"
    # the manifest reads back and records exactly the table's buckets
    lin = lineage.read_manifest(out_dir)
    assert {f"bucket={k}" for k in lin.loc[lin["stage"] == "tag", "partition_key"]} == set(after)
    assert (lin["stage"] == "materialize").any()
    assert not lin.duplicated(["stage", "partition_key"]).any()
    assert spark.read.parquet(f"{out_dir}/{lineage.MANIFEST}").count() == len(lin)


def test_unrecorded_bucket_files_never_reach_the_triples(spark, half_done, tmp_path):
    """A crashed attempt's partial file in a bucket the manifest does not
    record, outside the next run's input, is removed, not read."""
    corpus, cfg, _, base = half_done
    out_dir = str(tmp_path / "kg")
    shutil.copytree(base, out_dir)
    want = spo(spark.read.parquet(f"{out_dir}/triples"))
    recorded = sorted(mention_files(out_dir))
    sample = next(f for f in os.listdir(f"{out_dir}/mentions/{recorded[0]}")
                  if f.endswith(".parquet"))
    part = pq.read_table(f"{out_dir}/mentions/{recorded[0]}/{sample}")
    part = part.set_column(part.schema.get_field_index("surface"), "surface", pa.array(
        [["Orphan" + s for s in surfaces] for surfaces in part["surface"].to_pylist()]))
    orphan = f"{out_dir}/mentions/bucket={lineage.N_BUCKETS - 1}"
    assert not os.path.exists(orphan)  # unrecorded and outside the first half
    os.makedirs(orphan)
    pq.write_table(part, f"{orphan}/part-crashed.parquet")

    out = run_pipeline(spark, first_half(corpus), cfg, out_dir=out_dir)
    assert spo(out["triples"]) == want
    assert not os.path.exists(orphan)


def test_lineage_small_frames_plan_as_local_scans(spark, half_done, tmp_path):
    """`completed_buckets` and `read_checkpoint`'s empty frame are built
    on the JVM from Arrow tables: their executed plans hold no
    ExistingRDD, a scan of Python rows whose every action runs Python
    tasks. They still give the recorded buckets and the typed empty
    frame."""
    from pyspark.sql.types import StructType

    from ner4cti_spark.tagging import SENTENCE_SCHEMA

    base = half_done[3]
    fresh = str(tmp_path / "fresh")
    lin = lineage.read_manifest(base)
    recorded = {int(k) for k in lin.loc[lin["stage"] == "tag", "partition_key"]}
    done = lineage.completed_buckets(spark, base, "tag")
    none = lineage.completed_buckets(spark, fresh, "tag")
    empty = lineage.read_checkpoint(spark, fresh, "mentions", SENTENCE_SCHEMA)
    assert recorded and {r["bucket"] for r in done.collect()} == recorded
    assert none.count() == 0 and none.schema == StructType.fromDDL("bucket int")
    assert empty.count() == 0 and empty.schema == StructType.fromDDL(SENTENCE_SCHEMA)
    for df in (done, none, empty):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan


def test_resume_refuses_a_flat_mention_checkpoint(spark, tmp_path):
    """A tag checkpoint of flat mention rows (the layout before the
    checkpoint held sentence rows) has the same column names and other
    types. A resume over it raises ValueError before any Spark job runs
    (so before any tagging), and leaves every bucket and the manifest as
    they were."""
    from ner4cti_spark.pipeline import extract_mentions

    out_dir = str(tmp_path / "kg")
    corpus = generate_corpus(spark, n_docs=30, n_repos=12).cache()
    cfg = PipelineConfig()
    lineage.write_checkpoint(spark, extract_mentions(spark, first_half(corpus), cfg),
                             out_dir, table="mentions", stage="tag")
    files, manifest = mention_files(out_dir), lineage.read_manifest(out_dir)
    assert files
    sc = spark.sparkContext
    sc.setJobGroup("flat-resume", "resume over a flat checkpoint")
    try:
        with pytest.raises(ValueError, match="fresh out_dir") as err:
            run_pipeline(spark, corpus, cfg, out_dir=out_dir)
        jobs = sc.statusTracker().getJobIdsForGroup("flat-resume")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        corpus.unpersist()
    assert os.path.join(out_dir, "mentions") in str(err.value)
    assert jobs == []
    assert mention_files(out_dir) == files
    assert lineage.read_manifest(out_dir).equals(manifest)
