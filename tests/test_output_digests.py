"""Recorded output digests: "same behaviour" of the pipeline as a test.

`run_pipeline` runs over the benchmark's seeded inputs (`perfbench/gen.py`,
imported read-only: the generator is frozen, so a seed always gives the
same corpus) for both profiles at seed 1, in memory and checkpointed.
Each run's mention rows and triples are reduced to a row count and the
sha256 of their sorted rows, and both modes must match the one record in
`output_digests.json`:

- mentions: every `tagging.MENTION_SCHEMA` column, `score` rounded to 4
  places (a float is compared rounded, never raw);
- triples: the distinct (subj, pred, obj) rows.

Policy: a change that alters an output on purpose updates
`output_digests.json` and names the change in CHANGES.md. A mismatch
message carries the observed count and sha256 for that update.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
from pathlib import Path

import pytest

from ner4cti_spark.pipeline import PipelineConfig, run_pipeline

REPO = Path(__file__).resolve().parents[1]
FIXTURE = Path(__file__).with_name("output_digests.json")
SEED = 1
# (docs, repos) of the benchmark's workload over each profile
SIZES = {"templated": (1000, 40), "prose": (600, 24)}


def load_gen():
    spec = importlib.util.spec_from_file_location("perfbench_gen", REPO / "perfbench" / "gen.py")
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    return gen


def digest(rows: list[list]) -> dict:
    lines = sorted(json.dumps(r) for r in rows)
    return {"rows": len(lines), "sha256": hashlib.sha256("\n".join(lines).encode()).hexdigest()}


def output_digests(out) -> dict:
    """A run's outputs → {"mentions": digest, "triples": digest}."""
    mentions = out["mentions"]
    score = mentions.columns.index("score")
    rows = [list(r) for r in mentions.collect()]
    for r in rows:
        r[score] = round(r[score], 4)
    triples = out["triples"].select("subj", "pred", "obj").distinct().collect()
    return {"mentions": digest(rows), "triples": digest([list(r) for r in triples])}


def check(got: dict, want: dict, where: str) -> None:
    for table in ("mentions", "triples"):
        g, w = got[table], want[table]
        assert g["rows"] > 0, f"{where}: {table} is empty (recorded {w['rows']} rows)"
        assert g == w, (f"{where}: {table} has {g['rows']} rows, recorded {w['rows']}; "
                        f"sha256 {g['sha256']}, recorded {w['sha256']}")


@pytest.mark.parametrize("profile", list(SIZES))
def test_outputs_match_the_recorded_digests(spark, tmp_path, profile):
    want = json.loads(FIXTURE.read_text())[profile]
    docs, repos = SIZES[profile]
    load_gen().write_inputs(str(tmp_path / "input"), profile, SEED, docs, repos)
    corpus = spark.read.parquet(str(tmp_path / "input" / "corpus.parquet"))
    cfg = PipelineConfig()
    for mode, out_dir in (("in memory", None), ("checkpointed", str(tmp_path / "kg"))):
        out = run_pipeline(spark, corpus, cfg, out_dir=out_dir)
        got = output_digests(out)
        for df in out.values():
            df.unpersist()
        check(got, want, f"{profile} seed {SEED}, {mode}")
