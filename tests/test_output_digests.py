"""Recorded output digests: "same behaviour" of the pipeline as a test.

Two targets, each reduced to a row count and the sha256 of its sorted
rows, compared with the record in `output_digests.json`:

1. The driver contract's four `cti_*` registry entries (`cti_mentions`,
   `cti_entities`, `cti_triples`, `cti_entity_pagerank`), run through
   `queries()` on the entry's 150-doc synthetic corpus.
2. `run_pipeline` over the benchmark's seeded inputs (`perfbench/gen.py`,
   imported read-only: the generator is frozen, so a seed always gives
   the same corpus) for both profiles at seeds 1 and 7, in memory and
   checkpointed; both modes must match the one record per profile and
   seed. Its mentions are every `tagging.MENTION_SCHEMA` column, its
   triples the distinct (subj, pred, obj) rows.

A float column (`score`, PageRank `rank`) is hashed rounded to
`FLOAT_PLACES`, never raw.

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
SEEDS = (1, 7)
# (docs, repos) of the benchmark's workload over each profile
SIZES = {"templated": (1000, 40), "prose": (600, 24)}
FLOAT_PLACES = {"score": 4, "rank": 6}


def load_gen():
    spec = importlib.util.spec_from_file_location("perfbench_gen", REPO / "perfbench" / "gen.py")
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    return gen


def digest(rows: list[list]) -> dict:
    lines = sorted(json.dumps(r) for r in rows)
    return {"rows": len(lines), "sha256": hashlib.sha256("\n".join(lines).encode()).hexdigest()}


def table_digest(df) -> dict:
    """Every row of `df`, its float columns rounded → digest."""
    rounded = [(i, FLOAT_PLACES[c]) for i, c in enumerate(df.columns) if c in FLOAT_PLACES]
    rows = [list(r) for r in df.collect()]
    for r in rows:
        for i, places in rounded:
            r[i] = round(r[i], places)
    return digest(rows)


def output_digests(out) -> dict:
    """A run's outputs → {"mentions": digest, "triples": digest}."""
    return {"mentions": table_digest(out["mentions"]),
            "triples": table_digest(out["triples"].select("subj", "pred", "obj").distinct())}


def check(got: dict, want: dict, where: str) -> None:
    for table in want:
        g, w = got[table], want[table]
        assert g["rows"] > 0, f"{where}: {table} is empty (recorded {w['rows']} rows)"
        assert g == w, (f"{where}: {table} has {g['rows']} rows, recorded {w['rows']}; "
                        f"sha256 {g['sha256']}, recorded {w['sha256']}")


def test_registry_cti_entries_match_the_recorded_digests(spark):
    import __spark_entry__ as entry

    want = json.loads(FIXTURE.read_text())["registry"]
    queries = entry.queries()
    check({name: table_digest(queries[name](spark, "")) for name in want}, want,
          "registry, 150-doc corpus")


@pytest.mark.parametrize("profile", list(SIZES))
def test_outputs_match_the_recorded_digests(spark, tmp_path, profile):
    recorded = json.loads(FIXTURE.read_text())["run_pipeline"][profile]
    docs, repos = SIZES[profile]
    cfg = PipelineConfig()
    for seed in SEEDS:
        want = recorded[str(seed)]
        inputs = tmp_path / f"input{seed}"
        load_gen().write_inputs(str(inputs), profile, seed, docs, repos)
        corpus = spark.read.parquet(str(inputs / "corpus.parquet"))
        for mode, out_dir in (("in memory", None), ("checkpointed", str(tmp_path / f"kg{seed}"))):
            out = run_pipeline(spark, corpus, cfg, out_dir=out_dir)
            got = output_digests(out)
            for df in out.values():
                df.unpersist()
            check(got, want, f"{profile} seed {seed}, {mode}")
