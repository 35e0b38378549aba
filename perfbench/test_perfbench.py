"""Fast checks of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q
"""

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402


def _inputs(out_dir: Path, profile: str, seed: int) -> dict[str, bytes]:
    gen.write_inputs(str(out_dir), profile, seed, n_docs=40, n_repos=6)
    return {p.name: p.read_bytes() for p in sorted(out_dir.iterdir())}


@pytest.mark.parametrize("profile", ["templated", "prose"])
def test_generator_is_byte_deterministic_per_seed(tmp_path, profile):
    a = _inputs(tmp_path / "a", profile, 7)
    b = _inputs(tmp_path / "b", profile, 7)
    c = _inputs(tmp_path / "c", profile, 8)
    assert set(a) == {"corpus.parquet", "gold.parquet", "stats.json"}
    assert a == b
    assert a["corpus.parquet"] != c["corpus.parquet"]


@pytest.mark.parametrize("profile", ["templated", "prose"])
def test_gold_mentions_sit_in_their_lines(profile):
    rows, gold = gen.generate(profile, 3, 30, 5)
    lines = {(r["path"], i): ln for r in rows for i, ln in enumerate(r["content"].split("\n"))}
    assert gold
    for path, sent_id, surface, _etype in gold:
        assert f" {surface} " in f" {lines[path, sent_id]} "


def test_prose_lines_are_all_distinct():
    rows, _ = gen.generate("prose", 5, 60, 5)
    lines = [ln for r in rows for ln in r["content"].split("\n")]
    assert len(set(lines)) == len(lines)


def test_triple_digest_is_order_insensitive():
    t = [("doc@a", "mentions", "APT28"), ("APT28", "has_type", "threat-actor"),
         ("Sofacy", "same_as", "APT28")]
    d = measure.triple_digest(t)
    assert d == measure.triple_digest(list(reversed(t)))
    assert d == measure.triple_digest(t + t[:1])  # a set: duplicates do not count
    assert d != measure.triple_digest(t[:2])
    assert d != measure.triple_digest([("doc@a", "mentions", "APT29"), *t[1:]])


def test_span_prf():
    gold = {("p", 0, "APT28", "threat-actor"), ("p", 1, "Emotet", "malware")}
    assert measure.span_prf(set(gold), gold) == (1.0, 1.0, 1.0)
    p, r, f1 = measure.span_prf({("p", 0, "APT28", "threat-actor"), ("p", 2, "x", "tool")}, gold)
    assert (p, r, f1) == (0.5, 0.5, 0.5)


def test_tracer_self_time_subtracts_children():
    tr = measure.Tracer("t")
    with tr.span("root") as root:
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    own = tr.self_times()
    children = tr.duration("a") + tr.duration("b")
    assert own[root["id"]] == pytest.approx(tr.duration("root") - children)
    assert [s["parent"] for s in tr.spans] == [None, root["id"], root["id"]]


def test_stage_metrics_attributes_tasks_to_job_labels(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "tagging"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 1500, "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 9000}},
    ]
    log = tmp_path / "eventlog_v2_local-1" / "events_1_local-1"
    log.parent.mkdir()
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    assert measure.stage_metrics(str(tmp_path)) == {
        "tagging": {"shuffle_write_bytes": 100, "spill_bytes": 7, "task_s": 1.5, "jobs": 1}}


def test_metric_names_units_and_workloads_match_benchmark_json():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    metrics = bench["end_to_end"] + bench["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name) and len(name) <= 64, name
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
